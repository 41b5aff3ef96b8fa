"""Arrow group-table helpers shared by every ``applyInArrow`` kernel site
(the recurrence runner, the backtest and margin folds, the segmented
passes).

A group arrives as a ``pyarrow.Table`` wrapping the transferred batches.
Only the kernel inputs are extracted to numpy; passthrough columns are
never materialized in Python.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc


def sort_rows(tbl: pa.Table, keys: list[str]) -> pa.Table:
    """The group's rows in ascending ``keys`` order. The sort is stable, so
    duplicate keys keep arrival order: deterministic per plan, not across
    shuffles (bar data has unique (symbol, t))."""
    return tbl.take(pc.sort_indices(tbl, sort_keys=[(k, "ascending") for k in keys]))


def f64(tbl: pa.Table, name: str) -> np.ndarray:
    """A column as a float64 array, null → NaN."""
    return pc.cast(tbl.column(name), pa.float64()).combine_chunks().to_numpy(zero_copy_only=False)


def flags(tbl: pa.Table, name: str) -> np.ndarray:
    """A signal column as a bool array, null → False."""
    return (
        pc.fill_null(tbl.column(name), False)
        .combine_chunks()
        .to_numpy(zero_copy_only=False)
        .astype("bool", copy=False)
    )
