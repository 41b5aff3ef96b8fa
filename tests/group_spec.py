"""Per-group spec check for the grouped Arrow kernels: a Spark result must
equal its numpy kernel run locally on each key's rows sorted by order."""

from __future__ import annotations

import numpy as np


def assert_matches_group_spec(pdf, rows, cols, spec, nan_is_null, key="symbol", order="t"):
    """``rows`` (collected Spark rows) must equal ``spec(g)`` bit-for-bit
    for every key's rows ``g`` of the source frame ``pdf``, stably sorted
    by ``order``. ``spec`` returns one array per name in ``cols``. Where
    the spec yields NaN, Spark must hold NULL when ``nan_is_null`` and NaN
    otherwise; object arrays (strings) compare element-wise."""
    got = {(r[key], r[order]): r for r in rows}
    assert len(got) == len(rows) == len(pdf)
    for k, g in pdf.groupby(key, sort=False):
        g = g.sort_values(order, kind="mergesort")
        want = spec(g)
        for c in cols:
            exp = np.asarray(want[c])
            act = [got[(k, t)][c] for t in g[order]]
            if exp.dtype == object:
                assert act == list(exp), (k, c)
                continue
            nulls = np.array([a is None for a in act])
            if nan_is_null:
                np.testing.assert_array_equal(nulls, np.isnan(exp), err_msg=f"{k}.{c} nulls")
            else:
                assert not nulls.any(), (k, c)
            act_f = np.array([np.nan if a is None else a for a in act], dtype=exp.dtype)
            np.testing.assert_array_equal(act_f, exp, err_msg=f"{k}.{c}")
