"""Segmented exponential scans — the huge-single-symbol escape hatch.

``with_recurrences`` (operators/recurrence.py) runs one Arrow group per
symbol; a symbol with billions of bars therefore becomes one
executor-memory-sized group (the documented r1 limitation, recurrence.py
module doc). The operators here remove that bound while staying
*bit-identical* to the single-group kernels:

* rows are split into ``segment_rows``-sized per-symbol segments
  (row_number over the symbol window — the same exchange the indicator
  pipeline already pays);
* segments run as **sequential Spark passes** (``_segmented_passes``, the
  one pass driver): pass k processes every symbol's k-th segment in
  parallel (applyInArrow over symbols), and the carried state — a few
  doubles per symbol, one ``array<double>`` on one marker row — is
  UNIONED into pass k+1's input, where it sorts first in the symbol's
  group: it rides the exchange the next pass's groupBy pays anyway, with
  no join. The carry never round-trips through the driver (a
  ``collect()`` of one marker row per symbol per segment would be a
  10⁶-row driver funnel at 10⁶ symbols); the whole chain is one lazy
  DAG, executor-side at any symbol count, null keys included;
* each operator supplies only its numpy scan: segment 0 runs the kernel's
  own seeding, continuation segments resume from the carried state with
  the kernel's own per-step function (``recurrence._ewm_chain``,
  ``_kama_tail``, ``_sar_scan``). Every EMA/Wilder operator (EMA, RMA,
  RSI, ATR, DMI/ADX, DEMA, TEMA, T3) is one ``_fused_ewma_sweep``, and so
  is every integer-lattice one (the quantized EMA, and the quantized MACD
  and MACDEXT EMA legs).

Exactness argument: an exponential scan is a strict left fold; cutting the
fold and resuming from the carried accumulator replays identical float ops
in identical order, so output equals the unsegmented scan bit-for-bit
(asserted in tests/test_segmented.py). Executor memory is bounded by one
segment instead of one symbol; wall-clock is n_segments sequential jobs,
each parallel across symbols — the right trade exactly when single symbols
are huge.

Constraints: ``segment_rows`` must cover the operator's warm-up (the
sweep's largest ``p`` for the EMA/Wilder family and the quantized
EMA/MACD operators, ``p + 1`` for KAMA, 2 for SAR); an int is rejected
before any Spark job. The sweep, lattice chains included, skips NaN/null
inputs the way the kernels' ``_compact_apply`` does; the KAMA, SAR and
backtest scans need null-free input (a null inside a continuation would
shift the fold).

Cache hygiene: every operator here pins its continuation pieces
(DISK_ONLY persist / localCheckpoint) because they feed the returned lazy
frame; the pins live for the session unless the caller consumes the
result inside ``session.released(spark)`` (ADVICE r10).
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column, DataFrame, Window
from pyspark.storagelevel import StorageLevel
from pyspark.sql import functions as F
from pyspark.sql.types import ArrayType, DoubleType, LongType, StructField, StructType

from polars_quant_spark.operators.arrow_group import f64, flags, sort_rows
from polars_quant_spark.operators.recurrence import (
    _SarParams,
    _ewm_chain,
    _kama_tail,
    _sar_scan,
    kama,
)

# Truncate the sequential-pass lineage every this-many segments; plan depth
# at any action is bounded by this constant instead of n_segments.
_CHECKPOINT_EVERY_SEGMENTS = 4

#: segment_rows="auto" sizing: ceil(max-rows-per-key / TARGET) with a FLOOR.
#: Wall-clock is n_segments SEQUENTIAL passes, so a fixed segment_rows makes
#: the pass count grow linearly with history length (the census outliers:
#: 512-row demo configs ran 40 passes at sf0.1's 20.3k-bar symbols, VERDICT
#: r11 #6). TARGET=4 bounds the pass count while still crossing ≥3 segment
#: boundaries — and exactly one _CHECKPOINT_EVERY_SEGMENTS boundary — at any
#: SF whose histories exceed the floor, so the driver oracle keeps proving
#: the segmented path, not a degenerate single segment. The FLOOR keeps tiny
#: inputs from paying sequential-pass overhead for toy segments. Memory
#: bound: the caller picking "auto" accepts ~max_rows/4 rows per
#: group — for the memory-bounded regime (billion-row symbols) pass an
#: explicit segment_rows instead.
AUTO_SEGMENT_TARGET = 4
AUTO_SEGMENT_FLOOR = 512


def _check_segment_rows(
    segment_rows: int | str, min_rows: int = 1, min_name: str = "1"
) -> None:
    """Reject a bad ``segment_rows`` before any Spark job: it must be
    ``"auto"`` or an int >= 1 that covers the operator's shortest valid
    segment (``min_rows``, named ``min_name`` in the error)."""
    if segment_rows == "auto":
        return
    if (
        not isinstance(segment_rows, int)
        or isinstance(segment_rows, bool)
        or segment_rows < 1
    ):
        raise ValueError(
            f"segment_rows must be an int >= 1 or 'auto'; got {segment_rows!r}"
        )
    if segment_rows < min_rows:
        raise ValueError(
            f"segment_rows ({segment_rows}) must be >= {min_name} ({min_rows})"
        )


def _segmented_base(
    df: DataFrame,
    partition_by: str,
    order_by: str,
    segment_rows: int | str,
    min_rows: int,
    min_name: str,
):
    """Shared pass-0 scaffolding: the _rn column over the symbol window,
    materialized ONCE behind a lineage cut. Returns (base,
    last_seg, resolved_segment_rows); empty input is one empty pass
    (last_seg = 0).

    ``min_rows`` is the operator's shortest valid segment (``min_name`` in
    the error). An int ``segment_rows`` is checked before any Spark job
    (``_check_segment_rows``): a bad value must not pay the checkpoint +
    max(_rn) action first. ``"auto"`` is checked once resolved: one
    action reads max(_rn) off the checkpointed base (the action the fixed
    path spends on last_seg) and sets segment_rows =
    max(AUTO_SEGMENT_FLOOR, ceil(max_rn / AUTO_SEGMENT_TARGET)); last_seg
    is derived arithmetically either way, so the action count is
    identical to the fixed path.

    base is read n_segments + 2 times (the max(_rn) action, one slice per
    pass, the final join); without materialization every read re-executes
    the full upstream lineage — harmless for a raw scan, MULTIPLICATIVE
    for segmented ops chained on each other's output (pass k of chain c
    re-runs chains 1..c-1). localCheckpoint, not persist: a cache keeps
    the nested plan, and the composed plan text of chained ops OOMs the
    driver in Catalyst's PlanStringConcat — truncating to a leaf bounds
    plan size per chain. DISK_ONLY blocks for the same write-once/read-few
    reason as the piece cache. AQE-less compilation is safe here: base is
    one window over the input, and the passes carry state by union, not
    by join."""
    _check_segment_rows(segment_rows, min_rows, min_name)
    w = Window.partitionBy(partition_by).orderBy(order_by)
    base = df.withColumn("_rn", F.row_number().over(w))
    base = base.localCheckpoint(eager=False, storageLevel=StorageLevel.DISK_ONLY)
    max_rn = base.agg(F.max("_rn")).collect()[0][0] or 0
    if segment_rows == "auto":
        segment_rows = max(AUTO_SEGMENT_FLOOR, -(-max_rn // AUTO_SEGMENT_TARGET))
        _check_segment_rows(segment_rows, min_rows, min_name)
    return base, max(max_rn - 1, 0) // segment_rows, segment_rows


def _cache_piece(res: DataFrame, k: int) -> DataFrame:
    """Shared piece-cache policy. Pass k's plan nests pass k-1's, and
    persist() is lazy, so without a periodic cut the final action analyzes
    O(n_segments)-deep plans — O(n_segments²) total Catalyst work, a
    driver blowup at thousands of segments. A periodic localCheckpoint
    resets plan depth to ≤ the checkpoint interval (the bpe_merges
    pattern, text.py:863); it compiles WITHOUT AQE, which is safe because
    a pass's plan joins nothing: its state arrives by union. Between
    cuts: DISK_ONLY, not the MEMORY_AND_DISK default — each piece is
    written once and read a few times (the marker rows for pass k+1, the
    final union), and ALL pieces stay pinned until that union; at 26
    segments × a 25.6 M-row corpus the on-heap copies thrashed the GC
    (GCLocker retry storms on the 256× replica) where the spill-to-disk
    level streams cleanly."""
    if (k + 1) % _CHECKPOINT_EVERY_SEGMENTS == 0:
        return res.localCheckpoint(eager=False)
    return res.persist(StorageLevel.DISK_ONLY)


def _last_valid(res: np.ndarray) -> float:
    """The last non-NaN value of a kernel output (NaN if none): the carry
    out of a segment the kernel's own seeding scanned."""
    valid = np.flatnonzero(~np.isnan(res))
    return float(res[valid[-1]]) if valid.size else np.nan


def _segmented_passes(
    df: DataFrame,
    partition_by: str,
    order_by: str,
    segment_rows: int | str,
    min_rows: int,
    min_name: str,
    in_cols: list[str],
    outs: list[str],
    scan,
    halo: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """The one sequential-pass driver behind every operator in this module.

    Segments ``df`` with ``_segmented_base`` (``min_rows``/``min_name``:
    the operator's shortest valid segment). Pass k slices every symbol's
    k-th segment — plus, when ``halo`` > 0, the previous segment's last
    ``halo`` rows, flagged by a ``_halo`` column — unions in the state
    rows pass k−1 carried out, and runs ``scan`` once per symbol in one
    ``applyInArrow`` pass:

    ``scan(tbl, seed, halo_n) -> (results, state)``

    * ``tbl``: the symbol's slice sorted by ``_rn`` (halo rows first);
    * ``seed``: None on pass 0, else the list of state floats pass k−1
      emitted;
    * ``results``: one float64 array per ``outs`` column, covering the
      trailing rows the scan emits (halo rows it drops come first);
    * ``state``: the floats for pass k+1 (None: the symbol carries none).

    The state leaves the executors on ONE marker row per symbol as an
    ``array<double>`` ``_st`` column (null on body rows): ``_rn`` = −1
    when the symbol continues — its slice ends on a full segment before
    the last one — and −2 when this is its final state. Pass k+1 unions
    the −1 rows into its input, where each sorts first in its symbol's
    group, so the state rides the group's own exchange and a null key
    keeps its state like any other. A group with no body rows (only halo
    rows: the history ended inside the halo window and was emitted by the
    previous pass; or only a marker: the history ended on the segment
    boundary) writes its seed, if it has one, as the −2 row. So an ended
    symbol's state never reaches a later pass, and every symbol has
    exactly one −2 row. Output floats map NaN → null.

    Returns every row and column of ``df`` plus the ``outs`` columns (the
    pieces left-joined back onto the checkpointed base on (symbol, _rn),
    null-safe on the symbol, so a duplicated (symbol, order) key stays
    one row per input row; no base row has a negative ``_rn``), and the
    −2 rows (symbol, ``_rn``, ``_st``)."""
    base, last_seg, segment_rows = _segmented_base(
        df, partition_by, order_by, segment_rows, min_rows, min_name
    )
    last_cut = last_seg * segment_rows
    dbl, lst = pa.float64(), pa.list_(pa.float64())
    schema = StructType(
        [
            base.schema[partition_by],
            StructField("_rn", LongType()),
            *[StructField(o, DoubleType()) for o in outs],
            StructField("_st", ArrayType(DoubleType())),
        ]
    )

    def run_arrow(tbl: pa.Table) -> pa.Table:
        tbl = sort_rows(tbl, ["_rn"])
        key = tbl.column(partition_by)
        rn = pc.cast(tbl.column("_rn"), pa.int64())
        seed = None
        if rn[0].as_py() == -1:  # the state row pass k−1 carried out
            seed = tbl.column("_st")[0].as_py()
            tbl, rn = tbl.slice(1), rn.slice(1)
        n = tbl.num_rows
        halo_n = int(pc.sum(tbl.column("_halo")).as_py() or 0) if halo else 0

        def table(keys, rns, vals, sts) -> pa.Table:
            cols = {partition_by: keys, "_rn": rns, **dict(zip(outs, vals))}
            return pa.table({**cols, "_st": sts})

        def marker(mark: int, st) -> pa.Table:
            return table(
                key.slice(0, 1), pa.array([mark], pa.int64()),
                [pa.nulls(1, dbl)] * len(outs), pa.array([st], lst),
            )

        if halo_n == n:  # no body rows: the seed, if any, is final
            return marker(-2, seed).slice(0, int(seed is not None))
        results, state = scan(tbl, seed, halo_n)
        start = n - len(results[0])
        body = table(
            tbl.column(partition_by).slice(start), rn.slice(start),
            [pa.array(r, type=dbl, from_pandas=True) for r in results],
            pa.nulls(n - start, lst),
        )
        last = rn[n - 1].as_py()
        goes_on = last % segment_rows == 0 and last <= last_cut
        st = None if state is None else [float(v) for v in state]
        return pa.concat_tables([body, marker(-1 if goes_on else -2, st)])

    pieces: list[DataFrame] = []
    row = F.col("_rn")
    for k in range(last_seg + 1):
        lo = k * segment_rows
        cols = [partition_by, "_rn", *in_cols]
        if halo:
            cols.append((row <= lo).cast("int").alias("_halo"))
        seg = base.where((row > lo - halo) & (row <= lo + segment_rows)).select(*cols)
        if pieces:
            carried = pieces[-1].where(row == -1).select(partition_by, "_rn", "_st")
            seg = seg.unionByName(carried, allowMissingColumns=True)
        res = seg.groupBy(partition_by).applyInArrow(run_arrow, schema=schema)
        pieces.append(_cache_piece(res, k))

    merged = pieces[0]
    for piece in pieces[1:]:
        merged = merged.unionByName(piece)
    right = merged.select(
        F.col(partition_by).alias("_pk"), F.col("_rn").alias("_prn"), *outs
    )
    on = F.col(partition_by).eqNullSafe(F.col("_pk")) & (row == F.col("_prn"))
    keep = [c for c in df.columns if c != partition_by]
    out = base.join(right, on, "left").select(partition_by, *keep, *outs)
    return out, merged.where(row == -2).select(partition_by, "_rn", "_st")


def _fused_ewma_sweep(
    df: DataFrame,
    srcs: list,
    outs: list[str],
    p: int | list[int],
    alpha: float | list[float],
    partition_by: str,
    order_by: str,
    segment_rows: int | str,
    lattice: bool = False,
) -> DataFrame:
    """The one EMA/Wilder scan: len(outs) SMA-seeded exponential chains in
    one segmented sweep (one base checkpoint, one pass per segment, every
    chain run in-process on each segment). Returns ``df`` with the
    ``outs`` columns added. With ``lattice`` every chain is the
    integer-lattice EMA of ``recurrence._ewma_q``: the seed is
    floor(psum/p + 0.5) and the tail is ``_ewma_q_resume``.

    ``srcs[i]`` names chain i's input: a df COLUMN NAME (str), the INDEX
    of an earlier chain whose output feeds it — so ``[x, 0, 1]`` is the
    TEMA chain and ``["_up", "_dn"]`` is RSI's two parallel Wilder RMAs —
    or a CALLABLE of the earlier-output list (row-local derivation, e.g.
    ADX's dx from the three smoothed DM/TR chains). Each chain scans only
    its input's non-NaN entries (null inputs arrive as NaN) and leaves NaN
    elsewhere — the plain kernels' ``_compact_apply``, which also
    re-compacts warm-up NaNs before every chained scan. ``p``/``alpha``
    are scalars (every chain) or per-chain lists — heterogeneous (p, α)
    is what lets Wilder α=1/p chains run next to EMA α=2/(p+1) chains
    (``indicator_family_segmented``).

    Exactness: each chain is ``recurrence._ewm_chain``, which carries
    (seen, psum, e) across segments — the partial SMA sum while the chain
    is inside its warm-up, the ewm accumulator once seeded — and is
    bit-equal to the whole-series kernel wherever the cuts fall. So rows
    whose inputs are NaN can stay in the segmentation, and chains derived
    from other chains reuse the base segmentation."""
    depth = len(outs)
    ps = list(p) if isinstance(p, (list, tuple)) else [int(p)] * depth
    alphas = (
        list(alpha) if isinstance(alpha, (list, tuple)) else [float(alpha)] * depth
    )
    if len(ps) != depth or len(alphas) != depth:
        raise ValueError("per-chain p/alpha lists must match len(outs)")
    in_cols = sorted({s for s in srcs if isinstance(s, str)})

    def scan(tbl, seed, halo_n):
        # resume state per chain: [seen, psum, e]
        st = list(seed) if seed is not None else [0.0, 0.0, np.nan] * depth
        res: list[np.ndarray] = []
        for i, (s, p_i, a_i) in enumerate(zip(srcs, ps, alphas)):
            if isinstance(s, str):
                cur = f64(tbl, s)
            else:
                cur = s(res) if callable(s) else res[s]
            out, st[3 * i : 3 * i + 3] = _ewm_chain(
                st[3 * i : 3 * i + 3], cur, p_i, a_i, lattice
            )
            res.append(out)
        return res, st

    return _segmented_passes(
        df, partition_by, order_by, segment_rows, max(ps), "p",
        in_cols, outs, scan,
    )[0]


def ewma_segmented(
    df: DataFrame,
    x: str,
    p: int,
    alpha: float | None = None,
    out: str = "ema",
    partition_by: str = "symbol",
    order_by: str = "t",
    segment_rows: int | str = 1_000_000,
) -> DataFrame:
    """SMA-seeded exponential scan, bit-equal to
    ``with_recurrences(..., Rec(out, "ema"|"rma", ...))`` — NaN/null
    inputs are skipped as those kernels skip them — but bounded by
    ``segment_rows`` of executor memory per group instead of the whole
    symbol. α defaults to 2/(p+1); pass 1/p for Wilder RMA."""
    return _fused_ewma_sweep(
        df, [x], [out], p, 2.0 / (p + 1) if alpha is None else alpha,
        partition_by, order_by, segment_rows,
    )


# ---------------------------------------------------------------------------
# Row-local SQL shared by the per-op and fused Wilder/T3 operators: the
# exact float order (and NULL masks) of the plain kernels
# ---------------------------------------------------------------------------


def _true_range(high: str, low: str, close: str, w) -> Column:
    """GREATEST of h−l, |h−prev_c|, |l−prev_c| (the kernel's
    np.maximum.reduce, exact for any double triple), NULL on each symbol's
    first row. Gated on the lag BEFORE greatest: Spark's GREATEST skips
    NULL operands (numpy's maximum.reduce propagates NaN), so an ungated
    first row would degrade to h−l and poison the RMA seed instead of
    being dropped."""
    prev_c = F.lag(close).over(w)
    return F.when(
        prev_c.isNotNull(),
        F.greatest(
            F.col(high) - F.col(low),
            F.abs(F.col(high) - prev_c),
            F.abs(F.col(low) - prev_c),
        ),
    )


def _gated_inputs(
    df: DataFrame, w, close: str, high: str | None = None, low: str | None = None
) -> DataFrame:
    """Add the sweep inputs of the Wilder chains over the LAG window ``w``:
    RSI's _up/_dn, and with ``high``/``low`` also _tr (``_true_range``)
    and the directional moves _pdm/_mdm. Each is NULL where its lag is
    missing — _up/_dn where the close difference is, _pdm/_mdm where
    _tr is — so the sweep skips exactly the rows a filter on those lags
    would drop (``.otherwise(0.0)`` alone would turn them into spurious
    0.0 observations), and every input row stays in the sweep's output."""
    d = F.col("_d")
    out = (
        df.withColumn("_d", F.col(close) - F.lag(close).over(w))
        .withColumn("_up", F.when(d > 0, d).when(d.isNotNull(), F.lit(0.0)))
        .withColumn("_dn", F.when(d < 0, -d).when(d.isNotNull(), F.lit(0.0)))
    )
    if high is not None:
        up_move = F.col(high) - F.lag(high).over(w)
        dn_move = F.lag(low).over(w) - F.col(low)
        tr = _true_range(high, low, close, w)
        out = (
            out.withColumn("_tr", tr)
            .withColumn(
                "_pdm",
                F.when(
                    tr.isNotNull(),
                    F.when(
                        (up_move > dn_move) & (up_move > 0), up_move
                    ).otherwise(F.lit(0.0)),
                ),
            )
            .withColumn(
                "_mdm",
                F.when(
                    tr.isNotNull(),
                    F.when(
                        (dn_move > up_move) & (dn_move > 0), dn_move
                    ).otherwise(F.lit(0.0)),
                ),
            )
        )
    return out.drop("_d")


def _rsi_value() -> Column:
    """100·au/(au+ad) over the smoothed _au/_ad chains, ad == 0 → 100
    (``recurrence.rsi`` — momentum.rs:506-541 semantics)."""
    return F.when(F.col("_ad") == 0.0, F.lit(100.0)).otherwise(
        F.lit(100.0) * F.col("_au") / (F.col("_au") + F.col("_ad"))
    )


def _dx(spdm: np.ndarray, smdm: np.ndarray, str_: np.ndarray) -> np.ndarray:
    """DX from the smoothed ±DM and TR chains, in-kernel, with the exact
    IEEE op sequence of ``_with_dmi``'s SQL (same doubles in,
    correctly-rounded *,/ → same doubles out); NaN while TR warms up."""
    with np.errstate(divide="ignore", invalid="ignore"):
        pdi = np.where(str_ > 0, 100.0 * spdm / str_, 0.0)
        mdi = np.where(str_ > 0, 100.0 * smdm / str_, 0.0)
        dsum = pdi + mdi
        dx = np.where(dsum > 0, 100.0 * np.abs(pdi - mdi) / dsum, 0.0)
    dx[np.isnan(str_)] = np.nan
    return dx


def _with_dmi(sm: DataFrame) -> DataFrame:
    """Add _pdi, _mdi and _dx from the smoothed _spdm/_smdm/_str chains.
    Spark's NULL arithmetic mirrors the kernel's np.where + warm mask only
    if each ratio is explicitly nulled while _str is, which this does."""
    warm = F.col("_str").isNull()
    pdi = F.when(warm, F.lit(None)).when(
        F.col("_str") > 0, F.lit(100.0) * F.col("_spdm") / F.col("_str")
    ).otherwise(F.lit(0.0))
    mdi = F.when(warm, F.lit(None)).when(
        F.col("_str") > 0, F.lit(100.0) * F.col("_smdm") / F.col("_str")
    ).otherwise(F.lit(0.0))
    scored = sm.withColumn("_pdi", pdi).withColumn("_mdi", mdi)
    dsum = F.col("_pdi") + F.col("_mdi")
    dx = F.when(warm, F.lit(None)).when(
        dsum > 0, F.lit(100.0) * F.abs(F.col("_pdi") - F.col("_mdi")) / dsum
    ).otherwise(F.lit(0.0))
    return scored.withColumn("_dx", dx)


def _dmi_columns(p: int, w) -> list[Column]:
    """plus_dm, minus_dm, plus_di, minus_di, dx, adx and adxr over a
    ``_with_dmi`` frame; ADXR is a LAG(p−1) average over the full row
    grid."""
    names = [
        ("_spdm", "plus_dm"), ("_smdm", "minus_dm"), ("_pdi", "plus_di"),
        ("_mdi", "minus_di"), ("_dx", "dx"), ("_adx", "adx"),
    ]
    adxr = (F.col("_adx") + F.lag("_adx", p - 1).over(w)) / F.lit(2.0)
    return [F.col(c).alias(n) for c, n in names] + [adxr.alias("adxr")]


def _t3_value(v: float) -> Column:
    """Tillson's GD combine of chains _e3.._e6, coefficients computed in
    Python doubles exactly as the kernel's (``recurrence.t3``)."""
    c1 = -(v ** 3)
    c2 = 3.0 * v ** 2 + 3.0 * v ** 3
    c3 = -6.0 * v ** 2 - 3.0 * v - 3.0 * v ** 3
    c4 = 1.0 + 3.0 * v + v ** 3 + 3.0 * v ** 2
    return (
        F.lit(c1) * F.col("_e6")
        + F.lit(c2) * F.col("_e5")
        + F.lit(c3) * F.col("_e4")
        + F.lit(c4) * F.col("_e3")
    )


def rsi_segmented(
    df: DataFrame,
    x: str = "close",
    p: int = 14,
    out: str = "rsi",
    partition_by: str = "symbol",
    order_by: str = "t",
    segment_rows: int | str = 1_000_000,
) -> DataFrame:
    """Wilder RSI without the one-pandas-frame-per-symbol memory bound —
    bit-equal to ``with_recurrences(..., Rec(out, "rsi", [x], {"p": p}))``
    on null-free input (asserted in tests/test_segmented.py).

    RSI is a pure composition of two Wilder RMA scans over row-local
    transforms: up/dn come from one LAG window (the exchange the pipeline
    already pays), both RMAs (α = 1/p) run in one ``_fused_ewma_sweep``
    (state-carrying segments, executor memory bounded by ``segment_rows``
    instead of the whole symbol), and the final combine replays the
    kernel's float sequence exactly: 100·au/(au+ad), ad == 0 → 100
    (``recurrence.rsi`` — momentum.rs:506-541 semantics).

    When to use: an exact exponential fold cannot be parallelized WITHIN
    a symbol (every step depends on the previous), so this does not beat
    the plain scan on wall while the symbol still fits executor memory —
    it makes the billion-row symbol FEASIBLE (per-task memory is one
    segment; wall is n_segments passes, each parallel across symbols).
    For bounded-lookback chains, ``chunked.with_chunked_windows`` is the
    wall-clock answer; this is the unbounded-memory-recurrence one
    (the 256× sequential-history smoke in docs/SCALE.md motivated both)."""
    w = Window.partitionBy(partition_by).orderBy(order_by)
    sm = _fused_ewma_sweep(
        _gated_inputs(df, w, x), ["_up", "_dn"], ["_au", "_ad"], p, 1.0 / p,
        partition_by, order_by, segment_rows,
    )
    return sm.select(*df.columns, _rsi_value().alias(out))


def atr_segmented(
    df: DataFrame,
    high: str = "high",
    low: str = "low",
    close: str = "close",
    p: int = 14,
    out: str = "atr",
    partition_by: str = "symbol",
    order_by: str = "t",
    segment_rows: int | str = 1_000_000,
) -> DataFrame:
    """ATR = RMA(true range, p) without the per-symbol memory/serial bound —
    bit-equal to ``with_recurrences(..., Rec(out, "atr", ...))`` on
    null-free input. True range is row-local given LAG(close)
    (``_true_range``), so one window plus one state-carrying RMA covers it
    (``recurrence.atr``)."""
    w = Window.partitionBy(partition_by).orderBy(order_by)
    rows = _gated_inputs(df, w, close, high, low).select(*df.columns, "_tr")
    sm = _fused_ewma_sweep(
        rows, ["_tr"], [out], p, 1.0 / p, partition_by, order_by, segment_rows
    )
    return sm.select(*df.columns, out)


def adx_family_segmented(
    df: DataFrame,
    high: str = "high",
    low: str = "low",
    close: str = "close",
    p: int = 14,
    partition_by: str = "symbol",
    order_by: str = "t",
    segment_rows: int | str = 1_000_000,
) -> DataFrame:
    """The full Wilder DMI/ADX family (±DM, ±DI, DX, ADX, ADXR) without the
    per-symbol memory bound — bit-equal to the ``with_recurrences`` kernels
    on null-free input (``recurrence._dmi`` and its callers, momentum.rs:668-727).

    Composition: up/dn moves and true range are row-local LAG transforms;
    all FOUR Wilder RMAs (s_pdm, s_mdm, s_tr, and ADX over dx) run in one
    ``_fused_ewma_sweep`` — dx is derived in-kernel from the first three
    chains' outputs with the exact float order of the ±DI/DX SQL
    expressions (``_dx``), and the scan skips its warm-row NaNs, so the
    ADX chain seeds on the first p VALID dx values as the kernel does;
    ±DI and DX are then the same row-local SQL ratios for output
    (``_with_dmi``, including the warm-row NULL mask); ADXR is a LAG(p−1)
    average over the full row grid. Adds the seven columns to ``df``.

    Same scale contract as ``rsi_segmented``: memory bounded per
    segment; wall is sequential passes — use the plain kernels while a
    symbol fits executor memory."""
    w = Window.partitionBy(partition_by).orderBy(order_by)
    sm = _fused_ewma_sweep(
        _gated_inputs(df, w, close, high, low).drop("_up", "_dn"),
        ["_pdm", "_mdm", "_tr", lambda res: _dx(*res[:3])],
        ["_spdm", "_smdm", "_str", "_adx"], p, 1.0 / p,
        partition_by, order_by, segment_rows,
    )
    return _with_dmi(sm).select(*df.columns, *_dmi_columns(p, w))


def dema_segmented(
    df: DataFrame,
    x: str = "close",
    p: int = 30,
    out: str = "dema",
    partition_by: str = "symbol",
    order_by: str = "t",
    segment_rows: int | str = 1_000_000,
) -> DataFrame:
    """2·EMA − EMA(EMA) without the per-symbol memory bound — bit-equal to
    ``with_recurrences(..., Rec(out, "dema", ...))`` on null-free input
    (``recurrence.dema``, overlap.rs:543-658). Two state-carrying
    EMA chains + one row-local combine in the kernel's float order."""
    ch = _fused_ewma_sweep(
        df, [x, 0], ["_e1", "_e2"], p, 2.0 / (p + 1),
        partition_by, order_by, segment_rows,
    )
    return ch.select(*df.columns, (F.lit(2.0) * F.col("_e1") - F.col("_e2")).alias(out))


def tema_segmented(
    df: DataFrame,
    x: str = "close",
    p: int = 30,
    out: str = "tema",
    partition_by: str = "symbol",
    order_by: str = "t",
    segment_rows: int | str = 1_000_000,
) -> DataFrame:
    """3·E1 − 3·E2 + E3, segmented (``recurrence.tema``,
    overlap.rs:1177-1311) — three chains, kernel float order."""
    ch = _fused_ewma_sweep(
        df, [x, 0, 1], ["_e1", "_e2", "_e3"], p, 2.0 / (p + 1),
        partition_by, order_by, segment_rows,
    )
    val = F.lit(3.0) * F.col("_e1") - F.lit(3.0) * F.col("_e2") + F.col("_e3")
    return ch.select(*df.columns, val.alias(out))


def t3_segmented(
    df: DataFrame,
    x: str = "close",
    p: int = 5,
    vfactor: float = 0.7,
    out: str = "t3",
    partition_by: str = "symbol",
    order_by: str = "t",
    segment_rows: int | str = 1_000_000,
) -> DataFrame:
    """Tillson T3 (SIX chained SMA-seeded EMAs + GD coefficients),
    segmented (``recurrence.t3``, overlap.rs:939-1175): the six
    chains run in one sweep; coefficients are computed in Python doubles,
    identical to the kernel's."""
    ch = _fused_ewma_sweep(
        df, [x, 0, 1, 2, 3, 4], [f"_e{i}" for i in range(1, 7)], p,
        2.0 / (p + 1), partition_by, order_by, segment_rows,
    )
    return ch.select(*df.columns, _t3_value(vfactor).alias(out))


def indicator_family_segmented(
    df: DataFrame,
    high: str = "high",
    low: str = "low",
    close: str = "close",
    rsi_p: int = 14,
    atr_p: int = 14,
    adx_p: int = 14,
    t3_p: int = 5,
    t3_vfactor: float = 0.7,
    partition_by: str = "symbol",
    order_by: str = "t",
    segment_rows: int | str = 1_000_000,
) -> DataFrame:
    """RSI + ATR + the full Wilder DMI/ADX family + T3 in **one** fused
    segmented sweep: one base checkpoint, one max(_rn) action and one set
    of n_segments passes over the corpus instead of one per operator.
    Bit-equal to composing ``rsi_segmented`` / ``atr_segmented`` /
    ``adx_family_segmented`` / ``t3_segmented`` (asserted in
    tests/test_segmented.py), which are themselves bit-equal to the plain
    ``with_recurrences`` kernels on null-free input.

    The inputs are the per-op versions' null-gated projection
    (``_gated_inputs``), and the sweep's per-chain (p, α) support runs
    Wilder α=1/p chains next to T3's six α=2/(p+1) chains in the same
    pass. ATR is RMA(_tr, atr_p) — when ``atr_p == adx_p`` it is literally
    ADX's ``_str`` chain (one chain serves both outputs); otherwise it
    gets its own chain. DX derives in-kernel from the smoothed DM/TR
    chains with the exact IEEE op order of the output SQL (see
    ``adx_family_segmented``).

    Adds: rsi, atr, plus_dm, minus_dm, plus_di, minus_di, dx, adx, adxr,
    t3. Same scale contract as the per-op versions: per-task memory is one
    segment; wall is n_segments passes — but ONE set of them."""
    w = Window.partitionBy(partition_by).orderBy(order_by)
    wilder_r, wilder_a = 1.0 / rsi_p, 1.0 / adx_p
    ema_a = 2.0 / (t3_p + 1)
    # chains 2..4 are _spdm, _smdm, _str
    srcs: list = ["_up", "_dn", "_pdm", "_mdm", "_tr", lambda res: _dx(*res[2:5])]
    outs = ["_au", "_ad", "_spdm", "_smdm", "_str", "_adx"]
    ps = [rsi_p, rsi_p, adx_p, adx_p, adx_p, adx_p]
    alphas = [wilder_r, wilder_r, wilder_a, wilder_a, wilder_a, wilder_a]
    if atr_p != adx_p:
        srcs.append("_tr")
        outs.append("_atr")
        ps.append(atr_p)
        alphas.append(1.0 / atr_p)
    t3_first = len(outs)
    srcs += [close] + list(range(t3_first, t3_first + 5))
    outs += [f"_e{i}" for i in range(1, 7)]
    ps += [t3_p] * 6
    alphas += [ema_a] * 6

    sm = _fused_ewma_sweep(
        _gated_inputs(df, w, close, high, low), srcs, outs, ps, alphas,
        partition_by, order_by, segment_rows,
    )
    atr_col = F.col("_str") if atr_p == adx_p else F.col("_atr")
    return _with_dmi(sm).select(
        *df.columns,
        _rsi_value().alias("rsi"),
        atr_col.alias("atr"),
        *_dmi_columns(adx_p, w),
        _t3_value(t3_vfactor).alias("t3"),
    )


def kama_segmented(
    df: DataFrame,
    x: str = "close",
    p: int = 30,
    out: str = "kama",
    partition_by: str = "symbol",
    order_by: str = "t",
    segment_rows: int | str = 1_000_000,
) -> DataFrame:
    """Kaufman adaptive MA without the per-symbol memory bound — bit-equal
    to ``with_recurrences(..., Rec(out, "kama", ...))`` on null-free input
    (``recurrence.kama``, overlap.rs:732-855).

    KAMA is the family's hardest case: the fold is NONLINEAR
    (data-dependent smoothing constant) and each step needs the trailing
    p+1 raw values for the efficiency ratio — a scalar carry alone is not
    enough. Each continuation pass therefore ships TWO things: the carried
    accumulator k (the one-element state) and a p-row HALO of the previous
    segment's tail (sliced from the SAME checkpointed base — no extra
    lineage), so every body row can rebuild its exact ER window locally;
    halo rows are dropped from the output. The continuation runs the
    kernel's own ``recurrence._kama_tail`` on halo + body from the carried
    k (the chunked row-wise cumsum volatility and libm ``** 2`` included),
    so the composition is bit-exact across segment boundaries.

    Requires ``segment_rows ≥ p + 1`` (the kernel emits nothing for
    n < p+1, so a p-row segment 0 would diverge from the whole-symbol
    scan). That bound, checked before any job, is also why every
    continuation sees a full p-row halo and a finite carried k on
    null-free input: the previous segment held ≥ p + 1 rows. Same scale
    contract as the rest of the module: executor memory bounded by
    segment + halo; wall is n_segments sequential passes."""

    def scan(tbl, seed, halo_n):
        vals = f64(tbl, x)
        if seed is None:
            # pass 0: the kernel's own scan over the dense segment
            res = kama(vals, p)
            return [res], [_last_valid(res)]
        # continuation: body rows follow the p halo rows
        res = _kama_tail(vals, p, seed[0])
        return [res], [res[-1]]

    return _segmented_passes(
        df, partition_by, order_by, segment_rows, p + 1, "p + 1",
        [x], [out], scan, halo=p,
    )[0]


# ---------------------------------------------------------------------------
# Parabolic SAR family
# ---------------------------------------------------------------------------


def _sar_family_segmented(
    df: DataFrame,
    high: str,
    low: str,
    p: _SarParams,
    out: str,
    partition_by: str,
    order_by: str,
    segment_rows: int | str,
) -> DataFrame:
    """Shared state+halo plumbing for ``sar_segmented``/``sarext_segmented``
    (the ``kama_segmented`` pattern): every pass runs the kernels' own
    ``recurrence._sar_scan``, pass 0 with its trend seeding and each
    continuation from the carried state. The SAR fold is a 4-tuple state
    machine — (long, s, ep, af) — whose clamp reads the trailing TWO bars'
    high/low, so each continuation pass ships:

    * the carried state (long, s, ep, af) as the pass's state array, and
    * a 2-row halo of the previous segment's tail (sliced from the SAME
      checkpointed base), so steps at the boundary rebuild their exact
      ``ll[i-1], ll[i-2]`` clamp window locally; halo rows are dropped
      from the output.

    Halo-only groups (symbols whose total length lands in (lo-2, lo]) are
    excluded as in kama_segmented: every such row was already emitted by
    the previous pass. Same scale contract as
    the module: executor memory bounded by segment + halo; wall is
    n_segments sequential passes."""

    def scan(tbl, seed, halo_n):
        hh, ll = f64(tbl, high), f64(tbl, low)
        if seed is None:
            # pass 0: kernel seeding (a 1-bar symbol carries no state and
            # has no continuation)
            res, st = _sar_scan(hh, ll, None, 1, p)
            return [res], st
        state = (bool(seed[0]), seed[1], seed[2], seed[3])
        res, st = _sar_scan(hh, ll, state, halo_n, p)
        return [res[halo_n:]], st

    return _segmented_passes(
        df, partition_by, order_by, segment_rows, 2, "the 2-bar clamp window",
        [high, low], [out], scan, halo=2,
    )[0]


def sar_segmented(
    df: DataFrame,
    high: str = "high",
    low: str = "low",
    acceleration: float = 0.02,
    maximum: float = 0.2,
    out: str = "sar",
    partition_by: str = "symbol",
    order_by: str = "t",
    segment_rows: int | str = 1_000_000,
) -> DataFrame:
    """Parabolic SAR without the per-symbol memory bound — bit-equal to
    ``with_recurrences(..., Rec(out, "sar", [high, low], ...))`` on
    null-free input (``recurrence.sar``: one ``_sar_scan`` with SAREXT's
    symmetric, offset-free, unsigned parameters; asserted in
    tests/test_segmented.py across segment AND checkpoint boundaries)."""
    p = _SarParams(
        0.0, 0.0,
        acceleration, acceleration, maximum,
        acceleration, acceleration, maximum,
        signed=False,
    )
    return _sar_family_segmented(
        df, high, low, p, out, partition_by, order_by, segment_rows
    )


def sarext_segmented(
    df: DataFrame,
    high: str = "high",
    low: str = "low",
    startvalue: float = 0.0,
    offsetonreverse: float = 0.0,
    accelerationinitlong: float = 0.02,
    accelerationlong: float = 0.02,
    accelerationmaxlong: float = 0.2,
    accelerationinitshort: float = 0.02,
    accelerationshort: float = 0.02,
    accelerationmaxshort: float = 0.2,
    out: str = "sarext",
    partition_by: str = "symbol",
    order_by: str = "t",
    segment_rows: int | str = 1_000_000,
) -> DataFrame:
    """Extended parabolic SAR, segmented — bit-equal to
    ``with_recurrences(..., Rec(out, "sarext", [high, low], ...))`` on
    null-free input (``recurrence.sarext``, the same ``_sar_scan``).
    ``startvalue`` applies only on segment 0, exactly as in the kernel."""
    p = _SarParams(
        startvalue, offsetonreverse,
        accelerationinitlong, accelerationlong, accelerationmaxlong,
        accelerationinitshort, accelerationshort, accelerationmaxshort,
        signed=True,
    )
    return _sar_family_segmented(
        df, high, low, p, out, partition_by, order_by, segment_rows
    )


# ---------------------------------------------------------------------------
# Integer-lattice (quantized) EMA / MACD trio
# ---------------------------------------------------------------------------


def ewma_q_segmented(
    df: DataFrame,
    x: str,
    alpha: float,
    seed_n: int,
    out: str = "ema_q",
    partition_by: str = "symbol",
    order_by: str = "t",
    segment_rows: int | str = 1_000_000,
) -> DataFrame:
    """INTEGER-LATTICE exponential scan (``recurrence._ewma_q``: every step
    re-quantizes with floor(x + 0.5)), segmented: a one-chain lattice
    ``_fused_ewma_sweep``, so NaN/null inputs are skipped as the kernel's
    ``_compact_apply`` skips them. Bit-equal by the same argument as
    ``ewma_segmented`` — a strict left fold resumed from its carried
    accumulator replays identical ops — but here the argument is even
    stronger: the carried state is an INTEGER (exact in a double up to
    2⁵³), so the continuation is engine- and segmentation-invariant by
    construction. Input must be integer-valued micro-units as doubles
    (floor(v·1e6 + 0.5)); output is integer-valued micro-units."""
    return _fused_ewma_sweep(
        df, [x], [out], seed_n, alpha, partition_by, order_by, segment_rows,
        lattice=True,
    )


def macd_q_segmented(
    df: DataFrame,
    x: str = "_cm",
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
    dif_out: str = "macd_dif",
    dea_out: str = "macd_dea",
    hist_out: str = "macd_hist",
    partition_by: str = "symbol",
    order_by: str = "t",
    segment_rows: int | str = 1_000_000,
) -> DataFrame:
    """Quantized MACD trio without the per-symbol memory bound — bit-equal
    to ``with_recurrences(..., Rec([...], "macd_q", [x], ...))`` on
    integer-micro-unit input, NaN/null holes included (``recurrence.macd_q``;
    asserted in tests/test_segmented.py). MACDFIX is this with the fixed
    12/26 legs.

    One three-chain lattice sweep: the fast and slow EMAs of ``x``, and the
    signal EMA of their difference, derived in-kernel — NaN while either
    leg warms up, so the chain compacts it away exactly as the kernel's
    ``_compact_apply`` compacts dif before its signal EMA. ``dif`` and
    ``hist`` are then SQL differences of lattice integers, exact in
    doubles."""
    ps = [fast, slow, signal]
    ch = _fused_ewma_sweep(
        df, [x, x, lambda res: res[0] - res[1]], ["_efq", "_esq", dea_out], ps,
        [2.0 / (q + 1) for q in ps], partition_by, order_by, segment_rows,
        lattice=True,
    )
    dif = F.col("_efq") - F.col("_esq")
    return ch.select(
        *df.columns, dif.alias(dif_out), dea_out, (dif - F.col(dea_out)).alias(hist_out)
    )


def macdext_q_segmented(
    df: DataFrame,
    x: str = "_cm",
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
    dif_out: str = "macd_dif",
    dea_out: str = "macd_dea",
    hist_out: str = "macd_hist",
    partition_by: str = "symbol",
    order_by: str = "t",
    segment_rows: int | str = 1_000_000,
) -> DataFrame:
    """Quantized MACDEXT (EMA fast/slow legs + SMA signal — matypes 1/1/0,
    the shape ``ind_macdext`` exercises), segmented. Bit-equal to
    ``with_recurrences(..., Rec([...], "macdext_q", [x], ...))`` on
    integer-micro-unit input (``recurrence.macdext_q``).

    The EMA legs are one two-chain lattice sweep; ``dif`` is their SQL
    difference (exact on lattice integers). The SMA signal leg needs no
    segmentation at all: ``_sma_q`` is a BOUNDED trailing window
    (``signal`` rows), which Spark's window exec evaluates with spill —
    floor(avg + 0.5) over the dif-VALID rows reproduces the kernel's
    compacted rolling mean exactly (integer sums are exact in doubles, the
    divide and floor are single correctly-rounded ops)."""
    ch = _fused_ewma_sweep(
        df, [x, x], ["_efq", "_esq"], [fast, slow],
        [2.0 / (fast + 1), 2.0 / (slow + 1)], partition_by, order_by,
        segment_rows, lattice=True,
    )
    ch = ch.withColumn(dif_out, F.col("_efq") - F.col("_esq")).drop("_efq", "_esq")
    # partitioned on dif's validity too, the frame runs over the dif-VALID
    # rows only, as the kernel's rolling mean runs on the compacted dif;
    # the warm-up rows and the first signal - 1 valid rows get a NULL dea
    valid = F.col(dif_out).isNotNull()
    frame = (
        Window.partitionBy(partition_by, valid)
        .orderBy(order_by)
        .rowsBetween(-(signal - 1), 0)
    )
    full = F.count(F.lit(1)).over(frame) == signal
    sma = F.floor(F.avg(dif_out).over(frame) + F.lit(0.5))
    dea = F.when(valid & full, sma).cast("double")  # floor gives a long
    return ch.withColumn(dea_out, dea).withColumn(
        hist_out, F.col(dif_out) - F.col(dea_out)
    )


# ---------------------------------------------------------------------------
# Vectorized backtest fold, segmented
# ---------------------------------------------------------------------------


def backtest_segmented(
    df: DataFrame,
    price: str = "close",
    buy: str = "buy",
    sell: str = "sell",
    params=None,
    partition_by: str = "symbol",
    order_by: str = "t",
    segment_rows: int | str = 1_000_000,
) -> DataFrame:
    """``vectorized_backtest`` without the one-pandas-frame-per-symbol
    memory bound — bit-equal on identical input (asserted in
    tests/test_segmented.py, all six output columns, stops included).

    Motivation (docs/SCALE.md round 11): at 1024x per-symbol history
    (~123 M bars/symbol) the plain fold's pre-groupBy sort OOMs an 8 GB
    heap outright and completes only at 48 GB with decade-over-decade
    superlinearity (98 s @256x -> 1135 s @1024x, 11.5x wall for 4x data)
    — memory pressure, not algorithm. The fold's carried state is NINE
    scalars (``vectorized.FoldState``: position, cash, peak, entry_cost,
    entry_px, last_price, trades, wins, hwm), so it rides the pass
    driver's state array as is, and no halo is needed (pure scalar
    carry).

    One contract wrinkle: the plain op repeats each symbol's FINAL
    (n_trades, n_wins) on every row. Those are state elements 6 and 7 of
    the symbol's one final-state row, which rides the output pieces; one
    merge-pinned join, null-safe on the symbol, puts them on every row."""
    from polars_quant_spark.backtest.vectorized import (
        BacktestParams,
        _fold_state,
    )

    p = params or BacktestParams()

    def scan(tbl, seed, halo_n):
        state = None
        if seed is not None:
            state = (*seed[:6], int(seed[6]), int(seed[7]), seed[8])
        pos, cash, eq, dd, st = _fold_state(
            f64(tbl, price), flags(tbl, buy), flags(tbl, sell), p, state
        )
        return [pos, cash, eq, dd], st

    out, finals = _segmented_passes(
        df, partition_by, order_by, segment_rows, 1, "1", [price, buy, sell],
        ["position", "cash", "equity", "drawdown"], scan,
    )
    st = F.col("_st")
    totals = finals.select(
        F.col(partition_by).alias("_pk"),
        st[6].cast("long").alias("n_trades"),
        st[7].cast("long").alias("n_wins"),
    )
    on = F.col(partition_by).eqNullSafe(F.col("_pk"))
    return out.join(totals.hint("merge"), on, "left").drop("_pk")
