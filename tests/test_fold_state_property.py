"""Property tests: resumable scans are segmentation-invariant at the
numpy level.

The Spark-side bit-equality suites (tests/test_segmented.py) prove the
full plumbing at a handful of segment sizes; these tests hammer the
CARRY LOGIC itself — for random inputs and a random cut point, running
the scan whole must equal running it in two pieces with the state handed
across. Hypothesis draws only (seed, shape, cut) scalars; the series
come from a seeded numpy generator, so example generation stays fast
(drawing large float lists through hypothesis directly was measured at
minutes per test)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from polars_quant_spark.backtest.vectorized import BacktestParams, _fold_state
from polars_quant_spark.operators.recurrence import (
    _SarParams,
    _compact_apply,
    _ewm_chain,
    _ewma_q,
    _ewma_q_resume,
    _kama_tail,
    _sar_scan,
    ema,
    rma,
)


@given(
    seed=st.integers(0, 2**32 - 1),
    n=st.integers(3, 200),
    ext=st.booleans(),
    sv=st.sampled_from([0.0, 50.0, -50.0]),
)
@settings(max_examples=150, deadline=None)
def test_sar_scan_segmentation_invariant(seed, n, ext, sv):
    rng = np.random.default_rng(seed)
    close = np.abs(100 + np.cumsum(rng.normal(0, 1, n))) + 1.0
    hh, ll = close * 1.01, close * 0.99
    p = _SarParams(
        sv if ext else 0.0,
        float(rng.uniform(0, 0.05)) if ext else 0.0,
        0.02, 0.03, 0.25,
        0.01 if ext else 0.02,
        0.04 if ext else 0.02,
        0.15 if ext else 0.2,
        signed=ext,
    )
    whole, st_whole = _sar_scan(hh, ll, None, 1, p)
    cut = int(rng.integers(2, n))  # continuation legal: 2-row halo exists
    first, st1 = _sar_scan(hh[:cut], ll[:cut], None, 1, p)
    second, st2 = _sar_scan(hh[cut - 2 :], ll[cut - 2 :], st1, 2, p)
    glued = np.concatenate([first, second[2:]])
    np.testing.assert_array_equal(whole, glued)
    assert st_whole == st2


@given(
    seed=st.integers(0, 2**32 - 1),
    p=st.integers(1, 12),
    extra=st.integers(1, 200),
    flat=st.booleans(),
)
@settings(max_examples=150, deadline=None)
def test_kama_tail_segmentation_invariant(seed, p, extra, flat):
    rng = np.random.default_rng(seed)
    n = p + 1 + extra
    v = 100 + np.cumsum(rng.normal(0, 1, n))
    if flat:  # zero-volatility windows (ER 0) and repeated values
        v = np.round(v / 4)
    k0 = float(np.cumsum(v[:p])[-1]) / p
    whole = _kama_tail(v, p, k0)
    cut = int(rng.integers(p + 1, n))  # both pieces emit at least one row
    first = _kama_tail(v[:cut], p, k0)
    # the continuation's first p rows are the halo: the previous p values
    second = _kama_tail(v[cut - p :], p, first[-1])
    np.testing.assert_array_equal(whole, np.concatenate([first, second]))


@given(
    seed=st.integers(0, 2**32 - 1),
    n=st.integers(0, 200),
    p=st.integers(1, 30),
)
@settings(max_examples=150, deadline=None)
def test_ewma_q_resume_segmentation_invariant(seed, n, p):
    rng = np.random.default_rng(seed)
    m = np.floor((100 + np.cumsum(rng.normal(0, 1, n))) * 1e6 + 0.5)
    alpha = 2.0 / (p + 1)
    s0 = float(np.floor(100 * 1e6 + 0.5))
    whole = _ewma_q_resume(s0, m, alpha)
    cut = int(rng.integers(0, n + 1))
    first = _ewma_q_resume(s0, m[:cut], alpha)
    second = _ewma_q_resume(first[-1] if cut else s0, m[cut:], alpha)
    np.testing.assert_array_equal(whole, np.concatenate([first, second]))


@given(
    seed=st.integers(0, 2**32 - 1),
    n=st.integers(0, 200),
    p=st.integers(1, 30),
    kind=st.sampled_from(["ema", "rma", "lattice"]),
    n_cuts=st.integers(0, 4),
    holes=st.booleans(),
    inf_seed=st.booleans(),
    neg_zero=st.booleans(),
)
@settings(max_examples=300, deadline=None)
def test_ewm_chain_segmentation_invariant(
    seed, n, p, kind, n_cuts, holes, inf_seed, neg_zero
):
    """``_ewm_chain`` cut at random rows, the state handed across, is bit
    for bit ``ema``, ``rma`` or ``_compact_apply(_ewma_q)`` on the whole
    series: one cut falls inside the SMA seed, NaN holes are compacted
    out, a ±inf inside the seed window makes the seed mean ±inf, and a
    −0.0 head checks that a fresh SMA sum does not start from +0.0."""
    rng = np.random.default_rng(seed)
    x = 100 + np.cumsum(rng.normal(0, 1, n))
    lattice = kind == "lattice"
    if lattice:
        x = np.floor(x * 1e6 + 0.5)
    if neg_zero:
        x[:p] = -0.0
    if holes and n:
        x[rng.random(n) < 0.2] = np.nan
    valid = np.flatnonzero(~np.isnan(x))
    if inf_seed and not lattice and len(valid):
        x[valid[rng.integers(0, min(p, len(valid)))]] = rng.choice([np.inf, -np.inf])
    if kind == "ema":
        alpha, want = 2.0 / (p + 1), ema(x, p)
    elif kind == "rma":
        alpha, want = 1.0 / p, rma(x, p)
    else:
        alpha = 2.0 / (p + 1)
        want = _compact_apply(lambda v: _ewma_q(v, alpha, p), x)
    cuts = [int(c) for c in rng.integers(0, n + 1, n_cuts)]
    if p > 1 and len(valid) > 1:  # a piece ending inside the SMA seed
        cuts.append(int(valid[rng.integers(1, min(p, len(valid)))]))
    bounds = [0, *sorted(cuts), n]
    state, pieces = (0, 0.0, np.nan), []
    for lo, hi in zip(bounds, bounds[1:]):
        out, state = _ewm_chain(state, x[lo:hi], p, alpha, lattice)
        pieces.append(out)
    got = np.concatenate([np.zeros(0), *pieces])
    np.testing.assert_array_equal(got.view(np.uint64), want.view(np.uint64))


@given(
    seed=st.integers(0, 2**32 - 1),
    n=st.integers(1, 200),
    stops=st.booleans(),
)
@settings(max_examples=150, deadline=None)
def test_backtest_fold_segmentation_invariant(seed, n, stops):
    rng = np.random.default_rng(seed)
    price = np.abs(100 + np.cumsum(rng.normal(0, 2, n))) + 1.0
    if n >= 5:  # freeze-state coverage: a NaN and a non-positive price
        price[rng.integers(0, n)] = np.nan
        price[rng.integers(0, n)] = -1.0
    buy = rng.integers(0, 2, n).astype(bool)
    sell = rng.integers(0, 2, n).astype(bool)
    p = (
        BacktestParams(stop_loss=0.02, take_profit=0.05, trailing_stop=0.03)
        if stops
        else BacktestParams()
    )
    pos_w, cash_w, eq_w, dd_w, st_w = _fold_state(price, buy, sell, p)
    cut = int(rng.integers(0, n + 1))
    a = _fold_state(price[:cut], buy[:cut], sell[:cut], p)
    b = _fold_state(price[cut:], buy[cut:], sell[cut:], p, a[4])
    for whole, first, second in zip((pos_w, cash_w, eq_w, dd_w), a[:4], b[:4]):
        np.testing.assert_array_equal(whole, np.concatenate([first, second]))
    # final states must agree including NaN last_price (tuple == is False
    # for NaN, so compare fields with nan-awareness)
    for x, y in zip(st_w, b[4]):
        assert x == y or (
            isinstance(x, float) and isinstance(y, float)
            and np.isnan(x) and np.isnan(y)
        )
