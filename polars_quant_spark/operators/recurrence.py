"""Recurrence runner — the one custom physical operator this engine adds.

The reference's EMA family, Wilder smoothing, KAMA, SAR, T3, and the MESA
state machine are per-symbol *sequential* scans (SURVEY.md §2.5 "recurrences")
with no closed-form SQL window. Spark-first design (SURVEY.md §4.2 item 1):

* One ``groupBy(symbol).applyInArrow`` pass computes **all** requested
  recurrences for a partition in a single Arrow round-trip — the per-indicator
  cost is a numpy scan, the per-pass cost (shuffle + Arrow) is paid once.
* Scale: the shuffle is one exchange on the symbol key; each group is
  processed streaming on an executor. Skewed symbols are the risk at 100 TB —
  mitigate upstream by bucketing the bar store by symbol. State is O(1) per
  kernel, so group size is bounded by executor memory only through Arrow
  batching (spark.sql.execution.arrow.maxRecordsPerBatch keeps batches sane;
  applyInArrow materializes a group at a time — for truly huge single
  symbols, segment the scan and stitch seeds — operators/segmented.py).

Null semantics match the reference: kernels skip nulls without consuming
window slots (/root/reference/src/talib/overlap.rs:891-895) — inputs are
compacted to the valid subsequence, the scan runs, outputs scatter back to the
valid rows' positions.

Seeding contract (our declared semantics, encoded in the DuckDB oracles):
every exponential scan seeds with the SMA of its first p valid inputs exactly
like the reference's calc_ema (/root/reference/src/talib/overlap.rs:687-701),
then e += α·(x−e). ATR diverges from the reference deliberately: the snapshot
smooths TR with period 2p−1 EMA *SMA-seeded over 2p−1 values*
(/root/reference/src/talib/volatility.rs:31); we use the documented Wilder
contract — RMA(TR, p), i.e. α=1/p with an SMA-of-first-p seed.
"""

from __future__ import annotations

import inspect
import math
from dataclasses import dataclass, field
from typing import Callable, NamedTuple

import numpy as np
import pandas as pd
import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.types import DoubleType, StructField, StructType

from polars_quant_spark.operators.arrow_group import f64, sort_rows

# ---------------------------------------------------------------------------
# numpy scan kernels (null-compacting)
#
# Each recurrence's per-step arithmetic lives in ONE resumable function
# (``_ewm_resume``, ``_ewma_q_resume``, ``_kama_tail``, ``_sar_scan``): the
# kernel runs it after its own seeding, and the segmented operators
# (operators/segmented.py) and streaming operators (streaming/stateful.py)
# resume it from a carried state (an SMA-seeded EMA chain through
# ``_ewm_chain``, which carries the seed sum too) — a strict left fold cut
# and resumed replays identical float ops in identical order.
# ---------------------------------------------------------------------------


def _ewm_resume(e: float, vals: np.ndarray, alpha: float) -> np.ndarray:
    """The pandas ``ewm(alpha, adjust=False)`` recurrence
    e' = ((1−α)·e + α·x)/((1−α)+α), with the update skipped when x == e,
    continued from the accumulator ``e`` over ``vals``: one output per
    value. It runs in pandas' Cython ewm kernel — no Python loop on the hot
    path (a 10M-bar symbol scans in ~1.3 s instead of ~10 s)."""
    z = np.empty(vals.shape[0] + 1, dtype=np.float64)
    z[0] = e
    z[1:] = vals
    return pd.Series(z).ewm(alpha=alpha, adjust=False).mean().to_numpy()[1:]


def _ewm_seed(e: float) -> float:
    """The seed row's output: the SMA seed as ``_ewm_resume`` reads it
    (±inf is missing there, so the row is NaN)."""
    return e if math.isfinite(e) else np.nan


def _ewma(x: np.ndarray, alpha: float, seed_n: int) -> np.ndarray:
    """Exponential scan over a dense array: out[seed_n-1] = mean(x[:seed_n]),
    then ``_ewm_resume`` from it. NaN before the seed, and at the seed when
    the mean is ±inf: pandas' ewm reads ±inf as missing, so the tail
    restarts at the next finite value (``_ewm_seed``).

    The SQL twin is ``oracle.ewm_step``, which emits the identical float
    sequence including the skip-on-equal (the computed form can differ in
    the last ulp when x == e, ~10% of random doubles)."""
    n = x.shape[0]
    out = np.full(n, np.nan)
    if n < seed_n or seed_n <= 0:
        return out
    e = float(np.cumsum(x[:seed_n])[-1]) / seed_n  # sequential sum = oracle's AVG
    out[seed_n - 1] = _ewm_seed(e)
    out[seed_n:] = _ewm_resume(e, x[seed_n:], alpha)
    return out


def _compact_apply(fn: Callable[..., np.ndarray], *cols: np.ndarray) -> np.ndarray:
    """Run fn on the null-compacted subsequence (rows where every input is
    valid), scatter results back to the original positions."""
    mask = np.ones(cols[0].shape[0], dtype=bool)
    for c in cols:
        mask &= ~np.isnan(c)
    out = np.full(cols[0].shape[0], np.nan)
    if mask.sum() == 0:
        return out
    out[mask] = fn(*[c[mask] for c in cols])
    return out


def ema(x: np.ndarray, p: int = 30) -> np.ndarray:
    return _compact_apply(lambda v: _ewma(v, 2.0 / (p + 1), p), x)


def rma(x: np.ndarray, p: int = 14) -> np.ndarray:
    """Wilder smoothing: α = 1/p, SMA seed."""
    return _compact_apply(lambda v: _ewma(v, 1.0 / p, p), x)


def dema(x: np.ndarray, p: int = 30) -> np.ndarray:
    """2·EMA − EMA(EMA) (overlap.rs:543-658); first value at row 2p−2."""
    e1 = ema(x, p)
    e2 = ema(e1, p)
    return 2.0 * e1 - e2


def tema(x: np.ndarray, p: int = 30) -> np.ndarray:
    """3·E1 − 3·E2 + E3 (overlap.rs:1177-1311); first value at row 3p−3."""
    e1 = ema(x, p)
    e2 = ema(e1, p)
    e3 = ema(e2, p)
    return 3.0 * e1 - 3.0 * e2 + e3


def t3(x: np.ndarray, p: int = 5, vfactor: float = 0.7) -> np.ndarray:
    """Tillson T3: 6 chained SMA-seeded EMAs with GD coefficients from v
    (overlap.rs:939-1175); first value at row 6p−6."""
    v = vfactor
    e = x
    es = []
    for _ in range(6):
        e = ema(e, p)
        es.append(e)
    e1, e2, e3_, e4, e5, e6 = es
    c1 = -(v ** 3)
    c2 = 3.0 * v ** 2 + 3.0 * v ** 3
    c3 = -6.0 * v ** 2 - 3.0 * v - 3.0 * v ** 3
    c4 = 1.0 + 3.0 * v + v ** 3 + 3.0 * v ** 2
    return c1 * e6 + c2 * e5 + c3 * e4 + c4 * e3_


def _kama_tail(v: np.ndarray, p: int, k: float) -> np.ndarray:
    """KAMA steps over ``v[p:]`` from the accumulator ``k``; ``v[:p]`` is
    the trailing window the first step's efficiency ratio reads (the SMA
    seed rows in the kernel, the halo in a segmented continuation). One
    output per row of ``v[p:]``."""
    m = v.shape[0] - p
    adiff = np.abs(np.diff(v))
    # trailing-p volatility, vectorized but with the exact left-to-right
    # summation order of a fresh per-window cumsum (row-wise cumsum over
    # sliding windows; chunked so the (rows × p) scratch stays small)
    vol = np.empty(m)
    win = np.lib.stride_tricks.sliding_window_view(adiff, p)  # rows: [j, j+p)
    step = max(1, 4_000_000 // p)
    for lo in range(0, m, step):
        hi = min(lo + step, m)
        vol[lo:hi] = win[lo:hi].cumsum(axis=1)[:, -1]
    with np.errstate(invalid="ignore", divide="ignore"):
        er = np.where(vol > 0, np.abs(v[p:] - v[:-p]) / vol, 0.0)
    # the k-fold stays a scalar loop (data-dependent smoothing constant),
    # with the identical per-step arithmetic (incl. libm `** 2`, which
    # Python floats and numpy scalars both call) as the DuckDB
    # POWER(er·Δ + s, 2) recursion
    fast_sc, slow_sc = 2.0 / 3.0, 2.0 / 31.0
    d = fast_sc - slow_sc
    out = np.empty(m)
    for j, (e, x) in enumerate(zip(er.tolist(), v[p:].tolist())):
        k = k + (e * d + slow_sc) ** 2 * (x - k)
        out[j] = k
    return out


def kama(x: np.ndarray, p: int = 30) -> np.ndarray:
    """Kaufman adaptive MA (overlap.rs:732-855): ER = |x−x₋ₚ|/Σ|Δx| over
    trailing p, SC = (ER·(2/3 − 2/31) + 2/31)², k += SC·(x−k); seed = SMA of
    the first p values at row p−1, then ``_kama_tail``."""

    def _kama(v: np.ndarray) -> np.ndarray:
        n = v.shape[0]
        out = np.full(n, np.nan)
        if n < p + 1:
            return out
        k = float(np.cumsum(v[:p])[-1]) / p
        out[p - 1] = k
        out[p:] = _kama_tail(v, p, k)
        return out

    return _compact_apply(_kama, x)


def rsi(x: np.ndarray, p: int = 14) -> np.ndarray:
    """Wilder RSI (momentum.rs:506-541 semantics, calc_rma restored):
    100·avgUp/(avgUp+avgDn) with avgDn==0 → 100; first value at row p."""

    def _rsi(v: np.ndarray) -> np.ndarray:
        n = v.shape[0]
        out = np.full(n, np.nan)
        if n < p + 1:
            return out
        d = np.diff(v)
        up = np.where(d > 0, d, 0.0)
        dn = np.where(d < 0, -d, 0.0)
        au = _ewma(up, 1.0 / p, p)
        ad_ = _ewma(dn, 1.0 / p, p)
        for i in range(p, n):
            u, dd = au[i - 1], ad_[i - 1]
            if np.isnan(u):
                continue
            out[i] = 100.0 if dd == 0.0 else 100.0 * u / (u + dd)
        return out

    return _compact_apply(_rsi, x)


def _trange_dense(h: np.ndarray, l: np.ndarray, c: np.ndarray) -> np.ndarray:
    tr = np.full(h.shape[0], np.nan)
    if h.shape[0] > 1:
        pc = c[:-1]
        tr[1:] = np.maximum.reduce([h[1:] - l[1:], np.abs(h[1:] - pc), np.abs(l[1:] - pc)])
    return tr


def atr(h: np.ndarray, l: np.ndarray, c: np.ndarray, p: int = 14) -> np.ndarray:
    """RMA(TR, p); first value at row p (Wilder contract, see module doc)."""

    def _atr(hh, ll, cc):
        tr = _trange_dense(hh, ll, cc)
        out = np.full(hh.shape[0], np.nan)
        if hh.shape[0] < p + 1:
            return out
        out[1:] = _ewma(tr[1:], 1.0 / p, p)
        return out

    return _compact_apply(_atr, h, l, c)


def natr(h: np.ndarray, l: np.ndarray, c: np.ndarray, p: int = 14) -> np.ndarray:
    """100·ATR/close (volatility.rs:34-48)."""
    a = atr(h, l, c, p)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(c != 0, 100.0 * a / c, 0.0)


def _dmi(hh: np.ndarray, ll: np.ndarray, cc: np.ndarray, p: int):
    """Shared +DI/−DI/DX pipeline (momentum.rs:668-727, calc_rma restored;
    PLUS_DI returns the *correct* +DI, not the snapshot's DX — SURVEY §0)."""
    n = hh.shape[0]
    up_move = hh[1:] - hh[:-1]
    dn_move = ll[:-1] - ll[1:]
    pdm = np.where((up_move > dn_move) & (up_move > 0), up_move, 0.0)
    mdm = np.where((dn_move > up_move) & (dn_move > 0), dn_move, 0.0)
    tr = _trange_dense(hh, ll, cc)[1:]
    s_pdm = _ewma(pdm, 1.0 / p, p)
    s_mdm = _ewma(mdm, 1.0 / p, p)
    s_tr = _ewma(tr, 1.0 / p, p)
    with np.errstate(invalid="ignore", divide="ignore"):
        pdi = np.where(s_tr > 0, 100.0 * s_pdm / s_tr, 0.0)
        mdi = np.where(s_tr > 0, 100.0 * s_mdm / s_tr, 0.0)
        dsum = pdi + mdi
        dx = np.where(dsum > 0, 100.0 * np.abs(pdi - mdi) / dsum, 0.0)
    warm = np.isnan(s_tr)  # np.where(NaN > 0, ...) picks the else-branch 0.0
    pdi[warm] = np.nan
    mdi[warm] = np.nan
    dx[warm] = np.nan
    pad = np.full(n, np.nan)
    return pdi, mdi, dx, pad


def plus_di(h, l, c, p: int = 14):
    def _f(hh, ll, cc):
        pdi, _, _, pad = _dmi(hh, ll, cc, p)
        pad[1:] = pdi
        return pad
    return _compact_apply(_f, h, l, c)


def minus_di(h, l, c, p: int = 14):
    def _f(hh, ll, cc):
        _, mdi, _, pad = _dmi(hh, ll, cc, p)
        pad[1:] = mdi
        return pad
    return _compact_apply(_f, h, l, c)


def plus_dm(h, l, p: int = 14):
    """RMA-smoothed +DM (momentum.rs:413-436)."""
    def _f(hh, ll):
        up_move = hh[1:] - hh[:-1]
        dn_move = ll[:-1] - ll[1:]
        pdm = np.where((up_move > dn_move) & (up_move > 0), up_move, 0.0)
        pad = np.full(hh.shape[0], np.nan)
        pad[1:] = _ewma(pdm, 1.0 / p, p)
        return pad
    return _compact_apply(_f, h, l)


def minus_dm(h, l, p: int = 14):
    def _f(hh, ll):
        up_move = hh[1:] - hh[:-1]
        dn_move = ll[:-1] - ll[1:]
        mdm = np.where((dn_move > up_move) & (dn_move > 0), dn_move, 0.0)
        pad = np.full(hh.shape[0], np.nan)
        pad[1:] = _ewma(mdm, 1.0 / p, p)
        return pad
    return _compact_apply(_f, h, l)


def dx(h, l, c, p: int = 14):
    def _f(hh, ll, cc):
        _, _, dxv, pad = _dmi(hh, ll, cc, p)
        pad[1:] = dxv
        return pad
    return _compact_apply(_f, h, l, c)


def adx(h, l, c, p: int = 14):
    """RMA of DX (momentum.rs:11-29); first value at row 2p."""
    def _f(hh, ll, cc):
        _, _, dxv, pad = _dmi(hh, ll, cc, p)
        valid = ~np.isnan(dxv)
        sm = np.full(dxv.shape[0], np.nan)
        sm[valid] = _ewma(dxv[valid], 1.0 / p, p)
        pad[1:] = sm
        return pad
    return _compact_apply(_f, h, l, c)


def adxr(h, l, c, p: int = 14):
    """(ADX + ADX lagged p−1)/2 (momentum.rs:32-61)."""
    a = adx(h, l, c, p)
    out = np.full(a.shape[0], np.nan)
    if a.shape[0] > p - 1:
        out[p - 1 :] = (a[p - 1 :] + a[: a.shape[0] - (p - 1)]) / 2.0
    return out


def macd(x: np.ndarray, fast: int = 12, slow: int = 26, signal: int = 9):
    """(dif, dea, hist) — EMA compositions (momentum.rs:239-283)."""
    ef = ema(x, fast)
    es = ema(x, slow)
    dif = ef - es
    dea = ema(dif, signal)
    hist = dif - dea
    return dif, dea, hist


def _ewma_q(m: np.ndarray, alpha: float, seed_n: int) -> np.ndarray:
    """INTEGER-LATTICE exponential scan (the renko/zigzag quantized-state
    discipline, VERDICT r7 #3): input is integer-valued micro-units (as
    doubles), the SMA seed and EVERY step re-quantize to the integer
    lattice with floor(x + 0.5). Both engines then evaluate the identical
    float expression ((1-α)·s + α·x) + 0.5 on the same integers — IEEE
    correctly-rounded * and + make the pre-floor value bit-identical, and
    the floor absorbs nothing because there is nothing to absorb. This is
    what retires the EMA-trio's 1-ulp-at-6dp-boundary residue at sf0.1:
    no float state ever survives a step, so drift cannot accumulate over
    any series length. The SQL twin is ``oracle.ema_q_ctes``.

    Inherently a Python loop (per-step flooring defeats the Cython ewm
    kernel, see ``_ewma_q_resume``) — fine for the oracle-paired MACD
    queries (~20k steps/symbol at sf0.1, ~0.1 s/chain); the float
    ``_ewma`` stays the package's hot path."""
    n = m.shape[0]
    out = np.full(n, np.nan)
    if n < seed_n or seed_n <= 0:
        return out
    s = math.floor(float(np.cumsum(m[:seed_n])[-1]) / seed_n + 0.5)
    out[seed_n - 1] = s
    out[seed_n:] = _ewma_q_resume(s, m[seed_n:], alpha)
    return out


def _ewma_q_resume(s: float, vals: np.ndarray, alpha: float) -> np.ndarray:
    """The lattice step s' = floor((1−α)·s + α·x + 0.5) continued from the
    integer accumulator ``s`` over ``vals``: one output per value."""
    a = float(alpha)
    b = 1.0 - a
    out = np.empty(vals.shape[0])
    for i, x in enumerate(vals.tolist()):
        s = math.floor(b * s + a * x + 0.5)
        out[i] = s
    return out


def _ewm_chain(
    state: tuple, x: np.ndarray, p: int, alpha: float, lattice: bool = False
) -> tuple[np.ndarray, tuple]:
    """One SMA-seeded exponential chain over ``x``, resumed from the carry
    ``state`` = (seen, psum, e) — (0, 0.0, NaN) for a fresh chain — and
    returning one output per row plus the carry for the next piece.

    NaN inputs are skipped and emit NaN, as ``_compact_apply`` does. While
    ``seen < p`` the valid values add into the SMA sum ``psum`` (np.cumsum
    seeded by prepending the carried partial sum replays the identical
    left-to-right adds; a fresh sum never prepends the 0.0, because
    0.0 + −0.0 is +0.0); the p-th value emits the seed (``_ewm_seed``), and
    the tail is ``_ewm_resume`` from ``e``. With ``lattice`` the seed is
    floor(psum/p + 0.5) and the tail ``_ewma_q_resume``.

    Cutting ``x`` anywhere and handing the returned state across yields the
    bits of ``ema``/``rma`` (or ``_compact_apply(_ewma_q)``) on the whole
    series: the segmented sweep and the streaming EMA run this once per
    chain per piece. Warm-up is ``seen < p``, not ``isnan(e)``: a chain
    whose accumulator went NaN after seeding (±inf inputs) resumes the
    NaN-seeded ewm as the whole-series kernel does instead of re-seeding."""
    seen, psum, e = state
    out = np.full(x.shape[0], np.nan)
    pos = np.flatnonzero(~np.isnan(x))
    w = x[pos]
    if seen < p:
        k = min(len(w), int(p - seen))
        if k:
            head = np.concatenate(([psum], w[:k])) if seen else w[:k]
            psum, seen = float(np.cumsum(head)[-1]), seen + k
            if seen == p:
                e = math.floor(psum / p + 0.5) if lattice else psum / p
                out[pos[k - 1]] = _ewm_seed(e)
        pos, w = pos[k:], w[k:]
    if len(w):
        r = (_ewma_q_resume if lattice else _ewm_resume)(e, w, alpha)
        out[pos] = r
        e = float(r[-1])
    return out, (seen, psum, e)


def _sma_q(m: np.ndarray, p: int) -> np.ndarray:
    """Quantized trailing mean over integer micro-units: floor(sum/p + 0.5).
    The rolling sum of integers is exact in double, the division and floor
    are single correctly-rounded ops — engine-exact. NaN until p rows."""
    r = pd.Series(m).rolling(p).mean().to_numpy()
    return np.floor(r + 0.5)


def macd_q(x: np.ndarray, fast: int = 12, slow: int = 26, signal: int = 9):
    """(dif, dea, hist) on the INTEGER micro-unit lattice: quantized EMAs
    for both legs and the signal. Input must already be integer-valued
    micro-units (floor(close·1e6 + 0.5)); outputs are integer-valued
    micro-units. Differences of lattice values are exact."""
    ef = _compact_apply(lambda v: _ewma_q(v, 2.0 / (fast + 1), fast), x)
    es = _compact_apply(lambda v: _ewma_q(v, 2.0 / (slow + 1), slow), x)
    dif = ef - es
    dea = _compact_apply(lambda v: _ewma_q(v, 2.0 / (signal + 1), signal), dif)
    return dif, dea, dif - dea


def macdfix_q(x: np.ndarray, signal: int = 9):
    """Quantized MACD(12, 26, signal)."""
    return macd_q(x, 12, 26, signal)


def macdext_q(x: np.ndarray, fast: int = 12, slow: int = 26, signal: int = 9):
    """Quantized MACDEXT with EMA fast/slow legs and an SMA signal leg
    (matypes 1/1/0 — the shape ind_macdext exercises)."""
    ef = _compact_apply(lambda v: _ewma_q(v, 2.0 / (fast + 1), fast), x)
    es = _compact_apply(lambda v: _ewma_q(v, 2.0 / (slow + 1), slow), x)
    dif = ef - es
    dea = _compact_apply(lambda v: _sma_q(v, signal), dif)
    return dif, dea, dif - dea


def trix(x: np.ndarray, p: int = 30) -> np.ndarray:
    """100·ROC₁(EMA³) (momentum.rs:543-569)."""
    e3 = ema(ema(ema(x, p), p), p)
    out = np.full(x.shape[0], np.nan)
    valid = np.where(~np.isnan(e3))[0]
    if valid.shape[0] > 1:
        idx = valid[1:]
        prev = valid[:-1]
        out[idx] = 100.0 * (e3[idx] / e3[prev] - 1.0)
    return out


class _SarParams(NamedTuple):
    """Step-rule constants of the SAR/SAREXT scan. Plain SAR is SAREXT with
    symmetric schedules, offset 0 and unsigned output: ``ep * (1.0 + 0.0)``
    is ``ep * 1.0``, which IEEE-754 guarantees equals ``ep`` bit-for-bit,
    so one scan serves both kernels verbatim."""

    startvalue: float
    offset: float
    init_long: float
    inc_long: float
    max_long: float
    init_short: float
    inc_short: float
    max_short: float
    signed: bool


def _sar_scan(hh, ll, state, i0, p: _SarParams):
    """The SAR/SAREXT iterations ``i0..n-1`` from an optional carried
    state. ``state`` is (long, s, ep, af) at the end of the previous
    iteration; None means the kernel's own trend seeding (startvalue sign
    for SAREXT, bar-1 range comparison otherwise) and a loop from i=1.
    Returns (out, state_out); state_out is None only when n < 2 without a
    state (nothing is emitted there). The steps run on Python floats — the
    same IEEE doubles as numpy scalars, without their boxing cost."""
    (startvalue, offset, init_long, inc_long, max_long,
     init_short, inc_short, max_short, signed) = p
    n = hh.shape[0]
    out = np.full(n, np.nan)
    h, l = hh.tolist(), ll.tolist()
    if state is None:
        if n < 2:
            return out, None
        if startvalue > 0:
            long_, s = True, startvalue
        elif startvalue < 0:
            long_, s = False, -startvalue
        else:
            long_ = (h[1] - h[0]) >= (l[0] - l[1])
            s = l[0] if long_ else h[0]
        ep = h[1] if long_ else l[1]
        af = init_long if long_ else init_short
        i0 = 1
    else:
        long_, s, ep, af = state
    for i in range(i0, n):
        s = s + af * (ep - s)
        if long_:
            s = min(s, l[i - 1], l[max(i - 2, 0)])
            if l[i] < s:  # reverse to short
                s = ep * (1.0 + offset)
                ep = l[i]
                af = init_short
                long_ = False
            elif h[i] > ep:
                ep = h[i]
                af = min(af + inc_long, max_long)
        else:
            s = max(s, h[i - 1], h[max(i - 2, 0)])
            if h[i] > s:  # reverse to long
                s = ep * (1.0 - offset)
                ep = h[i]
                af = init_long
                long_ = True
            elif l[i] < ep:
                ep = l[i]
                af = min(af + inc_short, max_short)
        out[i] = (s if long_ else -s) if signed else s
    return out, (long_, s, ep, af)


def sar(h: np.ndarray, l: np.ndarray, acceleration: float = 0.02, maximum: float = 0.2) -> np.ndarray:
    """Parabolic SAR (overlap.rs:437-454 entry; helper missing from the
    snapshot — standard Wilder algorithm, our declared semantics: initial
    trend long iff h[1]−h[0] ≥ l[0]−l[1]; SAR clamped to the prior two bars'
    range; AF resets on reversal). ``_sar_scan`` with SAREXT's symmetric,
    offset-free, unsigned parameters (see ``_SarParams``)."""
    p = _SarParams(
        0.0, 0.0,
        acceleration, acceleration, maximum,
        acceleration, acceleration, maximum,
        signed=False,
    )
    return _compact_apply(lambda hh, ll: _sar_scan(hh, ll, None, 1, p)[0], h, l)


# ---------------------------------------------------------------------------
# Spark runner
# ---------------------------------------------------------------------------

#: kernel name → (fn, input column count). fn(*arrays, **params) -> array
#: or tuple of arrays (multi-output).


def supertrend(
    h: np.ndarray, l: np.ndarray, c: np.ndarray, p: int = 10, mult: float = 3.0
) -> tuple[np.ndarray, np.ndarray]:
    """SuperTrend: ATR(p) bands around the bar midpoint with ratcheting
    final bands and a flip state machine. Returns (supertrend, direction)
    with direction +1 (uptrend, line = lower band) / −1 (downtrend, line =
    upper band). Seeded at the first valid ATR bar in a downtrend — the
    common charting convention; the recursive SQL twin replays the same
    ratchet/flip conditions on identical doubles."""
    a = atr(h, l, c, p)
    n = h.shape[0]
    st = np.full(n, np.nan)
    d = np.full(n, np.nan)
    mid = (h + l) / 2.0
    bub = mid + mult * a
    blb = mid - mult * a
    started = False
    fub = flb = 0.0
    up = False
    for i in range(n):
        if np.isnan(a[i]):
            continue
        if not started:
            fub, flb = bub[i], blb[i]
            up = False
            st[i] = fub
            d[i] = -1.0
            started = True
            continue
        fub_i = bub[i] if (bub[i] < fub or c[i - 1] > fub) else fub
        flb_i = blb[i] if (blb[i] > flb or c[i - 1] < flb) else flb
        up_i = (c[i] >= flb_i) if up else (c[i] > fub_i)
        st[i] = flb_i if up_i else fub_i
        d[i] = 1.0 if up_i else -1.0
        fub, flb, up = fub_i, flb_i, up_i
    return st, d


KERNELS: dict[str, tuple[Callable, int]] = {
    "ema": (ema, 1),
    "rma": (rma, 1),
    "dema": (dema, 1),
    "tema": (tema, 1),
    "t3": (t3, 1),
    "kama": (kama, 1),
    "rsi": (rsi, 1),
    "trix": (trix, 1),
    "macd": (macd, 1),
    "macd_q": (macd_q, 1),
    "macdfix_q": (macdfix_q, 1),
    "macdext_q": (macdext_q, 1),
    "atr": (atr, 3),
    "natr": (natr, 3),
    "adx": (adx, 3),
    "adxr": (adxr, 3),
    "dx": (dx, 3),
    "plus_di": (plus_di, 3),
    "minus_di": (minus_di, 3),
    "plus_dm": (plus_dm, 2),
    "minus_dm": (minus_dm, 2),
    "sar": (sar, 2),
    "supertrend": (supertrend, 3),
}
#: kernel name → output count: how many names a Rec's ``out`` must give.
#: Each module that extends KERNELS registers its kernels here too.
KERNEL_OUTPUTS: dict[str, int] = {
    **dict.fromkeys(KERNELS, 1),
    "macd": 3, "macd_q": 3, "macdfix_q": 3, "macdext_q": 3, "supertrend": 2,
}


@dataclass
class Rec:
    """One recurrence request: out (str for single-output kernels, list of
    str for multi-output), kernel name, input columns, extra params."""

    out: str | list[str]
    kernel: str
    cols: list[str]
    params: dict = field(default_factory=dict)

    @property
    def out_cols(self) -> list[str]:
        return [self.out] if isinstance(self.out, str) else list(self.out)


def _nan_to_null(out: DataFrame, specs: list[Rec]) -> DataFrame:
    """Warm-up produces NaN in the numpy kernels; the declared semantics
    (and the DuckDB oracles) use NULL — normalize once, in the JVM."""
    from pyspark.sql import functions as F

    new_cols = [name for s in specs for name in s.out_cols]
    return out.select(
        *[c for c in out.columns if c not in new_cols],
        *[
            F.when(~F.isnan(F.col(c)), F.col(c)).alias(c)
            for c in new_cols
        ],
    )


def with_recurrences(
    df: DataFrame,
    specs: list[Rec],
    partition_by: str | list[str] = "symbol",
    order_by: str | list[str] = "t",
) -> DataFrame:
    """Append recurrence output columns, all computed in ONE grouped pass
    per partition (BASELINE.md internal target: batch all recurrences for a
    symbol into a single kernel invocation).

    The group arrives as a ``pyarrow.Table`` (``applyInArrow``); the worker
    casts ONLY the kernel input columns to float64 numpy (null → NaN), runs
    the kernels, and appends the outputs as Arrow float64 arrays wrapping
    the kernels' numpy buffers. Passthrough columns (OHLCV + earlier
    indicator columns riding along) are never materialized in Python.

    A later spec may consume an earlier spec's output column: the append
    makes it visible to the next spec's input extraction. Rows sort stably
    by ``order_by`` (see ``arrow_group.sort_rows`` for the tie caveat).

    Raises before any Spark job: ValueError for an unknown kernel, an input
    column count other than the kernel's registered arity, an output name
    count other than its registered output count, or an input column that
    is neither in ``df`` nor an earlier spec's output; TypeError for
    ``params`` the kernel's signature does not bind."""
    seen = set(df.columns)
    for s in specs:
        if s.kernel not in KERNELS:
            raise ValueError(f"unknown recurrence kernel {s.kernel!r}")
        fn, arity = KERNELS[s.kernel]
        if len(s.cols) != arity:
            raise ValueError(
                f"kernel {s.kernel!r} takes {arity} input column(s), got {s.cols}"
            )
        n_out = KERNEL_OUTPUTS[s.kernel]
        if len(s.out_cols) != n_out:
            raise ValueError(
                f"kernel {s.kernel!r} returns {n_out} output(s), got names {s.out_cols}"
            )
        try:
            inspect.signature(fn).bind(*s.cols, **s.params)
        except TypeError as exc:
            raise TypeError(f"kernel {s.kernel!r} params {s.params}: {exc}") from None
        missing = [c for c in s.cols if c not in seen]
        if missing:
            raise ValueError(f"kernel {s.kernel!r} input column(s) {missing} not found")
        seen.update(s.out_cols)
    keys = [partition_by] if isinstance(partition_by, str) else list(partition_by)
    order = [order_by] if isinstance(order_by, str) else list(order_by)
    schema = StructType(
        df.schema.fields
        + [StructField(name, DoubleType()) for s in specs for name in s.out_cols]
    )
    spec_data = [(s.out_cols, s.kernel, s.cols, s.params) for s in specs]

    def run(tbl: pa.Table) -> pa.Table:
        tbl = sort_rows(tbl, order)
        for out_cols, kname, cols, params in spec_data:
            fn, _ = KERNELS[kname]
            res = fn(*[f64(tbl, c) for c in cols], **params)
            if not isinstance(res, tuple):
                res = (res,)
            for name, arr in zip(out_cols, res):
                tbl = tbl.append_column(
                    name,
                    pa.array(np.asarray(arr, dtype="float64"), type=pa.float64()),
                )
        return tbl

    out = df.groupBy(*keys).applyInArrow(run, schema=schema)
    return _nan_to_null(out, specs)


def macdext(
    x: np.ndarray,
    fast: int = 12,
    slow: int = 26,
    signal: int = 9,
    fast_matype: int = 1,
    slow_matype: int = 1,
    signal_matype: int = 1,
):
    """MACD with per-leg MA type (composition momentum.py:83-88). Types:
    0=SMA, 1=EMA — the two the composition supports; others raise, on
    every leg."""

    def leg(v: np.ndarray, p: int, t: int) -> np.ndarray:
        if t == 1:
            return ema(v, p)
        if t == 0:
            return pd.Series(v).rolling(p).mean().to_numpy()
        raise ValueError(f"macdext matype {t} unsupported")

    ef = leg(x, fast, fast_matype)
    es = leg(x, slow, slow_matype)
    dif = ef - es
    dea = leg(dif, signal, signal_matype)
    return dif, dea, dif - dea


def macdfix(x: np.ndarray, signal: int = 9):
    """MACD(12, 26, signal) (momentum.py:90-92)."""
    return macd(x, 12, 26, signal)


KERNELS.update({"macdext": (macdext, 1), "macdfix": (macdfix, 1)})
KERNEL_OUTPUTS.update({"macdext": 3, "macdfix": 3})


def adosc(
    h: np.ndarray,
    l: np.ndarray,
    c: np.ndarray,
    v: np.ndarray,
    fast: int = 3,
    slow: int = 10,
):
    """Chaikin A/D oscillator: EMA(AD, fast) − EMA(AD, slow) over the running
    A/D line (volume.rs:34-66; the snapshot double-accumulates AD — SURVEY §0
    — we use the documented contract). SMA-seeded EMAs like every other scan."""

    def _adosc(hh, ll, cc, vv):
        with np.errstate(invalid="ignore", divide="ignore"):
            rng = hh - ll
            clv = np.where(rng != 0, ((cc - ll) - (hh - cc)) / rng, 0.0)
        ad_line = np.cumsum(clv * vv)
        return _ewma(ad_line, 2.0 / (fast + 1), fast) - _ewma(ad_line, 2.0 / (slow + 1), slow)

    return _compact_apply(_adosc, h, l, c, v)


KERNELS.update({"adosc": (adosc, 4)})
KERNEL_OUTPUTS.update({"adosc": 1})


def sarext(
    h: np.ndarray,
    l: np.ndarray,
    startvalue: float = 0.0,
    offsetonreverse: float = 0.0,
    accelerationinitlong: float = 0.02,
    accelerationlong: float = 0.02,
    accelerationmaxlong: float = 0.2,
    accelerationinitshort: float = 0.02,
    accelerationshort: float = 0.02,
    accelerationmaxshort: float = 0.2,
):
    """Extended parabolic SAR (overlap.rs:457-491 entry; helper missing —
    TA-Lib contract: separate long/short acceleration schedules, an offset
    applied on reversal, and a signed start value choosing the initial trend;
    output is positive while long, negative while short): ``_sar_scan``."""
    p = _SarParams(
        startvalue, offsetonreverse,
        accelerationinitlong, accelerationlong, accelerationmaxlong,
        accelerationinitshort, accelerationshort, accelerationmaxshort,
        signed=True,
    )
    return _compact_apply(lambda hh, ll: _sar_scan(hh, ll, None, 1, p)[0], h, l)


KERNELS.update({"sarext": (sarext, 2)})
KERNEL_OUTPUTS.update({"sarext": 1})


def holt(x: np.ndarray, alpha: float = 0.5, beta: float = 0.3) -> tuple:
    """Holt linear-trend smoothing (double exponential): level l, trend b,
    and the one-step-ahead fitted forecast f.

        l[0] = y[0];  b[0] = y[1] − y[0]
        f[i] = l[i−1] + b[i−1]
        l[i] = α·y[i] + (1−α)·(l[i−1] + b[i−1])
        b[i] = β·(l[i] − l[i−1]) + (1−β)·b[i−1]

    The exact operation tree (a·y first, then (1−α)·(l+b), then the add)
    is mirrored literally by the oracle's recursive-CTE twin (constants are
    repr() literals), so the float sequences are bit-identical. The Python
    loop is fine here: the intended inputs are already-aggregated series
    (daily counts, breadth), thousands of rows at most."""
    n = x.shape[0]
    lev = np.full(n, np.nan)
    trd = np.full(n, np.nan)
    fc = np.full(n, np.nan)
    mask = ~np.isnan(x)
    idx = np.flatnonzero(mask)
    if idx.shape[0] < 2:
        return lev, trd, fc
    y = x[idx]
    om, ob = 1.0 - alpha, 1.0 - beta
    lv = y[0]
    bv = y[1] - y[0]
    lev[idx[0]] = lv
    trd[idx[0]] = bv
    for k in range(1, idx.shape[0]):
        fv = lv + bv
        ln = alpha * y[k] + om * (lv + bv)
        bn = beta * (ln - lv) + ob * bv
        j = idx[k]
        fc[j] = fv
        lev[j] = ln
        trd[j] = bn
        lv, bv = ln, bn
    return lev, trd, fc


KERNELS.update({"holt": (holt, 1)})
KERNEL_OUTPUTS.update({"holt": 3})


def garch(x: np.ndarray, omega: float = 1e-05, a: float = 0.05, b: float = 0.9) -> np.ndarray:
    """GARCH(1,1) conditional variance over a return series:

        h[0] = r[0]²;  h[i] = ω + α·r[i−1]² + β·h[i−1]

    (fixed parameters — estimation is out of scope; this is the filtering
    recurrence). Operation tree mirrored literally by the oracle CTE:
    (ω + α·(r·r)) + β·h, constants as repr() literals."""

    def _scan(r: np.ndarray) -> np.ndarray:
        n = r.shape[0]
        h = np.empty(n)
        if n == 0:
            return h
        hv = r[0] * r[0]
        h[0] = hv
        for i in range(1, n):
            rp = r[i - 1]
            hv = omega + a * (rp * rp) + b * hv
            h[i] = hv
        return h

    return _compact_apply(_scan, x)


KERNELS.update({"garch": (garch, 1)})
KERNEL_OUTPUTS.update({"garch": 1})


def renko(c: np.ndarray, pct: float = 0.005) -> tuple:
    """Renko brick state over a close series — all-integer recurrence.

    Prices quantize to micro units; the brick size is
    ⌊first_close_micro · pct + 0.5⌋; the level moves only in whole bricks:

        qc ≥ L + bk → L += ((qc − L) div bk)·bk   (+k bricks)
        qc ≤ L − bk → L −= ((L − qc) div bk)·bk   (−k bricks)

    Returns (level, brick_delta) in price units / brick counts. Every
    operation is exact integer arithmetic carried in float64 (values ≪ 2⁵³),
    so the oracle's recursive CTE matches bit-for-bit with no float-drift
    analysis needed at all."""
    n = c.shape[0]
    lev = np.full(n, np.nan)
    dlt = np.full(n, np.nan)
    idx = np.flatnonzero(~np.isnan(c))
    if idx.shape[0] == 0:
        return lev, dlt
    qc = np.floor(c * 1e6 + 0.5)
    L = qc[idx[0]]
    bk = np.floor(L * pct + 0.5)
    if bk <= 0:
        bk = 1.0
    lev[idx[0]] = L / 1e6
    dlt[idx[0]] = 0.0
    for k in range(1, idx.shape[0]):
        j = idx[k]
        q = qc[j]
        d = 0.0
        if q >= L + bk:
            d = np.floor((q - L) / bk)
            L = L + d * bk
        elif q <= L - bk:
            d = -np.floor((L - q) / bk)
            L = L + d * bk
        lev[j] = L / 1e6
        dlt[j] = d
    return lev, dlt


KERNELS.update({"renko": (renko, 1)})
KERNEL_OUTPUTS.update({"renko": 2})


def zigzag(c: np.ndarray, pct: float = 0.03) -> tuple:
    """ZigZag confirmed swing pivots — integer state machine.

    Prices quantize to micro; the machine tracks the running extreme
    (starting in up mode from the first close) and confirms a pivot when
    price retraces ⌊extreme·pct + 0.5⌋ micro from it, marking the pivot AT
    THE EXTREME'S BAR: +1 swing high, −1 swing low. The final, unconfirmed
    swing is never emitted. All comparisons are exact integers (float64-
    carried), so the recursive-CTE twin is bit-identical by construction."""
    n = c.shape[0]
    piv = np.zeros(n)
    px = np.full(n, np.nan)
    idx = np.flatnonzero(~np.isnan(c))
    if idx.shape[0] == 0:
        return piv, px
    qc = np.floor(c * 1e6 + 0.5)
    d = 1.0
    ext = qc[idx[0]]
    ext_i = idx[0]
    for k in range(1, idx.shape[0]):
        j = idx[k]
        q = qc[j]
        thr = np.floor(ext * pct + 0.5)
        if d > 0:
            if q > ext:
                ext, ext_i = q, j
            elif ext - q >= thr:
                piv[ext_i] = 1.0
                px[ext_i] = ext / 1e6
                d, ext, ext_i = -1.0, q, j
        else:
            if q < ext:
                ext, ext_i = q, j
            elif q - ext >= thr:
                piv[ext_i] = -1.0
                px[ext_i] = ext / 1e6
                d, ext, ext_i = 1.0, q, j
    return piv, px


KERNELS.update({"zigzag": (zigzag, 1)})
KERNEL_OUTPUTS.update({"zigzag": 2})


def cusum(x: np.ndarray, drift_frac: float = 0.05) -> tuple:
    """Two-sided CUSUM drift detector over a count/level series — integer
    state machine. The series quantizes to micro units; the reference
    level μ is the (floor-rounded) series mean and the drift allowance
    k = ⌊μ·drift_frac + 0.5⌋:

        S⁺ = max(0, S⁺ + x − μ − k);  S⁻ = max(0, S⁻ + μ − x − k)

    Returns (S⁺, S⁻, alarm) with alarm = 1 when either side exceeds μ.
    All integer arithmetic (float64-carried), so the recursive twin is
    bit-identical by construction."""
    n = x.shape[0]
    sp_o = np.full(n, np.nan)
    sn_o = np.full(n, np.nan)
    al_o = np.full(n, np.nan)
    idx = np.flatnonzero(~np.isnan(x))
    if idx.shape[0] == 0:
        return sp_o, sn_o, al_o
    xq = np.floor(x[idx] * 1e6 + 0.5)
    muq = np.floor(np.sum(xq) / xq.shape[0] + 0.5)
    kq = np.floor(muq * drift_frac + 0.5)
    h = muq
    sp = 0.0
    sn = 0.0
    for i, j in enumerate(idx):
        sp = max(0.0, sp + xq[i] - muq - kq)
        sn = max(0.0, sn + muq - xq[i] - kq)
        sp_o[j] = sp / 1e6
        sn_o[j] = sn / 1e6
        al_o[j] = 1.0 if (sp > h or sn > h) else 0.0
    return sp_o, sn_o, al_o


KERNELS.update({"cusum": (cusum, 1)})
KERNEL_OUTPUTS.update({"cusum": 3})
