"""MESA / Hilbert-transform indicator family — one numpy state machine, six
output modes + MAMA (SURVEY.md §2.5 Cycle; /root/reference/src/talib/cycle.rs).

The reference implements six kernels sharing one state machine
(cycle.rs:27-64 is the canonical copy): a 4-bar WMA smoother
(calc_smooth, cycle.rs:462-470), the Hilbert FIR (±0.0962/±0.5769) with
adj = 0.075·period + 0.54, I/Q mixing, period clamped to
[0.67·prev, 1.5·prev] ∩ [6, 50], and 0.2-EMA smoothing. All outputs are null
for the first 31 rows (cycle.rs:66-68) and the whole series is null when
n < 32 (cycle.rs:16-18). MAMA (overlap.rs:156-177 entry; helper missing from
the snapshot) shares the pipeline with a phase-rate-of-change adaptive alpha;
the algorithm follows the published Ehlers recurrence (documented
divergence: no reference kernel exists in the snapshot to pin it to).

Round-3 parity fix: the state machine is now a line-for-line transcription
of cycle.rs (atan of the im/re RATIO — not atan2; full loop body from bar 6;
zero-seeded smoother; re-clamp every bar; raw vs adjusted phase split;
trendline = plain 4-bar price average; output from bar 31). An independent
ring-buffer implementation of the same contract lives in
tests/mesa_reference.py and is asserted bit-exact in
tests/test_mesa_reference_parity.py.

Spark-side: inherently sequential per symbol → these kernels run inside the
recurrence runner's single applyInArrow pass (KERNELS registry below extends
operators.recurrence.KERNELS on import).
"""

from __future__ import annotations

import math

import numpy as np

from polars_quant_spark.operators import recurrence as _rec

WARMUP = 32


def _hilbert_fir(x: np.ndarray, i: int, adj: float) -> float:
    """0.0962·x[i] + 0.5769·x[i−2] − 0.5769·x[i−4] − 0.0962·x[i−6], scaled."""
    return (
        0.0962 * x[i] + 0.5769 * x[i - 2] - 0.5769 * x[i - 4] - 0.0962 * x[i - 6]
    ) * adj


def _mesa_state(v: np.ndarray) -> dict[str, np.ndarray]:
    """Run the shared MESA state machine over a dense price array —
    an exact transcription of the reference's per-bar recurrence
    (cycle.rs:20-68, identical preamble in all six HT_ kernels):

    * smooth = 4-bar WMA, ZERO for the first 3 bars (calc_smooth,
      cycle.rs:462-470 — no price fallback);
    * one loop from bar 6 with the FULL body every bar (detrender, q1,
      i1 = detrender delayed 3, ji/jq, 0.2/0.8-EMA'd I2/Q2, homodyne
      re/im) — ring-buffer zeros map to array zeros;
    * prev_period is 6.0 only at bar 6, afterwards the running smoothed
      period (which starts 0.0 and is re-clamped every bar even when
      im/re are zero — cycle.rs:58-64);
    * period = 2π / ATAN(im/re) — the reference uses the principal atan
      of the RATIO, not atan2 (cycle.rs:59; round-2 of this repo used
      atan2, caught by the independent contract test
      tests/test_mesa_reference_parity.py);
    * phase (HT_DCPHASE form, cycle.rs:131-143): atan(q1/i1) in degrees
      (0 when i1 == 0), +90°, +180° when i1 < 0, −360° when > 315°;
      ``raw_phase`` is the same atan WITHOUT the adjustments — HT_SINE
      feeds sin() from that raw value (cycle.rs:295-302).

    Returns per-bar arrays: period, speriod, phase (adjusted),
    raw_phase, i1, q1, smooth.
    """
    n = v.shape[0]
    smooth = np.zeros(n)
    det = np.zeros(n)
    i1 = np.zeros(n)
    q1 = np.zeros(n)
    i2 = np.zeros(n)
    q2 = np.zeros(n)
    re = np.zeros(n)
    im = np.zeros(n)
    period_arr = np.zeros(n)
    speriod = np.zeros(n)
    phase = np.zeros(n)
    raw_phase = np.zeros(n)

    for i in range(3, n):
        smooth[i] = (4.0 * v[i] + 3.0 * v[i - 1] + 2.0 * v[i - 2] + v[i - 3]) * 0.1

    period = 0.0
    sper = 0.0
    for i in range(6, n):
        prev_p = period if i > 6 else 6.0
        adj = 0.075 * prev_p + 0.54
        det[i] = _hilbert_fir(smooth, i, adj)
        q1[i] = _hilbert_fir(det, i, adj)
        i1[i] = det[i - 3]
        ji = _hilbert_fir(i1, i, adj)
        jq = _hilbert_fir(q1, i, adj)
        i2[i] = 0.2 * (i1[i] - jq) + 0.8 * i2[i - 1]
        q2[i] = 0.2 * (q1[i] + ji) + 0.8 * q2[i - 1]
        re[i] = 0.2 * (i2[i] * i2[i - 1] + q2[i] * q2[i - 1]) + 0.8 * re[i - 1]
        im[i] = 0.2 * (i2[i] * q2[i - 1] - q2[i] * i2[i - 1]) + 0.8 * im[i - 1]
        if im[i] != 0.0 and re[i] != 0.0:
            period = 2.0 * np.pi / math.atan(im[i] / re[i])
        period = min(max(period, 0.67 * prev_p), 1.5 * prev_p)
        period = min(max(period, 6.0), 50.0)
        period = 0.2 * period + 0.8 * prev_p
        sper = 0.33 * period + 0.67 * sper
        period_arr[i] = period
        speriod[i] = sper
        raw = math.degrees(math.atan(q1[i] / i1[i])) if i1[i] != 0.0 else 0.0
        raw_phase[i] = raw
        ph = raw + 90.0
        if i1[i] < 0.0:
            ph += 180.0
        if ph > 315.0:
            ph -= 360.0
        phase[i] = ph

    return {
        "period": period_arr,
        "speriod": speriod,
        "phase": phase,
        "raw_phase": raw_phase,
        "i1": i1,
        "q1": q1,
        "smooth": smooth,
    }


def _warm_mask(n: int) -> np.ndarray:
    # the reference emits from bar index 31: first 31 rows null
    # (cycle.rs:66-68), while series shorter than 32 rows are all-null
    # (cycle.rs:16-18) — WARMUP is the length floor, WARMUP-1 the mask
    out = np.zeros(n, dtype=bool)
    out[: WARMUP - 1] = True
    return out


def _with_state(fn):
    def kernel(x: np.ndarray, **params) -> np.ndarray:
        def dense(v: np.ndarray) -> np.ndarray:
            n = v.shape[0]
            if n < WARMUP:
                return np.full(n, np.nan)
            st = _mesa_state(v)
            out = fn(v, st, **params)
            out[_warm_mask(n)] = np.nan
            return out

        return _rec._compact_apply(dense, x)

    return kernel


@_with_state
def ht_dcperiod(v, st):
    """Dominant cycle period (cycle.rs:9-72)."""
    return st["speriod"].copy()


@_with_state
def ht_dcphase(v, st):
    """Dominant cycle phase (cycle.rs:74-147)."""
    return st["phase"].copy()


def ht_phasor(x: np.ndarray):
    """(inphase, quadrature) pair (cycle.rs:158-227)."""

    def dense(v):
        n = v.shape[0]
        if n < WARMUP:
            return np.full(n, np.nan), np.full(n, np.nan)
        st = _mesa_state(v)
        i1, q1 = st["i1"].copy(), st["q1"].copy()
        m = _warm_mask(n)
        i1[m] = np.nan
        q1[m] = np.nan
        return i1, q1

    mask = ~np.isnan(x)
    i_out = np.full(x.shape[0], np.nan)
    q_out = np.full(x.shape[0], np.nan)
    if mask.sum():
        i_v, q_v = dense(x[mask])
        i_out[mask] = i_v
        q_out[mask] = q_v
    return i_out, q_out


def ht_sine(x: np.ndarray):
    """(sine, leadsine) = sin(dc_phase), sin(dc_phase+45°) where dc_phase
    is the RAW atan(q1/i1) in degrees, without HT_DCPHASE's +90/+180/315
    adjustments (cycle.rs:295-302)."""

    def dense(v):
        n = v.shape[0]
        if n < WARMUP:
            return np.full(n, np.nan), np.full(n, np.nan)
        st = _mesa_state(v)
        deg = st["raw_phase"]
        s = np.sin(np.radians(deg))
        # the reference adds the 45° lead in DEGREES before converting
        # (cycle.rs:301) — radians(d)+π/4 differs in the last ulp
        lead = np.sin(np.radians(deg + 45.0))
        m = _warm_mask(n)
        s[m] = np.nan
        lead[m] = np.nan
        return s, lead

    mask = ~np.isnan(x)
    s_out = np.full(x.shape[0], np.nan)
    l_out = np.full(x.shape[0], np.nan)
    if mask.sum():
        s_v, l_v = dense(x[mask])
        s_out[mask] = s_v
        l_out[mask] = l_v
    return s_out, l_out


def _trendline4(v: np.ndarray) -> np.ndarray:
    """The reference's trendline: the plain average of the last 4 raw
    prices (cycle.rs:365-369 — NOT the Ehlers cycle-period average; the
    reference simplified it, and parity means matching what it ships).
    Bars 0-2 get partial zeros exactly like the Rust ring (warmup masks
    them anyway)."""
    n = v.shape[0]
    tl = np.zeros(n)
    for j in range(4):
        tl[j:] += v[: n - j] if j else v
    return tl * 0.25


@_with_state
def ht_trendline(v, st):
    """Instantaneous trendline = 4-bar average of price (cycle.rs:309-374;
    output gated to bars ≥ 31 like every HT_ kernel)."""
    return _trendline4(v)


@_with_state
def ht_trendmode(v, st):
    """1 when |price − trendline| > 1%·trendline else 0, trendline signed
    as in the reference (cycle.rs:434-443)."""
    tl = _trendline4(v)
    with np.errstate(invalid="ignore", divide="ignore"):
        return np.where(np.abs(v - tl) > 0.01 * tl, 1.0, 0.0)


def mama(x: np.ndarray, fastlimit: float = 0.5, slowlimit: float = 0.05):
    """MESA adaptive MA pair (mama, fama) — overlap.rs:156-177 entry, helper
    missing; algorithm from the dead-code cycle.py:32-91 / Ehlers: alpha =
    clamp(fast/ (phase rate of change), slow, fast)."""

    def dense(v):
        n = v.shape[0]
        if n < WARMUP:
            return np.full(n, np.nan), np.full(n, np.nan)
        st = _mesa_state(v)
        # the published Ehlers MAMA rate-of-change uses the RAW
        # atan(Q1/I1) phase (no +90°/quadrant adjustments) — the same
        # phase HT_SINE consumes; the reference's calc_mama helper is
        # absent from the snapshot, so the published formula is the
        # contract (documented divergence).
        phase = st["raw_phase"]
        m_out = np.zeros(n)
        f_out = np.zeros(n)
        m_out[0] = v[0]
        f_out[0] = v[0]
        for i in range(1, n):
            delta = phase[i - 1] - phase[i]
            if delta < 1.0:
                delta = 1.0
            alpha = fastlimit / delta
            if alpha < slowlimit:
                alpha = slowlimit
            if alpha > fastlimit:
                alpha = fastlimit
            m_out[i] = alpha * v[i] + (1.0 - alpha) * m_out[i - 1]
            f_out[i] = 0.5 * alpha * m_out[i] + (1.0 - 0.5 * alpha) * f_out[i - 1]
        m = _warm_mask(n)
        m_out[m] = np.nan
        f_out[m] = np.nan
        return m_out, f_out

    mask = ~np.isnan(x)
    m_res = np.full(x.shape[0], np.nan)
    f_res = np.full(x.shape[0], np.nan)
    if mask.sum():
        m_v, f_v = dense(x[mask])
        m_res[mask] = m_v
        f_res[mask] = f_v
    return m_res, f_res


def mavp(x: np.ndarray, periods: np.ndarray, minperiod: int = 2, maxperiod: int = 30):
    """Variable-period SMA: per-row window length from `periods`, clamped to
    [minperiod, maxperiod] (overlap.rs:407-434 entry; helper missing —
    matype=0/SMA semantics)."""

    def dense(v: np.ndarray, per: np.ndarray) -> np.ndarray:
        n = v.shape[0]
        out = np.full(n, np.nan)
        for i in range(n):
            p = int(per[i])
            p = max(minperiod, min(maxperiod, p))
            if i + 1 >= p:
                out[i] = float(np.cumsum(v[i - p + 1 : i + 1])[-1]) / p
        return out

    return _rec._compact_apply(dense, x, periods)


# register into the shared kernel table
_rec.KERNELS.update(
    {
        "ht_dcperiod": (ht_dcperiod, 1),
        "ht_dcphase": (ht_dcphase, 1),
        "ht_phasor": (ht_phasor, 1),
        "ht_sine": (ht_sine, 1),
        "ht_trendline": (ht_trendline, 1),
        "ht_trendmode": (ht_trendmode, 1),
        "mama": (mama, 1),
        "mavp": (mavp, 2),
    }
)
_rec.KERNEL_OUTPUTS.update(
    {
        "ht_dcperiod": 1,
        "ht_dcphase": 1,
        "ht_phasor": 2,
        "ht_sine": 2,
        "ht_trendline": 1,
        "ht_trendmode": 1,
        "mama": 2,
        "mavp": 1,
    }
)
