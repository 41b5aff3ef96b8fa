"""Extension query surface: Wilder DMI family, SAR, stochastic variants,
APO/PPO, candlestick patterns. Registered into the same QUERIES/ORACLES
registries as queries.py (imported from there)."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from polars_quant_spark.functions import momentum as mo
from polars_quant_spark.functions import overlap as ov
from polars_quant_spark.functions import pattern as pat
from polars_quant_spark.functions._util import round6 as r6
from polars_quant_spark.operators.recurrence import Rec, with_recurrences
from polars_quant_spark.oracle import ema_ctes, ema_q_ctes, ewm_step, recursive_with
from polars_quant_spark.sources.bars import bars

from polars_quant_spark.queries import ORACLES, QUERIES, _win, _ORD, micros, q

KEY = ["symbol", "t"]


def _w():
    return Window.partitionBy("symbol").orderBy("t")


# ---------------------------------------------------------------------------
# Wilder DMI family: +DI/−DI/±DM/DX/ADX/ADXR in ONE recurrence pass
# ---------------------------------------------------------------------------

_P = 14

_DMI_CTES = f"""
dmi_base AS MATERIALIZED (
  SELECT symbol, t,
         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY t) AS rn,
         pdm, mdm, tr
  FROM (
    SELECT symbol, t,
      CASE WHEN (high - ph) > (pl - low) AND (high - ph) > 0 THEN high - ph ELSE 0.0 END AS pdm,
      CASE WHEN (pl - low) > (high - ph) AND (pl - low) > 0 THEN pl - low ELSE 0.0 END AS mdm,
      GREATEST(high - low, ABS(high - pc), ABS(low - pc)) AS tr
    FROM (
      SELECT symbol, t, high, low,
             LAG(high) OVER {_ORD} AS ph,
             LAG(low) OVER {_ORD} AS pl,
             LAG(close) OVER {_ORD} AS pc
      FROM bars) x
    WHERE pc IS NOT NULL
  ) y
),
dmi_rec AS (
  SELECT symbol, rn, spdm, smdm, str FROM (
    SELECT symbol, rn,
           AVG(pdm) OVER wp AS spdm, AVG(mdm) OVER wp AS smdm, AVG(tr) OVER wp AS str
    FROM dmi_base
    WINDOW wp AS (PARTITION BY symbol ORDER BY rn ROWS BETWEEN {_P - 1} PRECEDING AND CURRENT ROW)
  ) s WHERE rn = {_P}
  UNION ALL
  SELECT b.symbol, b.rn,
         {ewm_step("r.spdm", "b.pdm", 1.0 / _P)},
         {ewm_step("r.smdm", "b.mdm", 1.0 / _P)},
         {ewm_step("r.str", "b.tr", 1.0 / _P)}
  FROM dmi_rec r JOIN dmi_base b ON b.symbol = r.symbol AND b.rn = r.rn + 1
),
dx_tbl AS MATERIALIZED (
  SELECT d.symbol, b.t, d.rn,
         d.spdm, d.smdm,
         CASE WHEN d.str > 0 THEN 100.0 * d.spdm / d.str ELSE 0.0 END AS pdi,
         CASE WHEN d.str > 0 THEN 100.0 * d.smdm / d.str ELSE 0.0 END AS mdi
  FROM dmi_rec d JOIN dmi_base b ON b.symbol = d.symbol AND b.rn = d.rn
),
dx2 AS MATERIALIZED (
  SELECT symbol, t, rn, spdm, smdm, pdi, mdi,
         CASE WHEN pdi + mdi > 0 THEN 100.0 * ABS(pdi - mdi) / (pdi + mdi) ELSE 0.0 END AS dx,
         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY rn) AS rn2
  FROM dx_tbl
),
adx_rec AS (
  SELECT symbol, rn2, adx FROM (
    SELECT symbol, rn2,
           AVG(dx) OVER wp AS adx
    FROM dx2
    WINDOW wp AS (PARTITION BY symbol ORDER BY rn2 ROWS BETWEEN {_P - 1} PRECEDING AND CURRENT ROW)
  ) s WHERE rn2 = {_P}
  UNION ALL
  SELECT b.symbol, b.rn2, {ewm_step("r.adx", "b.dx", 1.0 / _P)}
  FROM adx_rec r JOIN dx2 b ON b.symbol = r.symbol AND b.rn2 = r.rn2 + 1
),
adx_bars AS MATERIALIZED (
  SELECT b.symbol, b.t, d.pdi, d.mdi, d.dx, d.spdm, d.smdm, a.adx
  FROM bars b
  LEFT JOIN dx2 d ON b.symbol = d.symbol AND b.t = d.t
  LEFT JOIN adx_rec a ON d.symbol = a.symbol AND d.rn2 = a.rn2
)"""

QUERIES["ind_adx_family_14"] = lambda spark, sf_dir: with_recurrences(
    bars(spark, sf_dir),
    [
        Rec("plus_di_14", "plus_di", ["high", "low", "close"], {"p": _P}),
        Rec("minus_di_14", "minus_di", ["high", "low", "close"], {"p": _P}),
        Rec("plus_dm_14", "plus_dm", ["high", "low"], {"p": _P}),
        Rec("minus_dm_14", "minus_dm", ["high", "low"], {"p": _P}),
        Rec("dx_14", "dx", ["high", "low", "close"], {"p": _P}),
        Rec("adx_14", "adx", ["high", "low", "close"], {"p": _P}),
        Rec("adxr_14", "adxr", ["high", "low", "close"], {"p": _P}),
    ],
).select(
    "symbol",
    "t",
    r6(F.col("plus_di_14")).alias("plus_di_14"),
    r6(F.col("minus_di_14")).alias("minus_di_14"),
    r6(F.col("plus_dm_14")).alias("plus_dm_14"),
    r6(F.col("minus_dm_14")).alias("minus_dm_14"),
    r6(F.col("dx_14")).alias("dx_14"),
    r6(F.col("adx_14")).alias("adx_14"),
    r6(F.col("adxr_14")).alias("adxr_14"),
)

ORACLES["ind_adx_family_14"] = (
    recursive_with(_DMI_CTES)
    + f"""
SELECT a.symbol, a.t,
       ROUND(a.pdi, 6) AS plus_di_14,
       ROUND(a.mdi, 6) AS minus_di_14,
       ROUND(a.spdm, 6) AS plus_dm_14,
       ROUND(a.smdm, 6) AS minus_dm_14,
       ROUND(a.dx, 6) AS dx_14,
       ROUND(a.adx, 6) AS adx_14,
       ROUND((a.adx + LAG(a.adx, {_P - 1}) OVER (PARTITION BY a.symbol ORDER BY a.t)) / 2.0, 6) AS adxr_14
FROM adx_bars a
"""
)


# ---------------------------------------------------------------------------
# Parabolic SAR — recursive CTE carrying (s, ep, af, lng) state
# ---------------------------------------------------------------------------

_ACC, _MAX = 0.02, 0.2
_ACC_R, _MAX_R = repr(_ACC), repr(_MAX)

# One update step of the numpy kernel (operators/recurrence.py sar):
#   s' = s + af·(ep − s); clamp into prior two bars; reverse / extend.
_SAR_CTES = f"""
sar_base AS MATERIALIZED (
  SELECT symbol, t,
         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY t) AS rn,
         high AS h, low AS l,
         LAG(high) OVER {_ORD} AS ph, LAG(low) OVER {_ORD} AS pl,
         COALESCE(LAG(high, 2) OVER {_ORD}, LAG(high) OVER {_ORD}) AS p2h,
         COALESCE(LAG(low, 2) OVER {_ORD}, LAG(low) OVER {_ORD}) AS p2l
  FROM bars
),
sar_rec AS (
  -- seed: bar rn=2 applies the first update to the initial state
  SELECT symbol, rn, s, ep, af, lng FROM (
    SELECT symbol, rn,
           CASE WHEN lng THEN
             CASE WHEN l < s_c2 THEN ep0 ELSE s_c2 END
           ELSE
             CASE WHEN h > s_c3 THEN ep0 ELSE s_c3 END
           END AS s,
           CASE WHEN lng THEN
             CASE WHEN l < s_c2 THEN l
                  WHEN h > ep0 THEN h ELSE ep0 END
           ELSE
             CASE WHEN h > s_c3 THEN h
                  WHEN l < ep0 THEN l ELSE ep0 END
           END AS ep,
           CASE WHEN lng THEN
             CASE WHEN l < s_c2 THEN {_ACC_R}
                  WHEN h > ep0 THEN LEAST(af0 + {_ACC_R}, {_MAX_R}) ELSE af0 END
           ELSE
             CASE WHEN h > s_c3 THEN {_ACC_R}
                  WHEN l < ep0 THEN LEAST(af0 + {_ACC_R}, {_MAX_R}) ELSE af0 END
           END AS af,
           CASE WHEN lng THEN (l >= s_c2) ELSE (h > s_c3) END AS lng
    FROM (
      SELECT symbol, rn, h, l, lng, ep0, af0,
             LEAST(s_c, pl, p2l) AS s_c2,
             GREATEST(s_c, ph, p2h) AS s_c3
      FROM (
        SELECT symbol, rn, h, l, ph, pl, p2h, p2l,
               (h - ph) >= (pl - l) AS lng,
               CASE WHEN (h - ph) >= (pl - l) THEN pl ELSE ph END AS s0,
               CASE WHEN (h - ph) >= (pl - l) THEN h ELSE l END AS ep0,
               {_ACC_R} AS af0,
               (CASE WHEN (h - ph) >= (pl - l) THEN pl ELSE ph END)
                 + {_ACC_R} * ((CASE WHEN (h - ph) >= (pl - l) THEN h ELSE l END)
                               - (CASE WHEN (h - ph) >= (pl - l) THEN pl ELSE ph END)) AS s_c
        FROM sar_base WHERE rn = 2
      ) i1
    ) i2
  ) i3
  UNION ALL
  SELECT symbol, rn, s, ep, af, lng FROM (
    SELECT symbol, rn,
           CASE WHEN lng THEN
             CASE WHEN l < s_c2 THEN ep_p ELSE s_c2 END
           ELSE
             CASE WHEN h > s_c3 THEN ep_p ELSE s_c3 END
           END AS s,
           CASE WHEN lng THEN
             CASE WHEN l < s_c2 THEN l
                  WHEN h > ep_p THEN h ELSE ep_p END
           ELSE
             CASE WHEN h > s_c3 THEN h
                  WHEN l < ep_p THEN l ELSE ep_p END
           END AS ep,
           CASE WHEN lng THEN
             CASE WHEN l < s_c2 THEN {_ACC_R}
                  WHEN h > ep_p THEN LEAST(af_p + {_ACC_R}, {_MAX_R}) ELSE af_p END
           ELSE
             CASE WHEN h > s_c3 THEN {_ACC_R}
                  WHEN l < ep_p THEN LEAST(af_p + {_ACC_R}, {_MAX_R}) ELSE af_p END
           END AS af,
           CASE WHEN lng THEN (l >= s_c2) ELSE (h > s_c3) END AS lng
    FROM (
      SELECT symbol, rn, h, l, lng, ep_p, af_p,
             LEAST(s_c, pl, p2l) AS s_c2,
             GREATEST(s_c, ph, p2h) AS s_c3
      FROM (
        SELECT b.symbol, b.rn, b.h, b.l, b.ph, b.pl, b.p2h, b.p2l,
               r.lng, r.ep AS ep_p, r.af AS af_p,
               r.s + r.af * (r.ep - r.s) AS s_c
        FROM sar_rec r JOIN sar_base b ON b.symbol = r.symbol AND b.rn = r.rn + 1
      ) j1
    ) j2
  ) j3
),
sar_out AS MATERIALIZED (
  SELECT b.symbol, b.t, r.s AS sar
  FROM sar_base b LEFT JOIN sar_rec r ON b.symbol = r.symbol AND b.rn = r.rn
)"""

QUERIES["ind_sar"] = lambda spark, sf_dir: with_recurrences(
    bars(spark, sf_dir),
    [Rec("sar", "sar", ["high", "low"], {"acceleration": _ACC, "maximum": _MAX})],
).select("symbol", "t", r6(F.col("sar")).alias("sar"))

ORACLES["ind_sar"] = (
    recursive_with(_SAR_CTES)
    + """
SELECT symbol, t, ROUND(sar, 6) AS sar
FROM sar_out
"""
)


# ---------------------------------------------------------------------------
# stochastic variants / APO / PPO
# ---------------------------------------------------------------------------


from polars_quant_spark.sources.bars import BARS_CTE  # noqa: E402


@q(
    "ind_stochf",
    BARS_CTE
    + f"""
, fk AS (
  SELECT symbol, t,
         CASE WHEN COUNT(close) OVER w5 = 5 THEN
           CASE WHEN MAX(high) OVER w5 = MIN(low) OVER w5 THEN 0.0
                ELSE 100.0 * (close - MIN(low) OVER w5) / (MAX(high) OVER w5 - MIN(low) OVER w5) END
         END AS fastk
  FROM bars
  WINDOW w5 AS {_win(5)}
)
SELECT symbol, t, ROUND(fastk, 6) AS stochf_fastk,
       ROUND(CASE WHEN COUNT(fastk) OVER w3 = 3 THEN AVG(fastk) OVER w3 END, 6) AS stochf_fastd
FROM fk
WINDOW w3 AS {_win(3)}
""",
)
def ind_stochf(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = bars(spark, sf_dir)
    out = mo.stochf(b, "high", "low", "close", 5, 3, "symbol", "t", "sf")
    return out.select(
        "symbol",
        "t",
        r6(F.col("sf_fastk")).alias("stochf_fastk"),
        r6(F.col("sf_fastd")).alias("stochf_fastd"),
    )


def _stochrsi_spark(spark: SparkSession, sf_dir: str) -> DataFrame:
    """STOCHF applied to RSI(14) via the library function
    (functions/momentum.py::stochrsi, mirroring the reference wrapper at
    python/polars_quant/talib/momentum.py:197-205)."""
    b = mo.stochrsi(bars(spark, sf_dir), "close", 14, 5, 3, "symbol", "t", "srsi")
    return b.select(
        "symbol",
        "t",
        r6(F.col("srsi_fastk")).alias("stochrsi_fastk"),
        r6(F.col("srsi_fastd")).alias("stochrsi_fastd"),
    )


QUERIES["ind_stochrsi"] = _stochrsi_spark
ORACLES["ind_stochrsi"] = (
    recursive_with(
        # same RSI recursion as ind_rsi_14
        f"""
rsi_base AS MATERIALIZED (
  SELECT symbol, t, d,
         CASE WHEN d > 0 THEN d ELSE 0.0 END AS up,
         CASE WHEN d < 0 THEN -d ELSE 0.0 END AS dn,
         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY t) AS rn
  FROM (
    SELECT symbol, t, close - LAG(close) OVER (PARTITION BY symbol ORDER BY t) AS d
    FROM bars WHERE close IS NOT NULL
  ) dd WHERE d IS NOT NULL
),
rsi_rec AS (
  SELECT symbol, rn, au, ad FROM (
    SELECT symbol, rn, AVG(up) OVER wp AS au, AVG(dn) OVER wp AS ad
    FROM rsi_base
    WINDOW wp AS (PARTITION BY symbol ORDER BY rn ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
  ) s WHERE rn = 14
  UNION ALL
  SELECT b.symbol, b.rn, {ewm_step("r.au", "b.up", 1.0 / 14)}, {ewm_step("r.ad", "b.dn", 1.0 / 14)}
  FROM rsi_rec r JOIN rsi_base b ON b.symbol = r.symbol AND b.rn = r.rn + 1
),
rsi_bars AS MATERIALIZED (
  SELECT b.symbol, b.t,
         CASE WHEN r.ad = 0 THEN 100.0 ELSE 100.0 * r.au / (r.au + r.ad) END AS rsi
  FROM bars b
  LEFT JOIN rsi_base rb ON b.symbol = rb.symbol AND b.t = rb.t
  LEFT JOIN rsi_rec r ON rb.symbol = r.symbol AND rb.rn = r.rn
)"""
    )
    + f"""
, fk AS (
  SELECT symbol, t,
         CASE WHEN COUNT(rsi) OVER w5 = 5 THEN
           CASE WHEN MAX(rsi) OVER w5 = MIN(rsi) OVER w5 THEN 0.0
                ELSE 100.0 * (rsi - MIN(rsi) OVER w5) / (MAX(rsi) OVER w5 - MIN(rsi) OVER w5) END
         END AS fastk
  FROM rsi_bars
  WINDOW w5 AS {_win(5)}
)
SELECT symbol, t, ROUND(fastk, 6) AS stochrsi_fastk,
       ROUND(CASE WHEN COUNT(fastk) OVER w3 = 3 THEN AVG(fastk) OVER w3 END, 6) AS stochrsi_fastd
FROM fk
WINDOW w3 AS {_win(3)}
"""
)


@q(
    "ind_apo_ppo",
    BARS_CTE
    + f"""
SELECT symbol, t,
       ROUND(CASE WHEN COUNT(close) OVER w26 = 26 THEN
         AVG(close) OVER w12 - AVG(close) OVER w26 END, 6) AS apo,
       ROUND(CASE WHEN COUNT(close) OVER w26 = 26 AND AVG(close) OVER w26 != 0 THEN
         100.0 * (AVG(close) OVER w12 - AVG(close) OVER w26) / (AVG(close) OVER w26) END, 6) AS ppo
FROM bars
WINDOW w12 AS {_win(12)}, w26 AS {_win(26)}
""",
)
def ind_apo_ppo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """APO/PPO with matype=0 (SMA legs) — wrappers momentum.py:25-30,136-141;
    kernels absent from the snapshot (SURVEY §2.5 status M)."""
    b = bars(spark, sf_dir)
    w = _w()
    return b.select(
        "symbol",
        "t",
        r6(mo.apo("close", 12, 26, w)).alias("apo"),
        r6(mo.ppo("close", 12, 26, w)).alias("ppo"),
    )


# ---------------------------------------------------------------------------
# candlestick patterns — oracle-checked subset + rows-only full surface
# ---------------------------------------------------------------------------

_CDL_HELPERS = """
, cdl AS (
  SELECT symbol, t, open AS o, high AS h, low AS l, close AS c,
         ABS(close - open) AS body,
         (open + close) / 2.0 AS mid,
         (high + low) / 2.0 AS midprice,
         high - GREATEST(open, close) AS us,
         LEAST(open, close) - low AS ls
  FROM bars
), cd AS (
  SELECT symbol, t, o, h, l, c, body, mid, midprice, us, ls,
         c > o AS bull, c < o AS bear,
         body > 0.05 * midprice AS long_body,
         body < 0.10 * midprice AS short_body,
         body <= 0.005 * midprice AS doji,
         us > 2.0 * body AS long_us, ls > 2.0 * body AS long_ls,
         us < 0.5 * body AS short_us, ls < 0.5 * body AS short_ls,
         us < 0.1 * body AS vshort_us, ls < 0.1 * body AS vshort_ls,
         ls > 3.0 * body AS vlong_ls
  FROM cdl
), cl AS (
  SELECT symbol, t, o, h, l, c, body, mid, midprice, us, ls,
         bull, bear, long_body, short_body, doji,
         long_us, long_ls, short_us, short_ls, vshort_us, vshort_ls, vlong_ls,
         LAG(o) OVER w AS o1, LAG(h) OVER w AS h1, LAG(l) OVER w AS l1, LAG(c) OVER w AS c1,
         LAG(body) OVER w AS body1, LAG(mid) OVER w AS mid1,
         LAG(bull) OVER w AS bull1, LAG(bear) OVER w AS bear1,
         LAG(long_body) OVER w AS long_body1, LAG(doji) OVER w AS doji1,
         LAG(o, 2) OVER w AS o2, LAG(h, 2) OVER w AS h2, LAG(l, 2) OVER w AS l2, LAG(c, 2) OVER w AS c2,
         LAG(body, 2) OVER w AS body2,
         LAG(bull, 2) OVER w AS bull2, LAG(bear, 2) OVER w AS bear2,
         LAG(long_body, 2) OVER w AS long_body2, LAG(doji, 2) OVER w AS doji2
  FROM cd
  WINDOW w AS (PARTITION BY symbol ORDER BY t)
)
"""


@q(
    "cdl_onebar",
    BARS_CTE
    + _CDL_HELPERS
    + """
SELECT symbol, t,
  CAST(CASE WHEN c IS NULL THEN NULL WHEN doji THEN 100 ELSE 0 END AS INTEGER) AS cdldoji,
  CAST(CASE WHEN c IS NULL THEN NULL
            WHEN doji AND long_ls AND vshort_us THEN 100 ELSE 0 END AS INTEGER) AS cdldragonflydoji,
  CAST(CASE WHEN c IS NULL THEN NULL
            WHEN doji AND long_us AND vshort_ls THEN -100 ELSE 0 END AS INTEGER) AS cdlgravestonedoji,
  CAST(CASE WHEN c IS NULL THEN NULL
            WHEN long_body AND vshort_us AND vshort_ls AND bull THEN 100
            WHEN long_body AND vshort_us AND vshort_ls AND bear THEN -100 ELSE 0 END AS INTEGER) AS cdlmarubozu,
  CAST(CASE WHEN c IS NULL THEN NULL
            WHEN long_body AND bull AND vshort_us THEN 100
            WHEN long_body AND bear AND vshort_ls THEN -100 ELSE 0 END AS INTEGER) AS cdlclosingmarubozu,
  CAST(CASE WHEN c IS NULL THEN NULL
            WHEN long_body AND bull AND vshort_ls THEN 100
            WHEN long_body AND bear AND vshort_us THEN -100 ELSE 0 END AS INTEGER) AS cdlbelthold,
  CAST(CASE WHEN c IS NULL THEN NULL
            WHEN short_body AND NOT doji AND us > body AND ls > body AND bull THEN 100
            WHEN short_body AND NOT doji AND us > body AND ls > body AND bear THEN -100 ELSE 0 END AS INTEGER) AS cdlspinningtop,
  CAST(CASE WHEN c IS NULL THEN NULL
            WHEN doji AND vshort_us AND vlong_ls THEN 100 ELSE 0 END AS INTEGER) AS cdltakuri
FROM cl
""",
)
def cdl_onebar(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = bars(spark, sf_dir)
    w = _w()
    names = [
        "cdldoji",
        "cdldragonflydoji",
        "cdlgravestonedoji",
        "cdlmarubozu",
        "cdlclosingmarubozu",
        "cdlbelthold",
        "cdlspinningtop",
        "cdltakuri",
    ]
    return b.select(
        "symbol",
        "t",
        *[pat.ALL_PATTERNS[n]("open", "high", "low", "close", w).alias(n) for n in names],
    )


@q(
    "cdl_twobar",
    BARS_CTE
    + _CDL_HELPERS
    + """
SELECT symbol, t,
  CAST(CASE WHEN c1 IS NULL THEN NULL
            WHEN bull AND bear1 AND c > o1 AND o < c1 THEN 100
            WHEN bear AND bull1 AND o > c1 AND c < o1 THEN -100 ELSE 0 END AS INTEGER) AS cdlengulfing,
  CAST(CASE WHEN c1 IS NULL THEN NULL
            WHEN bear1 AND long_body1 AND GREATEST(o, c) < GREATEST(o1, c1) AND LEAST(o, c) > LEAST(o1, c1) AND bull THEN 100
            WHEN bull1 AND long_body1 AND GREATEST(o, c) < GREATEST(o1, c1) AND LEAST(o, c) > LEAST(o1, c1) AND bear THEN -100 ELSE 0 END AS INTEGER) AS cdlharami,
  CAST(CASE WHEN c1 IS NULL THEN NULL
            WHEN bear1 AND long_body1 AND bull AND o < l1 AND c > mid1 AND c < o1 THEN 100 ELSE 0 END AS INTEGER) AS cdlpiercing,
  CAST(CASE WHEN c1 IS NULL THEN NULL
            WHEN bull1 AND long_body1 AND bear AND o > h1 AND c < mid1 AND c > o1 THEN -100 ELSE 0 END AS INTEGER) AS cdldarkcloudcover,
  CAST(CASE WHEN c1 IS NULL THEN NULL
            WHEN short_body AND NOT doji AND long_ls AND vshort_us AND bear1 THEN 100 ELSE 0 END AS INTEGER) AS cdlhammer,
  CAST(CASE WHEN c1 IS NULL THEN NULL
            WHEN short_body AND NOT doji AND long_ls AND vshort_us AND bull1 THEN -100 ELSE 0 END AS INTEGER) AS cdlhangingman,
  CAST(CASE WHEN c1 IS NULL THEN NULL
            WHEN bear1 AND bear AND ABS(c - c1) < 0.001 * midprice THEN 100 ELSE 0 END AS INTEGER) AS cdlmatchinglow
FROM cl
""",
)
def cdl_twobar(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = bars(spark, sf_dir)
    w = _w()
    names = [
        "cdlengulfing",
        "cdlharami",
        "cdlpiercing",
        "cdldarkcloudcover",
        "cdlhammer",
        "cdlhangingman",
        "cdlmatchinglow",
    ]
    return b.select(
        "symbol",
        "t",
        *[pat.ALL_PATTERNS[n]("open", "high", "low", "close", w).alias(n) for n in names],
    )


@q(
    "cdl_threebar",
    BARS_CTE
    + _CDL_HELPERS
    + """
SELECT symbol, t,
  CAST(CASE WHEN c2 IS NULL THEN NULL
            WHEN bull2 AND long_body2
             AND bull1 AND long_body1 AND o1 > o2 AND o1 < c2 AND c1 > c2
             AND bull AND long_body AND o > o1 AND o < c1 AND c > c1 THEN 100 ELSE 0 END AS INTEGER) AS cdl3whitesoldiers,
  CAST(CASE WHEN c2 IS NULL THEN NULL
            WHEN bear2 AND long_body2
             AND bear1 AND long_body1 AND o1 < o2 AND o1 > c2 AND c1 < c2
             AND bear AND long_body AND o < o1 AND o > c1 AND c < c1 THEN -100 ELSE 0 END AS INTEGER) AS cdl3blackcrows,
  CAST(CASE WHEN c2 IS NULL THEN NULL
            WHEN bear2 AND long_body2 AND (body1 < 0.10 * mid1_price) AND GREATEST(o1, c1) < c2
             AND bull AND c > c2 + 0.3 * body2 THEN 100 ELSE 0 END AS INTEGER) AS cdlmorningstar,
  CAST(CASE WHEN c2 IS NULL THEN NULL
            WHEN bull2 AND long_body2 AND (body1 < 0.10 * mid1_price) AND LEAST(o1, c1) > c2
             AND bear AND c < c2 - 0.3 * body2 THEN -100 ELSE 0 END AS INTEGER) AS cdleveningstar,
  CAST(CASE WHEN c2 IS NULL THEN NULL
            WHEN doji2 AND doji1 AND doji
             AND GREATEST(o1, c1) < LEAST(o2, c2) AND GREATEST(o1, c1) < LEAST(o, c) THEN 100
            WHEN doji2 AND doji1 AND doji
             AND LEAST(o1, c1) > GREATEST(o2, c2) AND LEAST(o1, c1) > GREATEST(o, c) THEN -100 ELSE 0 END AS INTEGER) AS cdltristar
FROM (
  SELECT cl.*, LAG((h + l) / 2.0) OVER (PARTITION BY symbol ORDER BY t) AS mid1_price
  FROM cl
) cx
""",
)
def cdl_threebar(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = bars(spark, sf_dir)
    w = _w()
    names = ["cdl3whitesoldiers", "cdl3blackcrows", "cdlmorningstar", "cdleveningstar", "cdltristar"]
    return b.select(
        "symbol",
        "t",
        *[pat.ALL_PATTERNS[n]("open", "high", "low", "close", w).alias(n) for n in names],
    )


def _cdl_all(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All 61 patterns, rows-only check (the full surface; the three queries
    above hash-check a 20-pattern sample against SQL twins)."""
    b = bars(spark, sf_dir)
    return pat.with_patterns(b).select("symbol", "t", *sorted(pat.ALL_PATTERNS))


QUERIES["cdl_all_patterns"] = _cdl_all


# ---------------------------------------------------------------------------
# Hilbert-transform family + MAMA + MAVP (rows-only: the MESA state machine
# has no tractable SQL form — SURVEY §2.5 Cycle; driver records the weaker
# rows-only check for these, per the contract)
# ---------------------------------------------------------------------------

import polars_quant_spark.operators.hilbert  # noqa: E402,F401  (registers kernels)


def _ht_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    b = bars(spark, sf_dir)
    out = with_recurrences(
        b,
        [
            Rec("ht_dcperiod", "ht_dcperiod", ["close"], {}),
            Rec("ht_dcphase", "ht_dcphase", ["close"], {}),
            Rec(["ht_inphase", "ht_quadrature"], "ht_phasor", ["close"], {}),
            Rec(["ht_sine", "ht_leadsine"], "ht_sine", ["close"], {}),
            Rec("ht_trendline", "ht_trendline", ["close"], {}),
            Rec("ht_trendmode", "ht_trendmode", ["close"], {}),
            Rec(["mama", "fama"], "mama", ["close"], {}),
        ],
    )
    return out.select(
        "symbol",
        "t",
        r6(F.col("ht_dcperiod")).alias("ht_dcperiod"),
        r6(F.col("ht_dcphase")).alias("ht_dcphase"),
        r6(F.col("ht_inphase")).alias("ht_inphase"),
        r6(F.col("ht_quadrature")).alias("ht_quadrature"),
        r6(F.col("ht_sine")).alias("ht_sine"),
        r6(F.col("ht_leadsine")).alias("ht_leadsine"),
        r6(F.col("ht_trendline")).alias("ht_trendline"),
        F.col("ht_trendmode").cast("int").alias("ht_trendmode"),
        r6(F.col("mama")).alias("mama"),
        r6(F.col("fama")).alias("fama"),
    )


QUERIES["ind_ht_family"] = _ht_family
# Golden-file oracle: the MESA state machine has no tractable SQL twin, so
# the expected output is recomputed OUTSIDE Spark (DuckDB bars twin + the
# numpy kernels run driver-side per symbol) by tools/make_golden.py and
# pinned as parquet. Hash-compares the full Spark pipeline — shuffle,
# per-group ordering, NaN→NULL, rounding — against that recomputation;
# kernel correctness itself is covered by the property tests
# (tests/test_hilbert_streaming.py). One golden file per test SF; the SQL
# picks the one matching the registered views' scale via the events count
# (1k/10k/100k rows at sf0.001/0.01/0.1) so the harness runs at any SF.
ORACLES["ind_ht_family"] = """
SELECT g.* EXCLUDE (filename)
FROM read_parquet('/root/repo/golden/ind_ht_family_sf*.parquet',
                  filename=true, union_by_name=true) g
WHERE regexp_extract(g.filename, 'sf[0-9.]+[0-9]') =
      (SELECT CASE count(*) WHEN 1000 THEN 'sf0.001'
                            WHEN 10000 THEN 'sf0.01'
                            ELSE 'sf0.1' END FROM events)
"""


def _mavp_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MAVP with a deterministic per-row period column (volume % 20 + 5).

    The price is quantized to integer cents before the kernel so every
    windowed sum is a sum of integer-valued doubles — exact in any
    association order — making the DuckDB self-join twin bit-identical
    (same discipline as the AD/OBV cumulative oracles)."""
    b = (
        bars(spark, sf_dir)
        .withColumn("px", F.floor(F.col("close") * 100 + F.lit(0.5)).cast("double"))
        .withColumn("periods", (F.col("volume") % 20 + 5).cast("double"))
    )
    out = with_recurrences(
        b,
        [Rec("mavp", "mavp", ["px", "periods"], {"minperiod": 2, "maxperiod": 30})],
    )
    return out.select("symbol", "t", r6(F.col("mavp") / 100.0).alias("mavp"))


QUERIES["ind_mavp"] = _mavp_query

# Variable-period SMA has no fixed window frame in SQL; the twin is a
# bounded self-join on row-number ranges (≤ maxperiod rows per anchor).
ORACLES["ind_mavp"] = (
    recursive_with(
        """
mavp_base AS MATERIALIZED (
  SELECT symbol, t, FLOOR(close * 100 + 0.5) AS px,
         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY t) AS rn,
         GREATEST(2, LEAST(30, CAST(FLOOR(volume % 20 + 5) AS BIGINT))) AS p
  FROM bars
)"""
    )
    + """
SELECT a.symbol, a.t,
       ROUND(CASE WHEN a.rn >= a.p THEN SUM(c.px) / a.p / 100.0 END, 6) AS mavp
FROM mavp_base a
JOIN mavp_base c
  ON c.symbol = a.symbol AND c.rn BETWEEN a.rn - a.p + 1 AND a.rn
GROUP BY a.symbol, a.t, a.rn, a.p
"""
)


# ---------------------------------------------------------------------------
# ADOSC — recurrence over the running A/D line
# ---------------------------------------------------------------------------

QUERIES["vol_adosc"] = lambda spark, sf_dir: with_recurrences(
    bars(spark, sf_dir),
    [Rec("adosc", "adosc", ["high", "low", "close", "volume"], {"fast": 3, "slow": 10})],
).select("symbol", "t", r6(F.col("adosc")).alias("adosc"))

ORACLES["vol_adosc"] = (
    recursive_with(
        f"""
ad_tbl AS MATERIALIZED (
  SELECT symbol, t,
         SUM(CASE WHEN high = low THEN 0.0
                  ELSE ((close - low) - (high - close)) / (high - low) * volume END)
           OVER (PARTITION BY symbol ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ad
  FROM bars
)""",
        ema_ctes("ef", "ad_tbl", "ad", 3),
        ema_ctes("es", "ad_tbl", "ad", 10),
    )
    + """
SELECT b.symbol, b.t, ROUND(ef.ef - es.es, 6) AS adosc
FROM bars b
LEFT JOIN ef ON b.symbol = ef.symbol AND b.t = ef.t
LEFT JOIN es ON b.symbol = es.symbol AND b.t = es.t
"""
)


# ---------------------------------------------------------------------------
# SAREXT — the SAR state machine with separate long/short acceleration
# schedules, offset-on-reverse, and signed output (negative while short).
# Same recursive-CTE shape as _SAR_CTES; non-default params exercise every
# extension knob.
# ---------------------------------------------------------------------------

_SX = {
    "offsetonreverse": 0.02,
    "accelerationinitlong": 0.02,
    "accelerationlong": 0.03,
    "accelerationmaxlong": 0.25,
    "accelerationinitshort": 0.015,
    "accelerationshort": 0.025,
    "accelerationmaxshort": 0.18,
}
_OFF_R = repr(_SX["offsetonreverse"])
_AIL_R = repr(_SX["accelerationinitlong"])
_AL_R = repr(_SX["accelerationlong"])
_AML_R = repr(_SX["accelerationmaxlong"])
_AIS_R = repr(_SX["accelerationinitshort"])
_ASH_R = repr(_SX["accelerationshort"])
_AMS_R = repr(_SX["accelerationmaxshort"])

_SAREXT_CTES = f"""
sx_base AS MATERIALIZED (
  SELECT symbol, t,
         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY t) AS rn,
         high AS h, low AS l,
         LAG(high) OVER {_ORD} AS ph, LAG(low) OVER {_ORD} AS pl,
         COALESCE(LAG(high, 2) OVER {_ORD}, LAG(high) OVER {_ORD}) AS p2h,
         COALESCE(LAG(low, 2) OVER {_ORD}, LAG(low) OVER {_ORD}) AS p2l
  FROM bars
),
sx_rec AS (
  -- seed: bar rn=2 applies the first update to the trend-inferred state
  SELECT symbol, rn, s, ep, af, lng FROM (
    SELECT symbol, rn,
           CASE WHEN lng THEN
             CASE WHEN l < s_c2 THEN ep0 * (1.0 + {_OFF_R}) ELSE s_c2 END
           ELSE
             CASE WHEN h > s_c3 THEN ep0 * (1.0 - {_OFF_R}) ELSE s_c3 END
           END AS s,
           CASE WHEN lng THEN
             CASE WHEN l < s_c2 THEN l
                  WHEN h > ep0 THEN h ELSE ep0 END
           ELSE
             CASE WHEN h > s_c3 THEN h
                  WHEN l < ep0 THEN l ELSE ep0 END
           END AS ep,
           CASE WHEN lng THEN
             CASE WHEN l < s_c2 THEN {_AIS_R}
                  WHEN h > ep0 THEN LEAST(af0 + {_AL_R}, {_AML_R}) ELSE af0 END
           ELSE
             CASE WHEN h > s_c3 THEN {_AIL_R}
                  WHEN l < ep0 THEN LEAST(af0 + {_ASH_R}, {_AMS_R}) ELSE af0 END
           END AS af,
           CASE WHEN lng THEN (l >= s_c2) ELSE (h > s_c3) END AS lng
    FROM (
      SELECT symbol, rn, h, l, lng, ep0, af0,
             LEAST(s_c, pl, p2l) AS s_c2,
             GREATEST(s_c, ph, p2h) AS s_c3
      FROM (
        SELECT symbol, rn, h, l, ph, pl, p2h, p2l,
               (h - ph) >= (pl - l) AS lng,
               CASE WHEN (h - ph) >= (pl - l) THEN h ELSE l END AS ep0,
               CASE WHEN (h - ph) >= (pl - l) THEN {_AIL_R} ELSE {_AIS_R} END AS af0,
               (CASE WHEN (h - ph) >= (pl - l) THEN pl ELSE ph END)
                 + (CASE WHEN (h - ph) >= (pl - l) THEN {_AIL_R} ELSE {_AIS_R} END)
                   * ((CASE WHEN (h - ph) >= (pl - l) THEN h ELSE l END)
                      - (CASE WHEN (h - ph) >= (pl - l) THEN pl ELSE ph END)) AS s_c
        FROM sx_base WHERE rn = 2
      ) i1
    ) i2
  ) i3
  UNION ALL
  SELECT symbol, rn, s, ep, af, lng FROM (
    SELECT symbol, rn,
           CASE WHEN lng THEN
             CASE WHEN l < s_c2 THEN ep_p * (1.0 + {_OFF_R}) ELSE s_c2 END
           ELSE
             CASE WHEN h > s_c3 THEN ep_p * (1.0 - {_OFF_R}) ELSE s_c3 END
           END AS s,
           CASE WHEN lng THEN
             CASE WHEN l < s_c2 THEN l
                  WHEN h > ep_p THEN h ELSE ep_p END
           ELSE
             CASE WHEN h > s_c3 THEN h
                  WHEN l < ep_p THEN l ELSE ep_p END
           END AS ep,
           CASE WHEN lng THEN
             CASE WHEN l < s_c2 THEN {_AIS_R}
                  WHEN h > ep_p THEN LEAST(af_p + {_AL_R}, {_AML_R}) ELSE af_p END
           ELSE
             CASE WHEN h > s_c3 THEN {_AIL_R}
                  WHEN l < ep_p THEN LEAST(af_p + {_ASH_R}, {_AMS_R}) ELSE af_p END
           END AS af,
           CASE WHEN lng THEN (l >= s_c2) ELSE (h > s_c3) END AS lng
    FROM (
      SELECT symbol, rn, h, l, lng, ep_p, af_p,
             LEAST(s_c, pl, p2l) AS s_c2,
             GREATEST(s_c, ph, p2h) AS s_c3
      FROM (
        SELECT b.symbol, b.rn, b.h, b.l, b.ph, b.pl, b.p2h, b.p2l,
               r.lng, r.ep AS ep_p, r.af AS af_p,
               r.s + r.af * (r.ep - r.s) AS s_c
        FROM sx_rec r JOIN sx_base b ON b.symbol = r.symbol AND b.rn = r.rn + 1
      ) j1
    ) j2
  ) j3
),
sx_out AS MATERIALIZED (
  SELECT b.symbol, b.t,
         CASE WHEN r.lng THEN r.s ELSE -r.s END AS sarext
  FROM sx_base b LEFT JOIN sx_rec r ON b.symbol = r.symbol AND b.rn = r.rn
)"""

QUERIES["ind_sarext"] = lambda spark, sf_dir: with_recurrences(
    bars(spark, sf_dir),
    [Rec("sarext", "sarext", ["high", "low"], dict(_SX))],
).select("symbol", "t", r6(F.col("sarext")).alias("sarext"))

ORACLES["ind_sarext"] = (
    recursive_with(_SAREXT_CTES)
    + """
SELECT symbol, t, ROUND(sarext, 6) AS sarext
FROM sx_out
"""
)


# ---------------------------------------------------------------------------
# As-of join — DuckDB has a native ASOF JOIN, giving the one-shuffle
# union+fill plan (operators/asof.py) a first-class SQL twin.
# ---------------------------------------------------------------------------


def _asof_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join of bars onto a sparse per-symbol mark table
    (every 7th bar). Exercises key matching, the at-or-before semantics
    including exact-tie rows, and leading-null left rows."""
    from polars_quant_spark.operators.asof import asof_join

    b = bars(spark, sf_dir).select("symbol", "t", "close")
    marks = b.where(F.col("t") % 7 == 0).select(
        "symbol", "t", F.col("close").alias("mark")
    )
    out = asof_join(b, marks, on="t", by="symbol")
    return out.select(
        "symbol",
        "t",
        r6(F.col("close")).alias("close"),
        r6(F.col("r_mark")).alias("r_mark"),
        F.col("r_t").cast("int").alias("r_t"),
    )


QUERIES["asof_bars_marks"] = _asof_query
ORACLES["asof_bars_marks"] = (
    BARS_CTE
    + """
, marks AS (
  SELECT symbol, t, close AS mark FROM bars WHERE t % 7 = 0
)
SELECT b.symbol, b.t, ROUND(b.close, 6) AS close,
       ROUND(m.mark, 6) AS r_mark, m.t AS r_t
FROM bars b ASOF LEFT JOIN marks m
  ON b.symbol = m.symbol AND b.t >= m.t
"""
)


def _asof_fwd_tol_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FORWARD as-of join with a tolerance bound: each bar matches the
    EARLIEST mark at-or-after it (marks every 11th bar), and matches
    farther than 5 bars away are nulled — the other half of asof_join's
    contract (asof_bars_marks covers backward/no-tolerance). Exercises the
    reversed-sort forward window and the tolerance payload-nulling."""
    from polars_quant_spark.operators.asof import asof_join

    b = bars(spark, sf_dir).select("symbol", "t", "close")
    marks = b.where(F.col("t") % 11 == 0).select(
        "symbol", "t", F.col("close").alias("mark")
    )
    out = asof_join(b, marks, on="t", by="symbol", direction="forward", tolerance=5)
    return out.select(
        "symbol",
        "t",
        r6(F.col("close")).alias("close"),
        r6(F.col("r_mark")).alias("r_mark"),
        F.col("r_t").cast("int").alias("r_t"),
    )


QUERIES["asof_tolerance_nearest"] = _asof_fwd_tol_query
ORACLES["asof_tolerance_nearest"] = (
    BARS_CTE
    + """
, marks AS (
  SELECT symbol, t, close AS mark FROM bars WHERE t % 11 = 0
)
SELECT b.symbol, b.t, ROUND(b.close, 6) AS close,
       CASE WHEN m.t - b.t <= 5 THEN ROUND(m.mark, 6) END AS r_mark,
       CASE WHEN m.t - b.t <= 5 THEN m.t END AS r_t
FROM bars b ASOF LEFT JOIN marks m
  ON b.symbol = m.symbol AND b.t <= m.t
"""
)


# ---------------------------------------------------------------------------
# Range join — point-in-interval, via the binned equi-join plan
# (operators/asof.py:binned_range_join): intervals explode into the coarse
# bins they overlap, points land in exactly one bin, and a hash equi-join
# on (symbol, bin) + the exact range filter replaces the broadcast-NL join
# the naive form needs. Window spacing (37) < width (50) makes some
# intervals overlap, so multi-match rows are exercised.
# ---------------------------------------------------------------------------


def _range_join_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polars_quant_spark.operators.asof import binned_range_join

    b = bars(spark, sf_dir).select("symbol", "t", "close")
    wins = b.where(F.col("t") % 37 == 0).select(
        "symbol", F.col("t").alias("lo"), (F.col("t") + 50).alias("hi")
    )
    out = binned_range_join(b, wins, "t", "lo", "hi", bin_width=32, by="symbol")
    return out.select(
        "symbol",
        "t",
        F.col("lo").alias("win_lo"),
        r6(F.col("close")).alias("close"),
    )


# ---------------------------------------------------------------------------
# Chunked (halo) window evaluation — same indicator semantics as the plain
# per-symbol window, executed at (#symbols × #chunks) parallelism
# (operators/chunked.py). The oracle is the PLAIN-window SQL: passing the
# hash gate proves the halo strategy is exact, chunk boundaries included
# (chunk=512 → several boundaries per symbol at every SF).
# ---------------------------------------------------------------------------


def _chunked_expr_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polars_quant_spark.operators.chunked import with_chunked_windows

    b = bars(spark, sf_dir)
    out = with_chunked_windows(
        b,
        {
            "sma_20": lambda w: ov.sma("close", 20, w),
            "midpoint_14": lambda w: ov.midpoint("close", 14, w),
            "mom_10": lambda w: mo.mom("close", 10, w),
            "willr_14": lambda w: mo.willr("high", "low", "close", 14, w),
            "cmo_14": lambda w: mo.cmo("close", 14, w),
        },
        lookback=19,  # max reach: sma_20's 19 trailing rows
        chunk=512,
    )
    return out.select(
        "symbol",
        "t",
        r6(F.col("sma_20")).alias("sma_20"),
        r6(F.col("midpoint_14")).alias("midpoint_14"),
        r6(F.col("mom_10")).alias("mom_10"),
        r6(F.col("willr_14")).alias("willr_14"),
        r6(F.col("cmo_14")).alias("cmo_14"),
    )


QUERIES["ind_chunked_expr"] = _chunked_expr_query
ORACLES["ind_chunked_expr"] = (
    BARS_CTE
    + f"""
, diffs AS (
  SELECT symbol, t, high, low, close,
         close - LAG(close) OVER {_ORD} AS d
  FROM bars
)
SELECT symbol, t,
       ROUND(CASE WHEN COUNT(close) OVER w20 = 20 THEN AVG(close) OVER w20 END, 6) AS sma_20,
       ROUND(CASE WHEN COUNT(close) OVER w14 = 14 THEN
         (MAX(close) OVER w14 + MIN(close) OVER w14) / 2.0 END, 6) AS midpoint_14,
       ROUND(close - LAG(close, 10) OVER {_ORD}, 6) AS mom_10,
       ROUND(CASE WHEN COUNT(close) OVER w14 = 14 THEN
         CASE WHEN MAX(high) OVER w14 = MIN(low) OVER w14 THEN 0.0
              ELSE -100.0 * (MAX(high) OVER w14 - close) / (MAX(high) OVER w14 - MIN(low) OVER w14) END
       END, 6) AS willr_14,
       ROUND(CASE WHEN COUNT(d) OVER w14 = 14 THEN
         CASE WHEN SUM(CASE WHEN d > 0 THEN d ELSE 0.0 END) OVER w14
                 + SUM(CASE WHEN d < 0 THEN -d ELSE 0.0 END) OVER w14 = 0 THEN 0.0
              ELSE 100.0 * (SUM(CASE WHEN d > 0 THEN d ELSE 0.0 END) OVER w14
                          - SUM(CASE WHEN d < 0 THEN -d ELSE 0.0 END) OVER w14)
                   / (SUM(CASE WHEN d > 0 THEN d ELSE 0.0 END) OVER w14
                    + SUM(CASE WHEN d < 0 THEN -d ELSE 0.0 END) OVER w14) END
       END, 6) AS cmo_14
FROM diffs
WINDOW w20 AS {_win(20)}, w14 AS {_win(14)}
"""
)


# ---------------------------------------------------------------------------
# Block-parallel exact cumulative sums (operators/chunked.chunked_cumsum):
# AD/OBV computed as per-block running sums + exclusive block-offset join.
# The oracle is vol_ad_obv's PLAIN cumulative-window SQL, verbatim —
# passing the hash gate proves block reassociation of the quantized
# DECIMAL contributions changes nothing.
# ---------------------------------------------------------------------------


def _ad_obv_chunked_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polars_quant_spark.functions import volume as vu
    from polars_quant_spark.operators.chunked import chunked_cumsum

    b = bars(spark, sf_dir)

    def adc(w):
        return r6(vu.clv_flow("high", "low", "close", "volume")).cast("decimal(38,6)")

    def obvc(w):
        return r6(vu.obv_flow("close", "volume", w)).cast("decimal(38,6)")

    out = chunked_cumsum(b, {"ad": adc, "obv": obvc}, lookback=1, chunk=512)
    return out.select(
        "symbol", "t", r6(F.col("ad")).alias("ad"), r6(F.col("obv")).alias("obv")
    )


# Interval-overlap join (interval×interval, both sides large) — binned
# equi-join with first-shared-bin dedup (operators/asof.py). Window
# spacings 29/37 with widths 40/50 give overlaps spanning multiple bins
# (bin_width 16), so the dedup filter is genuinely exercised.


def _interval_overlap_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    from polars_quant_spark.operators.asof import interval_overlap_join

    b = bars(spark, sf_dir).select("symbol", "t")
    a = b.where(F.col("t") % 29 == 0).select(
        "symbol", F.col("t").alias("a_lo"), (F.col("t") + 40).alias("a_hi")
    )
    c = b.where(F.col("t") % 37 == 0).select(
        "symbol", F.col("t").alias("b_lo"), (F.col("t") + 50).alias("b_hi")
    )
    out = interval_overlap_join(a, c, "a_lo", "a_hi", "b_lo", "b_hi", 16, by="symbol")
    return out.select(
        "symbol",
        "a_lo",
        "b_lo",
        (
            F.least(F.col("a_hi"), F.col("b_hi"))
            - F.greatest(F.col("a_lo"), F.col("b_lo"))
        ).alias("overlap_len"),
    )


QUERIES["interval_overlap_bars"] = _interval_overlap_query
ORACLES["interval_overlap_bars"] = (
    BARS_CTE
    + """
, wa AS (SELECT symbol, t AS a_lo, t + 40 AS a_hi FROM bars WHERE t % 29 = 0),
wb AS (SELECT symbol, t AS b_lo, t + 50 AS b_hi FROM bars WHERE t % 37 = 0)
SELECT a.symbol, a.a_lo, b.b_lo,
       LEAST(a.a_hi, b.b_hi) - GREATEST(a.a_lo, b.b_lo) AS overlap_len
FROM wa a JOIN wb b
  ON a.symbol = b.symbol AND a.a_lo < b.b_hi AND b.b_lo < a.a_hi
"""
)


QUERIES["vol_ad_obv_chunked"] = _ad_obv_chunked_query
ORACLES["vol_ad_obv_chunked"] = ORACLES["vol_ad_obv"]


QUERIES["range_bars_windows"] = _range_join_query
ORACLES["range_bars_windows"] = (
    BARS_CTE
    + """
, wins AS (
  SELECT symbol, t AS lo, t + 50 AS hi FROM bars WHERE t % 37 = 0
)
SELECT b.symbol, b.t, w.lo AS win_lo, ROUND(b.close, 6) AS close
FROM bars b JOIN wins w
  ON b.symbol = w.symbol AND b.t >= w.lo AND b.t < w.hi
"""
)


def _range_point_events_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval via the BROADCAST-NL range_join (the small-interval-
    set fast path; range_bars_windows covers the binned equi-join for when
    both sides are big), aggregated per window: bar count and exact
    micro-unit close sum inside each [lo, lo+30) interval."""
    from polars_quant_spark.operators.asof import range_join
    from polars_quant_spark.queries import micros, units

    b = bars(spark, sf_dir).select("symbol", "t", "close")
    # a fresh scan for the interval side: deriving both join inputs from one
    # frame trips Spark's ambiguous-self-join detection in the NL condition
    wins = (
        bars(spark, sf_dir)
        .where(F.col("t") % 41 == 0)
        .select("symbol", F.col("t").alias("lo"), (F.col("t") + 30).alias("hi"))
    )
    joined = range_join(b, wins, "t", "lo", "hi", by="symbol").select(
        b["symbol"].alias("symbol"), "lo", "close"
    )
    return (
        joined.groupBy("symbol", "lo")
        .agg(
            F.count(F.lit(1)).alias("n_bars"),
            r6(units(F.sum(micros(F.col("close"))))).alias("close_sum"),
        )
        .orderBy("symbol", "lo")
    )


QUERIES["range_point_events"] = _range_point_events_query
ORACLES["range_point_events"] = (
    BARS_CTE
    + """
, wins AS (
  SELECT symbol, t AS lo, t + 30 AS hi FROM bars WHERE t % 41 = 0
)
SELECT b.symbol, w.lo, COUNT(*) AS n_bars,
       ROUND(CAST(SUM(CAST(FLOOR(b.close * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000.0, 6) AS close_sum
FROM bars b JOIN wins w
  ON b.symbol = w.symbol AND b.t >= w.lo AND b.t < w.hi
GROUP BY b.symbol, w.lo
ORDER BY b.symbol, w.lo
"""
)


# MACDFIX — the 12/26-fixed MACD with a custom signal period; every leg is
# an SMA-seeded EMA, so the twin is pure ema_ctes composition.
# Quantized micro-unit lattice like ind_macd (VERDICT r7 #3) — retires the
# sf0.1 1-ulp-at-6dp-boundary residue; see queries.py::_macd_q_query.
QUERIES["ind_macdfix"] = lambda spark, sf_dir: with_recurrences(
    bars(spark, sf_dir).select(
        "symbol",
        "t",
        F.floor(F.col("close") * 1000000.0 + F.lit(0.5))
        .cast("double")
        .alias("_cm"),
    ),
    [
        Rec(
            ["mfix_dif_micro", "mfix_dea_micro", "mfix_hist_micro"],
            "macdfix_q",
            ["_cm"],
            {"signal": 5},
        )
    ],
).select(
    "symbol",
    "t",
    F.col("mfix_dif_micro").cast("long").alias("mfix_dif_micro"),
    F.col("mfix_dea_micro").cast("long").alias("mfix_dea_micro"),
    F.col("mfix_hist_micro").cast("long").alias("mfix_hist_micro"),
)
ORACLES["ind_macdfix"] = (
    recursive_with(
        """
fqbars AS MATERIALIZED (
  SELECT symbol, t, FLOOR(close * 1000000.0 + 0.5) AS cm FROM bars
)""",
        ema_q_ctes("xf", "fqbars", "cm", 12),
        ema_q_ctes("xs", "fqbars", "cm", 26),
        """
fixdif AS MATERIALIZED (
  SELECT xf.symbol, xf.t, xf.xf - xs.xs AS dif
  FROM xf JOIN xs ON xf.symbol = xs.symbol AND xf.t = xs.t
)""",
        ema_q_ctes("fixdea", "fixdif", "dif", 5),
    )
    + """
SELECT b.symbol, b.t,
       CAST(d.dif AS BIGINT) AS mfix_dif_micro,
       CAST(s.fixdea AS BIGINT) AS mfix_dea_micro,
       CAST(d.dif - s.fixdea AS BIGINT) AS mfix_hist_micro
FROM bars b
LEFT JOIN fixdif d ON b.symbol = d.symbol AND b.t = d.t
LEFT JOIN fixdea s ON b.symbol = s.symbol AND b.t = s.t
"""
)


def _ma_dispatch_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MA dispatcher smoke over three representative types: 0=SMA
    (expression), 1=EMA (recurrence), 5=TRIMA (expression)."""
    b = bars(spark, sf_dir)
    out = ov.ma(b, "close", 10, matype=0, out="ma_sma")
    out = ov.ma(out, "close", 10, matype=1, out="ma_ema")
    out = ov.ma(out, "close", 10, matype=5, out="ma_trima")
    return out.select(
        "symbol",
        "t",
        r6(F.col("ma_sma")).alias("ma_sma"),
        r6(F.col("ma_ema")).alias("ma_ema"),
        r6(F.col("ma_trima")).alias("ma_trima"),
    )


QUERIES["ind_ma_dispatch"] = _ma_dispatch_query
# TRIMA leg as a windowed triangular dot product (same form as the
# ind_trima_10 oracle) — the previous correlated per-row subquery was
# O(rows²) per symbol on DuckDB and stalled the sf0.1 informational sweep
# for tens of minutes on this one query (sf0.01 gate unaffected).
from polars_quant_spark.queries import _TRIMA10_W as _DISPATCH_TRIMA_W  # noqa: E402

ORACLES["ind_ma_dispatch"] = (
    recursive_with(ema_ctes("dma", "bars", "close", 10))
    + f"""
SELECT b.symbol, b.t,
  ROUND(CASE WHEN COUNT(b.close) OVER w10 = 10 THEN AVG(b.close) OVER w10 END, 6) AS ma_sma,
  ROUND(e.dma, 6) AS ma_ema,
  ROUND(CASE WHEN COUNT(b.close) OVER w10 = 10 THEN
    list_dot_product(list(b.close) OVER w10,
                     {[float(x) for x in _DISPATCH_TRIMA_W]}) / 30.0 END, 6) AS ma_trima
FROM bars b LEFT JOIN dma e ON b.symbol = e.symbol AND b.t = e.t
WINDOW w10 AS (PARTITION BY b.symbol ORDER BY b.t ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
"""
)


# MACDEXT with a mixed MA-type config: EMA fast/slow legs, SMA signal leg —
# exercises the per-leg dispatcher (momentum.py:83-88 composition).
# Quantized micro-unit lattice like ind_macd (VERDICT r7 #3): EMA fast/slow
# legs on the integer lattice, SMA signal leg as floor(sum/p + 0.5).
QUERIES["ind_macdext"] = lambda spark, sf_dir: with_recurrences(
    bars(spark, sf_dir).select(
        "symbol",
        "t",
        F.floor(F.col("close") * 1000000.0 + F.lit(0.5))
        .cast("double")
        .alias("_cm"),
    ),
    [
        Rec(
            ["mext_dif_micro", "mext_dea_micro", "mext_hist_micro"],
            "macdext_q",
            ["_cm"],
            {"fast": 12, "slow": 26, "signal": 5},
        )
    ],
).select(
    "symbol",
    "t",
    F.col("mext_dif_micro").cast("long").alias("mext_dif_micro"),
    F.col("mext_dea_micro").cast("long").alias("mext_dea_micro"),
    F.col("mext_hist_micro").cast("long").alias("mext_hist_micro"),
)
ORACLES["ind_macdext"] = (
    recursive_with(
        """
eqbars AS MATERIALIZED (
  SELECT symbol, t, FLOOR(close * 1000000.0 + 0.5) AS cm FROM bars
)""",
        ema_q_ctes("exf", "eqbars", "cm", 12),
        ema_q_ctes("exs", "eqbars", "cm", 26),
        """
extdif AS MATERIALIZED (
  SELECT exf.symbol, exf.t, exf.exf - exs.exs AS dif
  FROM exf JOIN exs ON exf.symbol = exs.symbol AND exf.t = exs.t
)""",
    )
    + """
SELECT symbol, t,
       CAST(dif AS BIGINT) AS mext_dif_micro,
       CAST(dea AS BIGINT) AS mext_dea_micro,
       CAST(dif - dea AS BIGINT) AS mext_hist_micro
FROM (
  SELECT b.symbol, b.t, d.dif,
         CASE WHEN COUNT(d.dif) OVER w5 = 5 AND COUNT(*) OVER w5 = 5
              THEN FLOOR(SUM(d.dif) OVER w5 / 5 + 0.5) END AS dea
  FROM bars b LEFT JOIN extdif d ON b.symbol = d.symbol AND b.t = d.t
  WINDOW w5 AS (PARTITION BY b.symbol ORDER BY b.t ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
) z
"""
)


# ---------------------------------------------------------------------------
# Salted skew-join: per-nation customer rollup through salted_join
# ---------------------------------------------------------------------------


def _salted_nation_query(spark: SparkSession, sf_dir: str) -> DataFrame:
    """customer ⋈ nation through ``salted_join`` (operators/skew.py), then
    the two-level quantized rollup. Proves the salted plan is
    result-identical to the plain equi-join (the oracle is the plain
    join). nationkey is the classic hot-key shape at 100 TB: 25 distinct
    values over billions of customers, so an unsalted shuffle join puts
    1/25th of the fact table on single reducers; salting spreads each key
    over `salt` of them. Two-level micro-unit sum because per-nation row
    counts are unbounded in SF (single long partials would overflow past
    ~1e9 rows/nation)."""
    from polars_quant_spark.operators.skew import salted_join
    from polars_quant_spark.queries import merge_micros, micros, units
    from polars_quant_spark.sources.bars import load_table

    cu = load_table(spark, sf_dir, "customer").select(
        F.col("c_nationkey").alias("nationkey"), "c_acctbal"
    )
    na = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("nationkey"), "n_name"
    )
    j = salted_join(cu, na, "nationkey", salt=8)
    partials = j.groupBy("n_name", F.spark_partition_id().alias("_p")).agg(
        F.sum(micros(F.col("c_acctbal"))).alias("_bal"),
        F.count(F.lit(1)).alias("_n"),
    )
    return partials.groupBy("n_name").agg(
        units(merge_micros(F.col("_bal"))).alias("total_acctbal"),
        F.sum("_n").alias("n_customers"),
    )


QUERIES["rel_salted_nation_rollup"] = _salted_nation_query
ORACLES["rel_salted_nation_rollup"] = """
SELECT n_name,
       CAST(SUM(CAST(FLOOR(c_acctbal * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE) / 1000000.0 AS total_acctbal,
       COUNT(*) AS n_customers
FROM customer JOIN nation ON c_nationkey = n_nationkey
GROUP BY n_name
"""


# ---------------------------------------------------------------------------
# §2.1 loader surface, driver-verified: prepare_sequential_data over a real
# folder of per-asset files (the reference's input format), against a SQL
# grid+forward-fill twin.
# ---------------------------------------------------------------------------

from polars_quant_spark.sources.bars import BARS_CTE  # noqa: E402

_LOADER_GAP = (
    "CAST(('0x' || substring(md5(symbol || CAST(ts_us AS VARCHAR)), 1, 4)) "
    "AS BIGINT) % 5 != 0"
)

_LOADER_FIXTURES: dict[str, str] = {}


def _loader_gap_col() -> F.Column:
    """Spark twin of _LOADER_GAP: drop every 5th (symbol, ts) row by md5."""
    return (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("symbol"), F.col("ts_us").cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("long")
        % 5
        != 0
    )


def _asset_folder_fixture(spark: SparkSession, sf_dir: str) -> str:
    """Materialize the reference's folder-of-assets input (one
    ``{symbol}.parquet`` per asset, gapped rows, no symbol column) for the
    loader queries — shared by loader_grid_fill / loader_wide_pivot and
    memoized per SF.

    The write is fully distributed: ``repartition("symbol")`` puts each
    asset in one task, ``partitionBy("symbol")`` splits the files by value,
    and only O(symbols) directory renames run on the driver. No row ever
    passes through the driver (the round-2 version round-tripped the table
    through toPandas inside each declared query body)."""
    import os
    import shutil
    import tempfile

    key = sf_dir.rstrip("/")
    folder = _LOADER_FIXTURES.get(key)
    if folder and os.path.isdir(folder) and os.listdir(folder):
        return folder
    base = os.path.join(
        tempfile.gettempdir(), "pqs_assets_" + os.path.basename(key)
    )
    staging = base + "_staging"
    shutil.rmtree(base, ignore_errors=True)
    shutil.rmtree(staging, ignore_errors=True)
    (
        bars(spark, sf_dir)
        .select("symbol", "ts_us", "close", "volume")
        .where(_loader_gap_col())
        .repartition("symbol")
        .sortWithinPartitions("symbol", "ts_us")
        .write.mode("overwrite")
        .partitionBy("symbol")
        .parquet(staging)
    )
    os.makedirs(base, exist_ok=True)
    for d in os.listdir(staging):
        if not d.startswith("symbol="):
            continue
        sym = d.split("=", 1)[1]
        parts = [
            f for f in os.listdir(os.path.join(staging, d))
            if f.endswith(".parquet")
        ]
        assert len(parts) == 1, f"expected one file per asset, got {parts}"
        os.rename(
            os.path.join(staging, d, parts[0]),
            os.path.join(base, f"{sym}.parquet"),
        )
    shutil.rmtree(staging)
    _LOADER_FIXTURES[key] = base
    return base


@q(
    "loader_grid_fill",
    BARS_CTE
    + f""",
obs AS (
  SELECT symbol, ts_us, close, volume FROM bars WHERE {_LOADER_GAP}
),
grid AS (
  SELECT d.ts_us, s.symbol
  FROM (SELECT DISTINCT ts_us FROM obs) d
  CROSS JOIN (SELECT DISTINCT symbol FROM obs) s
),
filled AS (
  SELECT g.symbol, g.ts_us,
         COALESCE(LAST_VALUE(o.close IGNORE NULLS) OVER w, 0.0) AS close,
         COALESCE(LAST_VALUE(o.volume IGNORE NULLS) OVER w, 0.0) AS volume
  FROM grid g LEFT JOIN obs o ON o.symbol = g.symbol AND o.ts_us = g.ts_us
  WINDOW w AS (PARTITION BY g.symbol ORDER BY g.ts_us
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
)
SELECT symbol, ts_us, ROUND(close, 6) AS close, ROUND(volume, 6) AS volume
FROM filled
""",
)
def loader_grid_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.1 prepare_sequential_data, end to end on real files: bars are
    punched with per-symbol pseudo-random gaps (md5 mod 5 — the twin drops
    the identical rows), written as one parquet file per asset (the
    reference's folder-of-assets input, backtest/sequential.py:7-93), then
    folder-scanned, symbol-tagged from file stems, aligned on the full
    date×symbol grid, forward-filled per symbol and zero-filled at the
    leading edge. Fixture files are built once per SF by a distributed
    partitioned write (_asset_folder_fixture) — the operator under test is
    the loader's grid/fill plan; no declared-query row passes through the
    driver."""
    folder = _asset_folder_fixture(spark, sf_dir)
    from polars_quant_spark.sources.loader import prepare_sequential_data

    out = prepare_sequential_data(
        spark,
        folder,
        date_col="ts_us",
        symbol_col="symbol",
        fill_null_strategy="forward",
        default_fill_value=0.0,
    )
    return out.select(
        "symbol", "ts_us", r6(F.col("close")).alias("close"),
        r6(F.col("volume")).alias("volume"),
    )


_LOAD_SYMS = ["click", "error", "purchase", "signup", "view"]
_LOAD_WIDE_COLS = ",\n".join(
    f"  ROUND(MAX(CASE WHEN symbol = '{s}' THEN {f} END), 6) AS {s}_{f}"
    for s in _LOAD_SYMS
    for f in ("close", "volume")
)


@q(
    "loader_wide_pivot",
    BARS_CTE
    + f""",
obs AS (
  SELECT symbol, ts_us, close, volume FROM bars WHERE {_LOADER_GAP}
)
SELECT ts_us,
{_LOAD_WIDE_COLS}
FROM obs GROUP BY ts_us
""",
)
def loader_wide_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.1 ``load``: the reference's wide {{symbol}}_{{field}} frame
    (README.md:90-161), built by pivoting the folder-of-assets long layout.
    Shares loader_grid_fill's distributed per-asset fixture; missing
    (date, symbol) cells stay NULL in both engines. The twin hard-codes the
    five driver symbols as conditional aggregates — which is exactly what a
    pivot is."""
    folder = _asset_folder_fixture(spark, sf_dir)
    from polars_quant_spark.sources.loader import load

    wide = load(spark, folder, date_col="ts_us", fields=["close", "volume"])
    cols = [c for c in wide.columns if c != "ts_us"]
    return wide.select("ts_us", *[r6(F.col(c)).alias(c) for c in cols])


@q(
    "rel_topk_per_group",
    """
SELECT c_mktsegment, o_orderkey, o_totalprice, rnk FROM (
  SELECT c.c_mktsegment, o.o_orderkey, o.o_totalprice,
         CAST(ROW_NUMBER() OVER (PARTITION BY c.c_mktsegment
                                 ORDER BY o.o_totalprice DESC, o.o_orderkey)
              AS INTEGER) AS rnk
  FROM orders o JOIN customer c ON o.o_custkey = c.c_custkey
) t WHERE rnk <= 3
""",
)
def rel_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group top-k (3 priciest orders per market segment) via a rank
    window — the group-local sibling of q3/q10's global TakeOrdered. Spark
    plans the rank<=k filter as WindowGroupLimit: each map task keeps only
    its local top-3 per segment BEFORE the exchange, so the shuffle carries
    O(segments·k·tasks) rows, not the orders table (asserted in
    test_plans.py)."""
    from polars_quant_spark.sources.bars import load_table

    od = load_table(spark, sf_dir, "orders")
    cu = load_table(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    return (
        od.join(cu, od.o_custkey == cu.c_custkey)
        .select("c_mktsegment", "o_orderkey", "o_totalprice")
        .withColumn("rnk", F.row_number().over(w))
        .where(F.col("rnk") <= 3)
    )


@q(
    "rel_rank_family",
    """
SELECT c_mktsegment, c_custkey,
       CAST(RANK() OVER w AS BIGINT) AS rnk,
       CAST(DENSE_RANK() OVER w AS BIGINT) AS drnk,
       ROUND(PERCENT_RANK() OVER w, 6) AS prnk,
       ROUND(CUME_DIST() OVER w, 6) AS cdist,
       CAST(NTILE(4) OVER w AS INTEGER) AS quartile
FROM customer
WHERE c_custkey <= 300
WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal DESC, c_custkey)
""",
)
def rel_rank_family(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full SQL rank-function family over one window spec — rank,
    dense_rank, percent_rank, cume_dist, ntile share a single sort+exchange
    (Spark plans them in one Window node). Total order via the acctbal,
    custkey tie-break keeps every function deterministic cross-engine."""
    from polars_quant_spark.sources.bars import load_table

    cu = load_table(spark, sf_dir, "customer").where(F.col("c_custkey") <= 300)
    w = Window.partitionBy("c_mktsegment").orderBy(
        F.col("c_acctbal").desc(), F.col("c_custkey")
    )
    return cu.select(
        "c_mktsegment",
        "c_custkey",
        F.rank().over(w).cast("long").alias("rnk"),
        F.dense_rank().over(w).cast("long").alias("drnk"),
        r6(F.percent_rank().over(w)).alias("prnk"),
        r6(F.cume_dist().over(w)).alias("cdist"),
        F.ntile(4).over(w).alias("quartile"),
    )


@q(
    "bars_resample_5",
    BARS_CTE
    + """
SELECT symbol,
       (t - 1) // 5 AS bucket,
       ROUND(arg_min(open, t), 6) AS open,
       ROUND(MAX(high), 6) AS high,
       ROUND(MIN(low), 6) AS low,
       ROUND(arg_max(close, t), 6) AS close,
       ROUND(SUM(CAST(FLOOR(volume * 1000000.0 + 0.5) AS BIGINT)) / 1000000.0, 6) AS volume,
       COUNT(*) AS n_bars
FROM bars
GROUP BY symbol, (t - 1) // 5
""",
)
def bars_resample_5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """OHLCV downsampling (5-bar buckets): first open / max high / min low /
    last close / summed volume per (symbol, bucket) — the core bar
    resampling op, as ONE hash aggregation. first/last are min_by/max_by on
    the bar index (aggregation input order is undefined after a shuffle —
    F.first/F.last would be nondeterministic; the argmin/argmax pair is the
    order-free form both engines share). Volume sums in integer micro-units.
    At scale this is a map-side-combinable groupBy — no window, no sort."""
    b = bars(spark, sf_dir)
    return (
        b.groupBy("symbol", F.expr("(t - 1) div 5").alias("bucket"))
        .agg(
            r6(F.min_by("open", "t")).alias("open"),
            r6(F.max("high")).alias("high"),
            r6(F.min("low")).alias("low"),
            r6(F.max_by("close", "t")).alias("close"),
            r6(
                F.sum(
                    F.floor(F.col("volume") * 1000000.0 + F.lit(0.5)).cast("long")
                ).cast("double")
                / F.lit(1000000.0)
            ).alias("volume"),
            F.count(F.lit(1)).alias("n_bars"),
        )
    )


@q(
    "bars_vwap",
    BARS_CTE
    + """
SELECT symbol,
       (t - 1) // 20 AS bucket,
       ROUND(CAST(SUM(CAST(FLOOR(close * volume * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000.0
             / (CAST(SUM(CAST(FLOOR(volume * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
                / 1000000.0), 6) AS vwap,
       ROUND(CAST(SUM(CAST(FLOOR(close * 1000000.0 + 0.5) AS BIGINT)) AS DOUBLE)
             / 1000000.0 / COUNT(*), 6) AS twap
FROM bars
GROUP BY symbol, (t - 1) // 20
""",
)
def bars_vwap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VWAP and TWAP per 20-bar bucket — the execution-quality benchmarks,
    as one map-side-combinable aggregation with integer micro-unit sums on
    both numerator and denominator (association-order-free; the final two
    divisions are identical double ops on both engines)."""
    b = bars(spark, sf_dir)

    def micros_sum(c):
        return F.sum(F.floor(c * 1000000.0 + F.lit(0.5)).cast("long")).cast(
            "double"
        ) / F.lit(1000000.0)

    return b.groupBy("symbol", F.expr("(t - 1) div 20").alias("bucket")).agg(
        r6(
            micros_sum(F.col("close") * F.col("volume")) / micros_sum(F.col("volume"))
        ).alias("vwap"),
        r6(micros_sum(F.col("close")) / F.count(F.lit(1))).alias("twap"),
    )


@q(
    "bars_return_cov",
    BARS_CTE
    + """,
r AS (
  SELECT symbol, t,
         close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0 AS ret
  FROM bars
),
qq AS (
  SELECT symbol, t, CAST(FLOOR(ret * 1000000.0 + 0.5) AS BIGINT) AS qr
  FROM r WHERE ret IS NOT NULL
)
SELECT a.symbol AS sym_a, b.symbol AS sym_b,
       ROUND((CAST(SUM(a.qr * b.qr) AS DOUBLE) / 1000000000000.0
              - (CAST(SUM(a.qr) AS DOUBLE) / 1000000.0)
                * (CAST(SUM(b.qr) AS DOUBLE) / 1000000.0) / COUNT(*))
             / (COUNT(*) - 1), 6) AS cov
FROM qq a JOIN qq b ON a.t = b.t AND a.symbol <= b.symbol
GROUP BY a.symbol, b.symbol
""",
)
def bars_return_cov(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise-complete return covariance across symbols (upper triangle
    incl. variances) — the input to portfolio construction. Returns are
    micro-quantized before the pair products, so the moment sums are
    integer-exact in any order; the t-equi-join aligns symbols (one shuffle
    on t; at scale pre-bucket the bar store by t for this access path).
    Feeds operators/portfolio.min_variance_weights."""
    from polars_quant_spark.sources.bars import load_table  # noqa: F401

    b = bars(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("t")
    r = b.select(
        "symbol", "t",
        (F.col("close") / F.lag("close").over(w) - F.lit(1.0)).alias("ret"),
    ).where(F.col("ret").isNotNull())
    qq = r.select(
        "symbol", "t",
        F.floor(F.col("ret") * 1000000.0 + F.lit(0.5)).cast("long").alias("qr"),
    )
    a = qq.select(F.col("symbol").alias("sym_a"), "t", F.col("qr").alias("_qa"))
    bq = qq.select(F.col("symbol").alias("sym_b"), "t", F.col("qr").alias("_qb"))
    n = F.count(F.lit(1))
    return (
        a.join(bq, "t")
        .where(F.col("sym_a") <= F.col("sym_b"))
        .groupBy("sym_a", "sym_b")
        .agg(
            r6(
                (
                    F.sum(F.col("_qa") * F.col("_qb")).cast("double") / F.lit(1e12)
                    - (F.sum("_qa").cast("double") / F.lit(1e6))
                    * (F.sum("_qb").cast("double") / F.lit(1e6))
                    / n
                )
                / (n - F.lit(1))
            ).alias("cov")
        )
    )


@q(
    "bars_var_cvar",
    BARS_CTE
    + """,
r AS (
  SELECT symbol,
         close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0 AS ret
  FROM bars
),
rr AS (SELECT symbol, ret FROM r WHERE ret IS NOT NULL),
v AS (SELECT symbol, quantile_cont(ret, 0.05) AS var5 FROM rr GROUP BY symbol)
SELECT rr.symbol,
       ROUND(v.var5, 6) AS var_5,
       ROUND(CAST(SUM(CASE WHEN rr.ret <= v.var5
                           THEN CAST(FLOOR(rr.ret * 1000000.0 + 0.5) AS BIGINT)
                           ELSE 0 END) AS DOUBLE) / 1000000.0
             / SUM(CASE WHEN rr.ret <= v.var5 THEN 1 ELSE 0 END), 6) AS cvar_5,
       COUNT(*) AS n_rets
FROM rr JOIN v ON rr.symbol = v.symbol
GROUP BY rr.symbol, v.var5
""",
)
def bars_var_cvar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol 5% Value-at-Risk (exact interpolated return quantile —
    Spark `percentile` and DuckDB `quantile_cont` share the definition) and
    Conditional VaR (mean of the tail at-or-below VaR, integer micro-unit
    sum / exact count). The VaR stats frame is one row per symbol,
    broadcast back onto the returns — the clean.py join-back shape."""
    b = bars(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("t")
    rr = b.select(
        "symbol",
        (F.col("close") / F.lag("close").over(w) - F.lit(1.0)).alias("ret"),
    ).where(F.col("ret").isNotNull())
    v = rr.groupBy("symbol").agg(
        F.percentile(F.col("ret"), F.lit(0.05)).alias("_var5")
    )
    tail_micros = F.sum(
        F.when(
            F.col("ret") <= F.col("_var5"),
            F.floor(F.col("ret") * 1000000.0 + F.lit(0.5)).cast("long"),
        ).otherwise(F.lit(0).cast("long"))
    )
    tail_n = F.sum(F.when(F.col("ret") <= F.col("_var5"), 1).otherwise(0))
    return (
        rr.join(F.broadcast(v), "symbol")
        .groupBy("symbol", "_var5")
        .agg(
            r6(tail_micros.cast("double") / F.lit(1000000.0) / tail_n).alias("cvar_5"),
            F.count(F.lit(1)).alias("n_rets"),
        )
        .select(
            "symbol", r6(F.col("_var5")).alias("var_5"), "cvar_5", "n_rets"
        )
    )


@q(
    "loader_interpolate",
    BARS_CTE
    + f""",
gapped AS (
  SELECT symbol, ts_us,
         CASE WHEN {_LOADER_GAP} THEN close END AS close_g
  FROM bars
),
br AS (
  SELECT symbol, ts_us, close_g,
         LAST_VALUE(close_g IGNORE NULLS) OVER wp AS pv,
         LAST_VALUE(CASE WHEN close_g IS NOT NULL THEN ts_us END IGNORE NULLS) OVER wp AS pt,
         FIRST_VALUE(close_g IGNORE NULLS) OVER wf AS nv,
         FIRST_VALUE(CASE WHEN close_g IS NOT NULL THEN ts_us END IGNORE NULLS) OVER wf AS nt
  FROM gapped
  WINDOW wp AS (PARTITION BY symbol ORDER BY ts_us
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         wf AS (PARTITION BY symbol ORDER BY ts_us
                ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING)
)
SELECT symbol, ts_us,
       ROUND(CASE WHEN close_g IS NOT NULL THEN close_g
                  WHEN pv IS NULL THEN nv
                  WHEN nv IS NULL THEN pv
                  ELSE pv + (nv - pv) * (CAST(ts_us - pt AS DOUBLE) / CAST(nt - pt AS DOUBLE))
             END, 6) AS close_i
FROM br
""",
)
def loader_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted linear interpolation over md5-gapped bars
    (clean.interpolate_linear): NULL cells take the prev/next observation
    bracket weighted by the actual µs gap; leading/trailing runs degrade
    to back/forward fill. One exchange, two frame directions over one
    sort."""
    from polars_quant_spark.operators.clean import interpolate_linear

    b = bars(spark, sf_dir).select("symbol", "ts_us", "close")
    gap = (
        F.conv(
            F.substring(
                F.md5(F.concat(F.col("symbol"), F.col("ts_us").cast("string"))), 1, 4
            ),
            16,
            10,
        ).cast("long")
        % 5
        != 0
    )
    gapped = b.select(
        "symbol", "ts_us", F.when(gap, F.col("close")).alias("close_g")
    )
    out = interpolate_linear(gapped, "close_g", key="symbol", t="ts_us", out="_i")
    return out.select("symbol", "ts_us", r6(F.col("_i")).alias("close_i"))


@q(
    "events_anomaly_zscore",
    """
WITH e AS (
  SELECT event_type, event_id, epoch_us(ts) AS ts_us, CAST(value AS DOUBLE) AS value,
         CAST(FLOOR(value * 10000.0 + 0.5) AS BIGINT) AS qv
  FROM events
),
z AS (
  SELECT event_type, event_id, value, qv,
         COUNT(*) OVER w AS n,
         AVG(value) OVER w AS mu,
         STDDEV_POP(value) OVER w AS sd,
         SUM(qv) OVER w AS s,
         SUM(qv * qv) OVER w AS ss
  FROM e
  WINDOW w AS (PARTITION BY event_type ORDER BY ts_us, event_id
               ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
)
SELECT event_type, event_id, ROUND(value, 6) AS value,
       ROUND((value - mu) / sd, 6) AS z
FROM z
WHERE n = 50 AND 50 * ss - s * s > 0
  AND (50 * qv - s) * (50 * qv - s) > 9 * (50 * ss - s * s)
""",
)
def events_anomaly_zscore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling z-score anomaly detection over the event stream (monitoring
    primitive): value vs its trailing-50 mean/σ per event type, flagging
    |z| > 3. One exchange on event_type; mean and population σ come out of
    the same window pass.

    The DISCRETE row-selection test runs in integer arithmetic (round-5
    alias-audit fix): with qv = value quantized to 1e-4 units, s = Σqv and
    ss = Σqv² over the window, |z| > 3 ⟺ (n·qv − s)² > 9·(n·ss − s²) and
    σ > 0 ⟺ n·ss − s² > 0 — exact in any accumulation order, so row
    membership can't flip on a last-ulp STDDEV difference between engines.
    (value ≤ ~560 in the driver data keeps every term under 1e18; the
    displayed z stays the float FLOOR-rounded continuous measure.)"""
    from polars_quant_spark.sources.bars import load_table, ts_us_expr

    ev = load_table(spark, sf_dir, "events")
    e = ev.select(
        "event_type",
        "event_id",
        ts_us_expr(ev).alias("ts_us"),
        F.col("value").cast("double").alias("value"),
        F.floor(F.col("value") * F.lit(10000.0) + F.lit(0.5))
        .cast("long")
        .alias("qv"),
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("ts_us", "event_id")
        .rowsBetween(-49, 0)
    )
    n = F.count(F.lit(1)).over(w)
    mu = F.avg("value").over(w)
    sd = F.stddev_pop("value").over(w)
    s = F.sum("qv").over(w)
    ss = F.sum(F.col("qv") * F.col("qv")).over(w)
    e2 = e.select(
        "event_type",
        "event_id",
        "value",
        "qv",
        n.alias("_n"),
        mu.alias("_mu"),
        sd.alias("_sd"),
        s.alias("_s"),
        ss.alias("_ss"),
    )
    var_num = F.lit(50) * F.col("_ss") - F.col("_s") * F.col("_s")
    dev = F.lit(50) * F.col("qv") - F.col("_s")
    return (
        e2.where(
            (F.col("_n") == 50) & (var_num > 0) & (dev * dev > F.lit(9) * var_num)
        )
        .select(
            "event_type",
            "event_id",
            r6(F.col("value")).alias("value"),
            r6((F.col("value") - F.col("_mu")) / F.col("_sd")).alias("z"),
        )
    )


@q(
    "bars_rolling_beta",
    BARS_CTE
    + """,
r AS (
  SELECT symbol, t,
         CAST(FLOOR((close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS qr
  FROM bars
),
rr AS (SELECT symbol, t, qr FROM r WHERE qr IS NOT NULL),
mkt AS (
  SELECT t,
         CAST(FLOOR(CAST(SUM(qr) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS qm
  FROM rr GROUP BY t
),
j AS (
  SELECT rr.symbol, rr.t, rr.qr, mkt.qm FROM rr JOIN mkt ON mkt.t = rr.t
),
win AS (
  SELECT symbol, t,
         COUNT(*) OVER w AS n,
         SUM(qr * qm) OVER w AS s_am,
         SUM(qr) OVER w AS s_a,
         SUM(qm) OVER w AS s_m,
         SUM(qm * qm) OVER w AS s_mm
  FROM j
  WINDOW w AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
)
SELECT symbol, t,
       ROUND((CAST(s_am AS DOUBLE) / 1000000000000.0
              - (CAST(s_a AS DOUBLE) / 1000000.0) * (CAST(s_m AS DOUBLE) / 1000000.0) / n)
             / (CAST(s_mm AS DOUBLE) / 1000000000000.0
              - (CAST(s_m AS DOUBLE) / 1000000.0) * (CAST(s_m AS DOUBLE) / 1000000.0) / n), 6) AS beta
FROM win
WHERE n = 60
  AND (CAST(s_mm AS DOUBLE) / 1000000000000.0
       - (CAST(s_m AS DOUBLE) / 1000000.0) * (CAST(s_m AS DOUBLE) / 1000000.0) / n) > 0
""",
)
def bars_rolling_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 60-bar beta of each symbol against the equal-weight market
    return — the time-varying systematic-exposure measure. Returns and the
    market return are micro-quantized BEFORE the moment sums, so every
    window sum is an integer (association-free) and the beta ratio is one
    identical double expression on both engines. Two exchanges: the
    per-t market agg, then the per-symbol window."""
    from polars_quant_spark.functions.riskstats import rolling_beta

    b = bars(spark, sf_dir)
    out = rolling_beta(b, p=60)
    return out.select("symbol", "t", r6(F.col("beta")).alias("beta"))


@q(
    "ind_mtf_sma",
    BARS_CTE
    + """,
htf AS (
  SELECT symbol, (t - 1) // 5 AS bucket, arg_max(close, t) AS hclose
  FROM bars GROUP BY symbol, (t - 1) // 5
  HAVING COUNT(*) = 5
),
hsma AS (
  SELECT symbol, bucket,
         CASE WHEN COUNT(hclose) OVER w = 10 THEN AVG(hclose) OVER w END AS htf_sma
  FROM htf
  WINDOW w AS (PARTITION BY symbol ORDER BY bucket ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
)
SELECT b.symbol, b.t, ROUND(b.close, 6) AS close, ROUND(h.htf_sma, 6) AS htf_sma
FROM bars b
JOIN hsma h ON h.symbol = b.symbol AND h.bucket = (b.t // 5) - 1
WHERE h.htf_sma IS NOT NULL
""",
)
def ind_mtf_sma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-timeframe confirmation: the 10-period SMA of COMPLETED 5-bar
    higher-timeframe closes, attached to every base bar — the classic
    'trade the 1m chart, confirm on the 5m' workflow. Because buckets are
    a regular grid, the as-of lookup collapses to integer arithmetic
    (last completed bucket = t div 5 − 1) and the attach is a plain
    equi-join — deterministic and cheaper than a generic as-of at any
    scale. Lookahead-safe by construction: a bucket only joins to bars at
    or after its closing bar."""
    b = bars(spark, sf_dir)
    htf = (
        b.groupBy("symbol", F.expr("(t - 1) div 5").alias("bucket"))
        .agg(F.max_by("close", "t").alias("hclose"), F.count(F.lit(1)).alias("_n"))
        .where(F.col("_n") == 5)
    )
    w = Window.partitionBy("symbol").orderBy("bucket").rowsBetween(-9, 0)
    hsma = htf.select(
        F.col("symbol").alias("_s"),
        "bucket",
        F.when(
            F.count("hclose").over(w) == 10, F.avg("hclose").over(w)
        ).alias("htf_sma"),
    )
    return (
        b.join(
            hsma,
            (b.symbol == F.col("_s"))
            & (F.col("bucket") == (F.col("t") / 5).cast("int") - 1),
        )
        .where(F.col("htf_sma").isNotNull())
        .select("symbol", "t", r6(F.col("close")).alias("close"), r6(F.col("htf_sma")).alias("htf_sma"))
    )


@q(
    "bars_amihud_illiq",
    BARS_CTE
    + """,
r AS (
  SELECT symbol, t,
         ABS(close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0) AS aret,
         close * volume AS dvol
  FROM bars
),
q AS (
  SELECT symbol, t,
         CASE WHEN dvol > 0
              THEN CAST(FLOOR(aret / dvol * 1000000000000.0 + 0.5) AS BIGINT) END AS illiq_p
  FROM r WHERE aret IS NOT NULL
)
SELECT symbol, t,
       ROUND(CAST(SUM(illiq_p) OVER w AS DOUBLE) / 1000000000000.0
             / COUNT(illiq_p) OVER w, 6) AS amihud_20
FROM q
WINDOW w AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
QUALIFY COUNT(illiq_p) OVER w = 20
""",
)
def bars_amihud_illiq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Amihud illiquidity (trailing-20 mean of |return| per unit of dollar
    volume) — the standard price-impact proxy. Per-bar ratios quantize to
    pico-units before the window sum, so the rolling mean is
    association-free on both engines."""
    b = bars(spark, sf_dir)
    w = Window.partitionBy("symbol").orderBy("t")
    aret = F.abs(F.col("close") / F.lag("close").over(w) - F.lit(1.0))
    dvol = F.col("close") * F.col("volume")
    q = (
        b.select("symbol", "t", aret.alias("_ar"), dvol.alias("_dv"))
        .where(F.col("_ar").isNotNull())
        .select(
            "symbol",
            "t",
            F.when(
                F.col("_dv") > 0,
                F.floor(F.col("_ar") / F.col("_dv") * 1e12 + F.lit(0.5)).cast("long"),
            ).alias("illiq_p"),
        )
    )
    wf = Window.partitionBy("symbol").orderBy("t").rowsBetween(-19, 0)
    n = F.count("illiq_p").over(wf)
    return (
        q.select(
            "symbol",
            "t",
            n.alias("_n"),
            (F.sum("illiq_p").over(wf).cast("double") / 1e12 / n).alias("_a"),
        )
        .where(F.col("_n") == 20)
        .select("symbol", "t", r6(F.col("_a")).alias("amihud_20"))
    )


@q(
    "bars_pairs_spread",
    BARS_CTE
    + """,
pxq AS (
  SELECT t,
         CAST(FLOOR(MAX(CASE WHEN symbol = 'click' THEN close END) * 1000000.0 + 0.5) AS BIGINT) AS qa,
         CAST(FLOOR(MAX(CASE WHEN symbol = 'view' THEN close END) * 1000000.0 + 0.5) AS BIGINT) AS qb
  FROM bars WHERE symbol IN ('click', 'view') GROUP BY t
  HAVING COUNT(DISTINCT symbol) = 2
),
mom AS (
  SELECT t, qa, qb,
         COUNT(*) OVER w AS n,
         SUM(qa * qb) OVER w AS s_ab,
         SUM(qa) OVER w AS s_a,
         SUM(qb) OVER w AS s_b,
         SUM(qb * qb) OVER w AS s_bb
  FROM pxq
  WINDOW w AS (ORDER BY t ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
),
hedge AS (
  SELECT t, qa, qb, n,
         (CAST(s_ab AS DOUBLE) / 1000000000000.0
          - (CAST(s_a AS DOUBLE) / 1000000.0) * (CAST(s_b AS DOUBLE) / 1000000.0) / n)
         / (CAST(s_bb AS DOUBLE) / 1000000000000.0
          - (CAST(s_b AS DOUBLE) / 1000000.0) * (CAST(s_b AS DOUBLE) / 1000000.0) / n) AS h
  FROM mom
  WHERE n = 60
    AND (CAST(s_bb AS DOUBLE) / 1000000000000.0
         - (CAST(s_b AS DOUBLE) / 1000000.0) * (CAST(s_b AS DOUBLE) / 1000000.0) / n) > 0
),
spread AS (
  SELECT t,
         CAST(FLOOR((CAST(qa AS DOUBLE) / 1000000.0
                     - h * (CAST(qb AS DOUBLE) / 1000000.0)) * 1000000.0 + 0.5) AS BIGINT) AS sq
  FROM hedge
),
z AS (
  SELECT t, sq,
         COUNT(*) OVER w2 AS zn,
         AVG(CAST(sq AS DOUBLE)) OVER w2 AS mu,
         STDDEV_POP(CAST(sq AS DOUBLE)) OVER w2 AS sd
  FROM spread
  WINDOW w2 AS (ORDER BY t ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
)
SELECT t, ROUND(CAST(sq AS DOUBLE) / 1000000.0, 6) AS spread,
       ROUND((CAST(sq AS DOUBLE) - mu) / sd, 6) AS z
FROM z
WHERE zn = 60 AND sd > 0
""",
)
def bars_pairs_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs-trading spread monitor for (click, view): rolling 60-bar OLS
    hedge ratio (price-on-price, integer moment sums), the hedged spread
    a − h·b, and its rolling z-score — the stat-arb entry signal. The
    whole chain is two single-partition windows over the aligned pair
    frame (two symbols → tiny); the heavy work (bar alignment) is one
    groupBy(t). Spread values re-quantize before the z window so the
    mean/σ inputs are engine-exact."""
    b = bars(spark, sf_dir).where(F.col("symbol").isin("click", "view"))
    qa = F.floor(
        F.max(F.when(F.col("symbol") == "click", F.col("close"))) * 1e6 + F.lit(0.5)
    ).cast("long")
    qb = F.floor(
        F.max(F.when(F.col("symbol") == "view", F.col("close"))) * 1e6 + F.lit(0.5)
    ).cast("long")
    pxq = (
        b.groupBy("t")
        .agg(qa.alias("qa"), qb.alias("qb"), F.countDistinct("symbol").alias("_ns"))
        .where(F.col("_ns") == 2)
    )
    w = Window.orderBy("t").rowsBetween(-59, 0)
    n = F.count(F.lit(1)).over(w)
    s_ab = F.sum(F.col("qa") * F.col("qb")).over(w)
    s_a = F.sum("qa").over(w)
    s_b = F.sum("qb").over(w)
    s_bb = F.sum(F.col("qb") * F.col("qb")).over(w)
    cov = s_ab.cast("double") / 1e12 - (s_a.cast("double") / 1e6) * (
        s_b.cast("double") / 1e6
    ) / n
    var = s_bb.cast("double") / 1e12 - (s_b.cast("double") / 1e6) * (
        s_b.cast("double") / 1e6
    ) / n
    hedge = (
        pxq.select("t", "qa", "qb", n.alias("_n"), cov.alias("_c"), var.alias("_v"))
        .where((F.col("_n") == 60) & (F.col("_v") > 0))
        .select("t", "qa", "qb", (F.col("_c") / F.col("_v")).alias("h"))
    )
    sq = F.floor(
        (
            F.col("qa").cast("double") / 1e6
            - F.col("h") * (F.col("qb").cast("double") / 1e6)
        )
        * 1e6
        + F.lit(0.5)
    ).cast("long")
    spread = hedge.select("t", sq.alias("sq"))
    w2 = Window.orderBy("t").rowsBetween(-59, 0)
    zn = F.count(F.lit(1)).over(w2)
    mu = F.avg(F.col("sq").cast("double")).over(w2)
    sd = F.stddev_pop(F.col("sq").cast("double")).over(w2)
    return (
        spread.select(
            "t",
            F.col("sq"),
            zn.alias("_zn"),
            mu.alias("_mu"),
            sd.alias("_sd"),
        )
        .where((F.col("_zn") == 60) & (F.col("_sd") > 0))
        .select(
            "t",
            r6(F.col("sq").cast("double") / 1e6).alias("spread"),
            r6((F.col("sq").cast("double") - F.col("_mu")) / F.col("_sd")).alias("z"),
        )
    )


# EWMA volatility: EMA(20) of squared returns, annualization left to the
# caller — composes the recurrence runner over a DERIVED column (the runner
# doesn't care that "r2" came from a window expression upstream).
_EWMA_VOL_SRC = """
r2src AS (
  SELECT symbol, t,
         POWER(close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0, 2) AS r2
  FROM bars
)"""

ORACLES_EWMA_VOL = (
    recursive_with(
        _EWMA_VOL_SRC + "," + ema_ctes("ev", "r2src", "r2", 20)
    )
    + """
SELECT symbol, t, ROUND(sqrt(ev), 6) AS ewma_vol_20
FROM ev WHERE ev >= 0
"""
)


def ind_ewma_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA volatility (RiskMetrics-style): the SMA-seeded EMA(20) of
    squared returns, square-rooted — running through the SAME recurrence
    runner as the price EMAs, just over a derived column (one extra window
    upstream, still one applyInArrow pass)."""
    b = bars(spark, sf_dir)
    w = _w()
    r2 = F.pow(F.col("close") / F.lag("close").over(w) - F.lit(1.0), F.lit(2.0))
    src = b.select("symbol", "t", r2.alias("r2"))
    out = with_recurrences(
        src.where(F.col("r2").isNotNull()),
        [Rec("ev", "ema", ["r2"], {"p": 20})],
    )
    return out.where(F.col("ev") >= 0).select(
        "symbol", "t", r6(F.sqrt(F.col("ev"))).alias("ewma_vol_20")
    )


QUERIES["ind_ewma_vol"] = ind_ewma_vol
ORACLES["ind_ewma_vol"] = ORACLES_EWMA_VOL


@q(
    "bars_hourly_seasonality",
    BARS_CTE
    + """,
r AS (
  SELECT symbol, ts_us,
         CAST(FLOOR((close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS qr
  FROM bars
)
SELECT symbol,
       CAST((ts_us // 3600000000) % 24 AS INTEGER) AS hour_utc,
       COUNT(*) AS n,
       ROUND(CAST(SUM(qr) AS DOUBLE) / 1000000.0 / COUNT(*), 6) AS avg_ret
FROM r WHERE qr IS NOT NULL
GROUP BY 1, 2
ORDER BY symbol, hour_utc
""",
)
def bars_hourly_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day return seasonality per symbol (UTC hours derived from
    the exact µs axis — no timezone library in the loop): average
    micro-quantized return per (symbol, hour). One window pass + one tiny
    groupBy."""
    b = bars(spark, sf_dir)
    w = _w()
    qr = F.floor(
        (F.col("close") / F.lag("close").over(w) - F.lit(1.0)) * 1000000.0 + F.lit(0.5)
    ).cast("long")
    return (
        b.select(
            "symbol",
            ((F.col("ts_us") / 3_600_000_000).cast("long") % 24)
            .cast("int")
            .alias("hour_utc"),
            qr.alias("qr"),
        )
        .where(F.col("qr").isNotNull())
        .groupBy("symbol", "hour_utc")
        .agg(
            F.count(F.lit(1)).alias("n"),
            r6(F.sum("qr").cast("double") / 1e6 / F.count(F.lit(1))).alias("avg_ret"),
        )
        .orderBy("symbol", "hour_utc")
    )


@q(
    "bars_drawdown_episodes",
    BARS_CTE
    + """,
cm AS (
  SELECT symbol, t, close,
         MAX(close) OVER (PARTITION BY symbol ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM bars
),
flagged AS (
  SELECT symbol, t, close, peak,
         CASE WHEN close < peak THEN 0 ELSE 1 END AS at_peak,
         SUM(CASE WHEN close < peak THEN 0 ELSE 1 END)
           OVER (PARTITION BY symbol ORDER BY t
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS episode
  FROM cm
),
under AS (
  SELECT symbol, episode,
         COUNT(*) AS duration,
         ROUND(MAX((peak - close) / peak), 6) AS depth,
         MIN(t) AS t_start, MAX(t) AS t_end
  FROM flagged WHERE at_peak = 0
  GROUP BY symbol, episode
),
ranked AS (
  SELECT *, ROW_NUMBER() OVER (PARTITION BY symbol
             ORDER BY depth DESC, t_start) AS rk
  FROM under
)
SELECT symbol, CAST(rk AS INTEGER) AS rk, depth, duration, t_start, t_end
FROM ranked WHERE rk <= 5
ORDER BY symbol, rk
""",
)
def bars_drawdown_episodes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 drawdown episodes per symbol (depth, duration, span) — the
    risk-report staple. Episodes are under-peak runs delimited by a
    conditional cumulative count of at-peak bars (one running-max + one
    running-sum window over the same sort), then one groupBy and a
    per-symbol top-k (WindowGroupLimit, no global sort)."""
    b = bars(spark, sf_dir)
    w = _w()
    wc = Window.partitionBy("symbol").orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    peak = F.max("close").over(wc)
    cm = b.select("symbol", "t", "close", peak.alias("peak"))
    at_peak = F.when(F.col("close") < F.col("peak"), 0).otherwise(1)
    flagged = cm.select(
        "symbol", "t", "close", "peak",
        at_peak.alias("at_peak"),
        F.sum(at_peak).over(wc).alias("episode"),
    )
    under = (
        flagged.where(F.col("at_peak") == 0)
        .groupBy("symbol", "episode")
        .agg(
            F.count(F.lit(1)).alias("duration"),
            r6(F.max((F.col("peak") - F.col("close")) / F.col("peak"))).alias("depth"),
            F.min("t").alias("t_start"),
            F.max("t").alias("t_end"),
        )
    )
    wr = Window.partitionBy("symbol").orderBy(F.col("depth").desc(), F.col("t_start"))
    return (
        under.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= 5)
        .select("symbol", F.col("rk").cast("int").alias("rk"), "depth", "duration", "t_start", "t_end")
        .orderBy("symbol", "rk")
    )


@q(
    "bars_gap_report",
    BARS_CTE
    + """,
g AS (
  SELECT symbol,
         CAST(ts_us - LAG(ts_us) OVER (PARTITION BY symbol ORDER BY t) AS DOUBLE)
           / 1000000.0 AS gap_s
  FROM bars
)
SELECT symbol,
       COUNT(gap_s) AS n_gaps,
       ROUND(quantile_cont(gap_s, 0.5), 6) AS p50_gap_s,
       ROUND(quantile_cont(gap_s, 0.95), 6) AS p95_gap_s,
       ROUND(MAX(gap_s), 6) AS max_gap_s
FROM g WHERE gap_s IS NOT NULL
GROUP BY symbol
ORDER BY symbol
""",
)
def bars_gap_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-bar arrival-gap distribution per symbol (p50/p95/max seconds)
    — the feed-quality report that catches dead periods and bursty
    clocks. One window pass + exact percentiles on the shared contract."""
    b = bars(spark, sf_dir)
    w = _w()
    gap = (F.col("ts_us") - F.lag("ts_us").over(w)).cast("double") / 1e6
    return (
        b.select("symbol", gap.alias("gap_s"))
        .where(F.col("gap_s").isNotNull())
        .groupBy("symbol")
        .agg(
            F.count("gap_s").alias("n_gaps"),
            r6(F.expr("percentile(gap_s, 0.5)")).alias("p50_gap_s"),
            r6(F.expr("percentile(gap_s, 0.95)")).alias("p95_gap_s"),
            r6(F.max("gap_s")).alias("max_gap_s"),
        )
        .orderBy("symbol")
    )


# Keltner channels: EMA(20) midline ± 2·ATR(10) — composes two recurrence
# kernels in ONE applyInArrow pass; beyond the reference's TA-Lib set.
ORACLES_KELTNER = (
    recursive_with(
        """
tr_tbl AS MATERIALIZED (
  SELECT symbol, t, close,
         GREATEST(high - low, ABS(high - pc), ABS(low - pc)) AS tr
  FROM (
    SELECT symbol, t, high, low, close,
           LAG(close) OVER (PARTITION BY symbol ORDER BY t) AS pc
    FROM bars
  ) x WHERE pc IS NOT NULL
)""",
        ema_ctes("katr", "tr_tbl", "tr", 10, alpha=1.0 / 10),
        ema_ctes("kmid", "bars", "close", 20),
    )
    + """
SELECT b.symbol, b.t,
       ROUND(m.kmid, 6) AS kc_mid,
       ROUND(m.kmid + 2.0 * a.katr, 6) AS kc_upper,
       ROUND(m.kmid - 2.0 * a.katr, 6) AS kc_lower
FROM bars b
JOIN kmid m ON m.symbol = b.symbol AND m.t = b.t
JOIN katr a ON a.symbol = b.symbol AND a.t = b.t
WHERE m.kmid IS NOT NULL AND a.katr IS NOT NULL
"""
)


def ind_keltner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keltner channels (EMA(20) ± 2·ATR(10)) — a named indicator beyond
    the reference's TA-Lib set, routed through the library entry point
    ``functions.trend.keltner`` (two recurrence kernels in ONE
    applyInArrow pass; adding kernels costs numpy time, not shuffles)."""
    from polars_quant_spark.functions.trend import keltner

    b = bars(spark, sf_dir)
    out = keltner(b, ema_period=20, atr_period=10, mult=2.0)
    return (
        out.where(F.col("kc_mid").isNotNull() & F.col("kc_upper").isNotNull())
        .select(
            "symbol",
            "t",
            r6(F.col("kc_mid")).alias("kc_mid"),
            r6(F.col("kc_upper")).alias("kc_upper"),
            r6(F.col("kc_lower")).alias("kc_lower"),
        )
    )


QUERIES["ind_keltner"] = ind_keltner
ORACLES["ind_keltner"] = ORACLES_KELTNER


@q(
    "ind_donchian_20",
    BARS_CTE
    + f"""
SELECT symbol, t,
       ROUND(CASE WHEN COUNT(high) OVER w = 20 THEN MAX(high) OVER w END, 6) AS dc_upper,
       ROUND(CASE WHEN COUNT(low) OVER w = 20 THEN MIN(low) OVER w END, 6) AS dc_lower,
       ROUND(CASE WHEN COUNT(high) OVER w = 20
             THEN (MAX(high) OVER w + MIN(low) OVER w) / 2.0 END, 6) AS dc_mid
FROM bars
WINDOW w AS {_win(20)}
""",
)
def ind_donchian(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian channel (20): rolling high/low envelope + midline — the
    breakout-system staple, routed through the library entry point
    ``functions.trend.donchian`` (pure expression-layer windows, one
    exchange shared with every other indicator on the same spec)."""
    from polars_quant_spark.functions.trend import donchian

    b = bars(spark, sf_dir)
    out = donchian(b, p=20)
    return out.select(
        "symbol",
        "t",
        r6(F.col("dc_upper")).alias("dc_upper"),
        r6(F.col("dc_lower")).alias("dc_lower"),
        r6(F.col("dc_mid")).alias("dc_mid"),
    )


# SuperTrend: ATR bands + ratchet/flip state machine (beyond TA-Lib).
_ST_P, _ST_M = 10, repr(3.0)

ORACLES_SUPERTREND = (
    recursive_with(
        f"""
tr_tbl AS MATERIALIZED (
  SELECT symbol, t, close,
         GREATEST(high - low, ABS(high - pc), ABS(low - pc)) AS tr
  FROM (
    SELECT symbol, t, high, low, close,
           LAG(close) OVER (PARTITION BY symbol ORDER BY t) AS pc
    FROM bars
  ) x WHERE pc IS NOT NULL
)""",
        ema_ctes("satr", "tr_tbl", "tr", _ST_P, alpha=1.0 / _ST_P),
        f"""
stb AS MATERIALIZED (
  SELECT b.symbol, b.t, b.close, b.pc,
         (b.high + b.low) / 2.0 + {_ST_M} * a.satr AS bub,
         (b.high + b.low) / 2.0 - {_ST_M} * a.satr AS blb,
         ROW_NUMBER() OVER (PARTITION BY b.symbol ORDER BY b.t) AS rn
  FROM (SELECT symbol, t, high, low, close,
               LAG(close) OVER (PARTITION BY symbol ORDER BY t) AS pc
        FROM bars) b
  JOIN satr a ON a.symbol = b.symbol AND a.t = b.t
  WHERE a.satr IS NOT NULL
),
strec AS (
  SELECT symbol, rn, bub AS fub, blb AS flb, FALSE AS up
  FROM stb WHERE rn = 1
  UNION ALL
  SELECT symbol, rn, fub_i AS fub, flb_i AS flb,
         CASE WHEN up THEN close >= flb_i ELSE close > fub_i END AS up
  FROM (
    SELECT s.symbol, s.rn, s.close, r.up,
           CASE WHEN s.bub < r.fub OR s.pc > r.fub THEN s.bub ELSE r.fub END AS fub_i,
           CASE WHEN s.blb > r.flb OR s.pc < r.flb THEN s.blb ELSE r.flb END AS flb_i
    FROM strec r JOIN stb s ON s.symbol = r.symbol AND s.rn = r.rn + 1
  )
)""",
    )
    + """
SELECT b.symbol, b.t,
       ROUND(CASE WHEN r.up THEN r.flb ELSE r.fub END, 6) AS supertrend,
       CASE WHEN r.up THEN 1 ELSE -1 END AS direction
FROM stb b JOIN strec r ON r.symbol = b.symbol AND r.rn = b.rn
"""
)


def ind_supertrend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SuperTrend(10, 3): ratcheting ATR bands with a flip state machine —
    a sequential two-state recurrence (beyond the reference's TA-Lib set)
    running in the same batched applyInArrow pass as every other scan.
    The recursive twin replays the identical ratchet/flip conditions."""
    b = bars(spark, sf_dir)
    out = with_recurrences(
        b,
        [Rec(["st_line", "st_dir"], "supertrend", ["high", "low", "close"],
             {"p": _ST_P, "mult": 3.0})],
    )
    return out.where(F.col("st_line").isNotNull()).select(
        "symbol",
        "t",
        r6(F.col("st_line")).alias("supertrend"),
        F.col("st_dir").cast("int").alias("direction"),
    )


QUERIES["ind_supertrend"] = ind_supertrend
ORACLES["ind_supertrend"] = ORACLES_SUPERTREND


@q(
    "ind_ichimoku",
    BARS_CTE
    + """,
lines AS (
  SELECT symbol, t, close,
         CASE WHEN COUNT(high) OVER w9 = 9
              THEN (MAX(high) OVER w9 + MIN(low) OVER w9) / 2.0 END AS tenkan,
         CASE WHEN COUNT(high) OVER w26 = 26
              THEN (MAX(high) OVER w26 + MIN(low) OVER w26) / 2.0 END AS kijun,
         CASE WHEN COUNT(high) OVER w52 = 52
              THEN (MAX(high) OVER w52 + MIN(low) OVER w52) / 2.0 END AS senkou_b_raw
  FROM bars
  WINDOW w9 AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 8 PRECEDING AND CURRENT ROW),
         w26 AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 25 PRECEDING AND CURRENT ROW),
         w52 AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 51 PRECEDING AND CURRENT ROW)
)
SELECT symbol, t,
       ROUND(tenkan, 6) AS tenkan,
       ROUND(kijun, 6) AS kijun,
       ROUND(LAG((tenkan + kijun) / 2.0, 26) OVER o, 6) AS senkou_a,
       ROUND(LAG(senkou_b_raw, 26) OVER o, 6) AS senkou_b,
       ROUND(LEAD(close, 26) OVER o, 6) AS chikou
FROM lines
WINDOW o AS (PARTITION BY symbol ORDER BY t)
""",
)
def ind_ichimoku(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ichimoku cloud: tenkan(9)/kijun(26) midlines, senkou A/B projected
    26 bars forward (expressed as LAG so every output sits on its display
    bar — no future rows materialized), chikou as the 26-bar LEAD of
    close. Routed through the library entry point
    ``functions.trend.ichimoku`` (pure rolling-extrema windows + shifts
    over ONE exchange)."""
    from polars_quant_spark.functions.trend import ichimoku

    b = bars(spark, sf_dir)
    out = ichimoku(b)
    return out.select(
        "symbol",
        "t",
        r6(F.col("tenkan")).alias("tenkan"),
        r6(F.col("kijun")).alias("kijun"),
        r6(F.col("senkou_a")).alias("senkou_a"),
        r6(F.col("senkou_b")).alias("senkou_b"),
        r6(F.col("chikou")).alias("chikou"),
    )


@q(
    "ind_vortex_14",
    BARS_CTE
    + """,
vm AS (
  SELECT symbol, t,
         ABS(high - LAG(low) OVER o) AS vm_plus,
         ABS(low - LAG(high) OVER o) AS vm_minus,
         GREATEST(high - low, ABS(high - LAG(close) OVER o), ABS(low - LAG(close) OVER o)) AS tr
  FROM bars
  WINDOW o AS (PARTITION BY symbol ORDER BY t)
)
SELECT symbol, t,
       ROUND(CASE WHEN COUNT(tr) OVER w = 14 AND SUM(tr) OVER w > 0
             THEN SUM(vm_plus) OVER w / SUM(tr) OVER w END, 6) AS vi_plus,
       ROUND(CASE WHEN COUNT(tr) OVER w = 14 AND SUM(tr) OVER w > 0
             THEN SUM(vm_minus) OVER w / SUM(tr) OVER w END, 6) AS vi_minus
FROM vm WHERE vm_plus IS NOT NULL
WINDOW w AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
""",
)
def ind_vortex(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vortex indicator VI+/VI− (14): rolling vortex movements over rolling
    true range — trend-change detection, routed through the library entry
    point ``functions.trend.vortex`` (pure window sums; the rolling double
    sums share one exchange; warm-up gated on a full window)."""
    from polars_quant_spark.functions.trend import vortex

    b = bars(spark, sf_dir)
    out = vortex(b, p=14)
    return out.select(
        "symbol",
        "t",
        r6(F.col("vi_plus")).alias("vi_plus"),
        r6(F.col("vi_minus")).alias("vi_minus"),
    )


@q(
    "vol_cmf_20",
    BARS_CTE
    + """,
mfv AS (
  SELECT symbol, t, volume,
         CASE WHEN high != low
              THEN ((close - low) - (high - close)) / (high - low) * volume
              ELSE 0.0 END AS mf
  FROM bars
)
SELECT symbol, t,
       ROUND(CASE WHEN COUNT(mf) OVER w = 20 AND SUM(volume) OVER w > 0
             THEN SUM(mf) OVER w / SUM(volume) OVER w END, 6) AS cmf_20
FROM mfv
WINDOW w AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
""",
)
def vol_cmf_20(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chaikin Money Flow (20): rolling money-flow volume over rolling
    volume — the same money-flow multiplier as AD (with the corrected
    high==low guard, SURVEY §0) but windowed instead of cumulative."""
    b = bars(spark, sf_dir)
    mf = F.when(
        F.col("high") != F.col("low"),
        ((F.col("close") - F.col("low")) - (F.col("high") - F.col("close")))
        / (F.col("high") - F.col("low"))
        * F.col("volume"),
    ).otherwise(F.lit(0.0))
    src = b.select("symbol", "t", "volume", mf.alias("mf"))
    w = _w().rowsBetween(-19, 0)
    full = (F.count("mf").over(w) == 20) & (F.sum("volume").over(w) > 0)
    return src.select(
        "symbol",
        "t",
        r6(F.when(full, F.sum("mf").over(w) / F.sum("volume").over(w))).alias("cmf_20"),
    )


# Elder Force Index: EMA(13) of (Δclose · volume) — recurrence over a
# derived column, same pattern as ind_ewma_vol.
_EFI_SRC = """
efisrc AS (
  SELECT symbol, t,
         (close - LAG(close) OVER (PARTITION BY symbol ORDER BY t)) * volume AS fi
  FROM bars
)"""

ORACLES_EFI = (
    recursive_with(_EFI_SRC + "," + ema_ctes("efi", "efisrc", "fi", 13))
    + """
SELECT symbol, t, ROUND(efi, 6) AS efi_13
FROM efi WHERE efi IS NOT NULL
"""
)


def vol_efi_13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elder Force Index (13): EMA of price-change × volume — buying/
    selling pressure. One recurrence pass over a derived column."""
    b = bars(spark, sf_dir)
    w = _w()
    fi = (F.col("close") - F.lag("close").over(w)) * F.col("volume")
    src = b.select("symbol", "t", fi.alias("fi")).where(F.col("fi").isNotNull())
    out = with_recurrences(src, [Rec("efi", "ema", ["fi"], {"p": 13})])
    return out.where(F.col("efi").isNotNull()).select(
        "symbol", "t", r6(F.col("efi")).alias("efi_13")
    )


QUERIES["vol_efi_13"] = vol_efi_13
ORACLES["vol_efi_13"] = ORACLES_EFI


@q(
    "ind_pivot_points",
    BARS_CTE
    + """,
htf AS (
  SELECT symbol, (t - 1) // 5 AS bucket,
         MAX(high) AS hh, MIN(low) AS ll, arg_max(close, t) AS cc
  FROM bars GROUP BY symbol, (t - 1) // 5
  HAVING COUNT(*) = 5
)
SELECT b.symbol, b.t,
       ROUND((h.hh + h.ll + h.cc) / 3.0, 6) AS pivot,
       ROUND(2.0 * ((h.hh + h.ll + h.cc) / 3.0) - h.ll, 6) AS r1,
       ROUND(2.0 * ((h.hh + h.ll + h.cc) / 3.0) - h.hh, 6) AS s1,
       ROUND((h.hh + h.ll + h.cc) / 3.0 + (h.hh - h.ll), 6) AS r2,
       ROUND((h.hh + h.ll + h.cc) / 3.0 - (h.hh - h.ll), 6) AS s2
FROM bars b
JOIN htf h ON h.symbol = b.symbol AND h.bucket = (b.t // 5) - 1
""",
)
def ind_pivot_points(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic floor-trader pivots from the COMPLETED previous 5-bar
    bucket (P/R1/S1/R2/S2) attached to every base bar — same
    lookahead-safe integer bucket arithmetic as ind_mtf_sma."""
    b = bars(spark, sf_dir)
    htf = (
        b.groupBy("symbol", F.expr("(t - 1) div 5").alias("bucket"))
        .agg(
            F.max("high").alias("hh"),
            F.min("low").alias("ll"),
            F.max_by("close", "t").alias("cc"),
            F.count(F.lit(1)).alias("_n"),
        )
        .where(F.col("_n") == 5)
    )
    piv = (F.col("hh") + F.col("ll") + F.col("cc")) / 3.0
    rng_ = F.col("hh") - F.col("ll")
    return (
        b.join(
            htf.withColumnRenamed("symbol", "_s"),
            (b.symbol == F.col("_s"))
            & (F.col("bucket") == (F.col("t") / 5).cast("int") - 1),
        )
        .select(
            "symbol",
            "t",
            r6(piv).alias("pivot"),
            r6(2.0 * piv - F.col("ll")).alias("r1"),
            r6(2.0 * piv - F.col("hh")).alias("s1"),
            r6(piv + rng_).alias("r2"),
            r6(piv - rng_).alias("s2"),
        )
    )


@q(
    "ind_choppiness_14",
    BARS_CTE
    + """,
trr AS (
  SELECT symbol, t, high, low,
         GREATEST(high - low, ABS(high - LAG(close) OVER o), ABS(low - LAG(close) OVER o)) AS tr
  FROM bars
  WINDOW o AS (PARTITION BY symbol ORDER BY t)
)
SELECT symbol, t,
       ROUND(100.0 * log10(SUM(tr) OVER w / (MAX(high) OVER w - MIN(low) OVER w))
             / log10(14.0), 6) AS chop_14
FROM trr
WINDOW w AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
QUALIFY COUNT(tr) OVER w = 14 AND MAX(high) OVER w > MIN(low) OVER w AND SUM(tr) OVER w > 0
""",
)
def ind_choppiness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Choppiness index (14): 100·log10(ΣTR / range) / log10(14) — the
    trendiness/congestion gauge, routed through the library entry point
    ``functions.momentum.choppiness`` (pure window sums + extrema)."""
    from polars_quant_spark.functions.momentum import choppiness

    b = bars(spark, sf_dir)
    out = choppiness(b, p=14)
    return out.where(F.col("chop").isNotNull()).select(
        "symbol", "t", r6(F.col("chop")).alias("chop_14")
    )


# Mass index: rolling-25 sum of EMA9(range)/EMA9(EMA9(range)) — CHAINED
# recurrences: the second Rec consumes the first's output column inside the
# same applyInArrow pass (specs evaluate in order on the growing frame).
ORACLES_MASS = (
    recursive_with(
        """
rng_tbl AS MATERIALIZED (
  SELECT symbol, t, high - low AS hl FROM bars
)""",
        ema_ctes("m1", "rng_tbl", "hl", 9),
        ema_ctes("m2", "m1", "m1", 9),
    )
    + """
SELECT symbol, t, mass_25 FROM (
  SELECT a.symbol, a.t,
         ROUND(CASE WHEN COUNT(*) OVER w = 25
               THEN SUM(a.m1 / b.m2) OVER w END, 6) AS mass_25
  FROM m1 a JOIN m2 b ON b.symbol = a.symbol AND b.t = a.t
  WHERE a.m1 IS NOT NULL AND b.m2 IS NOT NULL AND b.m2 != 0
  WINDOW w AS (PARTITION BY a.symbol ORDER BY a.t ROWS BETWEEN 24 PRECEDING AND CURRENT ROW)
) WHERE mass_25 IS NOT NULL
"""
)


def ind_mass_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mass index (9, 25): range-expansion detector — rolling sum of the
    single/double EMA ratio of the bar range, routed through the library
    entry point ``functions.trend.mass_index`` (CHAINED recurrences: the
    second EMA consumes the first's output column in the same batched
    pass)."""
    from polars_quant_spark.functions.trend import mass_index

    b = bars(spark, sf_dir)
    out = mass_index(b, ema_period=9, sum_period=25)
    return out.where(F.col("mass").isNotNull()).select(
        "symbol", "t", r6(F.col("mass")).alias("mass_25")
    )


QUERIES["ind_mass_index"] = ind_mass_index
ORACLES["ind_mass_index"] = ORACLES_MASS


@q(
    "ind_awesome_osc",
    BARS_CTE
    + """
SELECT symbol, t,
       ROUND(CASE WHEN COUNT(*) OVER w34 = 34
             THEN AVG((high + low) / 2.0) OVER w5 - AVG((high + low) / 2.0) OVER w34 END, 6) AS ao
FROM bars
WINDOW w5 AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
       w34 AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 33 PRECEDING AND CURRENT ROW)
""",
)
def ind_awesome_osc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Awesome Oscillator: SMA5 − SMA34 of the bar midpoint — routed
    through the library entry point ``functions.momentum.awesome_osc``
    (two frames, one exchange)."""
    from polars_quant_spark.functions.momentum import awesome_osc

    b = bars(spark, sf_dir)
    return awesome_osc(b, fast=5, slow=34).select(
        "symbol", "t", r6(F.col("ao")).alias("ao")
    )


@q(
    "ind_kst",
    BARS_CTE
    + """,
rocs AS (
  SELECT symbol, t,
         100.0 * (close / LAG(close, 10) OVER o - 1.0) AS r1,
         100.0 * (close / LAG(close, 15) OVER o - 1.0) AS r2,
         100.0 * (close / LAG(close, 20) OVER o - 1.0) AS r3,
         100.0 * (close / LAG(close, 30) OVER o - 1.0) AS r4
  FROM bars
  WINDOW o AS (PARTITION BY symbol ORDER BY t)
)
SELECT symbol, t,
       ROUND(CASE WHEN COUNT(r1) OVER wa = 10 AND COUNT(r4) OVER wc = 15
             THEN AVG(r1) OVER wa + 2.0 * AVG(r2) OVER wa
                + 3.0 * AVG(r3) OVER wa + 4.0 * AVG(r4) OVER wc END, 6) AS kst
FROM rocs
WINDOW wa AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 9 PRECEDING AND CURRENT ROW),
       wc AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 14 PRECEDING AND CURRENT ROW)
""",
)
def ind_kst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pring's Know-Sure-Thing: the 1·2·3·4-weighted sum of smoothed ROCs
    (10/15/20/30 lookbacks, SMA 10/10/10/15) — routed through the library
    entry point ``functions.momentum.kst`` (four lags + two frames, still
    one exchange)."""
    from polars_quant_spark.functions.momentum import kst

    b = bars(spark, sf_dir)
    return kst(b).select("symbol", "t", r6(F.col("kst")).alias("kst"))


# True Strength Index: 100 · EMA25(EMA13(Δclose)) / EMA25(EMA13(|Δclose|))
# — four chained recurrences in one pass (momentum + |momentum| smoothed
# twice each).
ORACLES_TSI = (
    recursive_with(
        """
mom_tbl AS MATERIALIZED (
  SELECT symbol, t,
         close - LAG(close) OVER (PARTITION BY symbol ORDER BY t) AS m,
         ABS(close - LAG(close) OVER (PARTITION BY symbol ORDER BY t)) AS am
  FROM bars
)""",
        ema_ctes("t1a", "mom_tbl", "m", 13),
        ema_ctes("t2a", "t1a", "t1a", 25),
        ema_ctes("t1b", "mom_tbl", "am", 13),
        ema_ctes("t2b", "t1b", "t1b", 25),
    )
    + """
SELECT a.symbol, a.t,
       ROUND(CASE WHEN b.t2b != 0 THEN 100.0 * a.t2a / b.t2b END, 6) AS tsi
FROM t2a a JOIN t2b b ON b.symbol = a.symbol AND b.t = a.t
WHERE a.t2a IS NOT NULL AND b.t2b IS NOT NULL AND b.t2b != 0
"""
)


def ind_tsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Strength Index (13, 25): double-smoothed momentum over
    double-smoothed absolute momentum — routed through the library entry
    point ``functions.momentum.tsi`` (FOUR chained recurrences in one
    applyInArrow pass)."""
    from polars_quant_spark.functions.momentum import tsi

    b = bars(spark, sf_dir)
    out = tsi(b, long_period=25, short_period=13)
    return out.where(F.col("tsi").isNotNull()).select(
        "symbol", "t", r6(F.col("tsi")).alias("tsi")
    )


QUERIES["ind_tsi"] = ind_tsi
ORACLES["ind_tsi"] = ORACLES_TSI


@q(
    "bars_calmar_ulcer",
    BARS_CTE
    + """,
dd AS (
  SELECT symbol, t, close,
         (MAX(close) OVER w - close) / MAX(close) OVER w AS drawdown,
         FIRST_VALUE(close) OVER o AS first_close,
         LAST_VALUE(close) OVER (PARTITION BY symbol ORDER BY t
           ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_close
  FROM bars
  WINDOW w AS (PARTITION BY symbol ORDER BY t
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
         o AS (PARTITION BY symbol ORDER BY t)
),
q AS (
  SELECT symbol,
         CAST(FLOOR(drawdown * drawdown * 1000000000000.0 + 0.5) AS BIGINT) AS dd2_p,
         drawdown, first_close, last_close
  FROM dd
)
SELECT symbol,
       ROUND(MAX(drawdown), 6) AS max_dd,
       ROUND(sqrt(CAST(SUM(dd2_p) AS DOUBLE) / 1000000000000.0 / COUNT(*)), 6) AS ulcer,
       ROUND(CASE WHEN MAX(drawdown) > 0
             THEN (MAX(last_close) / MAX(first_close) - 1.0) / MAX(drawdown) END, 6) AS calmar_like
FROM q
GROUP BY symbol
ORDER BY symbol
""",
)
def bars_calmar_ulcer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown-adjusted performance per symbol on the buy-and-hold path:
    max drawdown, Ulcer index (RMS of the underwater curve — squared
    drawdowns pico-quantized so the mean is association-free) and a
    Calmar-style total-return / max-dd ratio."""
    b = bars(spark, sf_dir)
    wc = _w().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wa = _w().rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    peak = F.max("close").over(wc)
    dd = (peak - F.col("close")) / peak
    src = b.select(
        "symbol",
        dd.alias("drawdown"),
        F.floor(dd * dd * 1e12 + F.lit(0.5)).cast("long").alias("dd2_p"),
        F.first("close").over(_w()).alias("first_close"),
        F.last("close").over(wa).alias("last_close"),
    )
    return (
        src.groupBy("symbol")
        .agg(
            r6(F.max("drawdown")).alias("max_dd"),
            r6(
                F.sqrt(F.sum("dd2_p").cast("double") / 1e12 / F.count(F.lit(1)))
            ).alias("ulcer"),
            r6(
                F.when(
                    F.max("drawdown") > 0,
                    (F.max("last_close") / F.max("first_close") - 1.0)
                    / F.max("drawdown"),
                )
            ).alias("calmar_like"),
        )
        .orderBy("symbol")
    )


@q(
    "ind_dpo_20",
    BARS_CTE
    + """
SELECT symbol, t,
       ROUND(CASE WHEN COUNT(close) OVER w = 20
             THEN LAG(close, 11) OVER o - AVG(close) OVER w END, 6) AS dpo_20
FROM bars
WINDOW w AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 19 PRECEDING AND CURRENT ROW),
       o AS (PARTITION BY symbol ORDER BY t)
""",
)
def ind_dpo(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Detrended Price Oscillator (20): price n/2+1 bars back minus the
    current SMA — routed through the library entry point
    ``functions.momentum.dpo`` (one lag + one frame, one exchange)."""
    from polars_quant_spark.functions.momentum import dpo

    b = bars(spark, sf_dir)
    return dpo(b, p=20).select("symbol", "t", r6(F.col("dpo")).alias("dpo_20"))


@q(
    "vol_eom_14",
    BARS_CTE
    + """,
e AS (
  SELECT symbol, t,
         CASE WHEN volume > 0 AND high != low
              THEN ((high + low) / 2.0 - (LAG(high) OVER o + LAG(low) OVER o) / 2.0)
                   * (high - low) / volume
              END AS eom
  FROM bars
  WINDOW o AS (PARTITION BY symbol ORDER BY t)
)
SELECT symbol, t,
       ROUND(CASE WHEN COUNT(eom) OVER w = 14 THEN AVG(eom) OVER w END, 6) AS eom_14
FROM e WHERE eom IS NOT NULL
WINDOW w AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 13 PRECEDING AND CURRENT ROW)
""",
)
def vol_eom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ease of Movement (14): midpoint displacement scaled by box ratio
    (range/volume), SMA-smoothed — price moves per unit of volume."""
    b = bars(spark, sf_dir)
    o = _w()
    mid_move = (F.col("high") + F.col("low")) / 2.0 - (
        F.lag("high").over(o) + F.lag("low").over(o)
    ) / 2.0
    eom = F.when(
        (F.col("volume") > 0) & (F.col("high") != F.col("low")),
        mid_move * (F.col("high") - F.col("low")) / F.col("volume"),
    )
    src = b.select("symbol", "t", eom.alias("eom")).where(F.col("eom").isNotNull())
    w = _w().rowsBetween(-13, 0)
    return src.select(
        "symbol",
        "t",
        r6(F.when(F.count("eom").over(w) == 14, F.avg("eom").over(w))).alias("eom_14"),
    )


@q(
    "ind_qstick_10",
    BARS_CTE
    + """
SELECT symbol, t,
       ROUND(CASE WHEN COUNT(*) OVER w = 10
             THEN AVG(close - open) OVER w END, 6) AS qstick_10
FROM bars
WINDOW w AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
""",
)
def ind_qstick(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Qstick (10): SMA of the candle body (close−open) — net buying
    pressure from the bar anatomy the pattern DSL already models; routed
    through the library entry point ``functions.momentum.qstick``."""
    from polars_quant_spark.functions.momentum import qstick

    b = bars(spark, sf_dir)
    return qstick(b, p=10).select(
        "symbol", "t", r6(F.col("qstick")).alias("qstick_10")
    )


@q(
    "bars_volume_profile",
    BARS_CTE
    + """,
bounds AS (
  SELECT symbol, MIN(close) AS lo, MAX(close) AS hi FROM bars GROUP BY symbol
)
SELECT b.symbol,
       CAST(LEAST(9, CAST(FLOOR((b.close - o.lo) * 10.0 / GREATEST(o.hi - o.lo, 1e-12)) AS BIGINT)) AS INTEGER) AS price_bin,
       CAST(SUM(CAST(FLOOR(b.volume * 1000000.0 + 0.5) AS BIGINT)) AS BIGINT) AS vol_m,
       COUNT(*) AS n_bars
FROM bars b JOIN bounds o ON o.symbol = b.symbol
GROUP BY 1, 2
ORDER BY b.symbol, price_bin
""",
)
def bars_volume_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume profile: traded volume per price decile per symbol — where
    the liquidity sits (support/resistance evidence). Per-symbol bounds
    broadcast back; deciles are pure arithmetic; volume sums integer."""
    b = bars(spark, sf_dir)
    bounds = b.groupBy(F.col("symbol").alias("_s")).agg(
        F.min("close").alias("lo"), F.max("close").alias("hi")
    )
    j = b.join(F.broadcast(bounds), b.symbol == F.col("_s"))
    bin_ = F.least(
        F.lit(9).cast("long"),
        F.floor(
            (F.col("close") - F.col("lo"))
            * 10.0
            / F.greatest(F.col("hi") - F.col("lo"), F.lit(1e-12))
        ).cast("long"),
    ).cast("int")
    return (
        j.groupBy("symbol", bin_.alias("price_bin"))
        .agg(
            F.sum(micros(F.col("volume"))).alias("vol_m"),
            F.count(F.lit(1)).alias("n_bars"),
        )
        .orderBy("symbol", "price_bin")
    )


# Elder Ray: bull/bear power around the EMA(13) baseline.
ORACLES_ELDER = (
    recursive_with(ema_ctes("eray", "bars", "close", 13))
    + """
SELECT b.symbol, b.t,
       ROUND(b.high - e.eray, 6) AS bull_power,
       ROUND(b.low - e.eray, 6) AS bear_power
FROM bars b JOIN eray e ON e.symbol = b.symbol AND e.t = b.t
WHERE e.eray IS NOT NULL
"""
)


def ind_elder_ray(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Elder Ray (13): bull power (high − EMA) and bear power (low − EMA)
    — who controls the bar relative to consensus value; routed through the
    library entry point ``functions.trend.elder_ray``."""
    from polars_quant_spark.functions.trend import elder_ray

    b = bars(spark, sf_dir)
    out = elder_ray(b, p=13)
    return out.where(F.col("bull_power").isNotNull()).select(
        "symbol",
        "t",
        r6(F.col("bull_power")).alias("bull_power"),
        r6(F.col("bear_power")).alias("bear_power"),
    )


QUERIES["ind_elder_ray"] = ind_elder_ray
ORACLES["ind_elder_ray"] = ORACLES_ELDER


@q(
    "ind_coppock",
    BARS_CTE
    + """,
rc AS (
  SELECT symbol, t,
         100.0 * (close / LAG(close, 14) OVER o - 1.0)
         + 100.0 * (close / LAG(close, 11) OVER o - 1.0) AS rsum
  FROM bars
  WINDOW o AS (PARTITION BY symbol ORDER BY t)
)
SELECT symbol, t,
       ROUND(CASE WHEN COUNT(rsum) OVER w = 10 THEN
         list_dot_product(list(rsum) OVER w,
                          [1.0,2.0,3.0,4.0,5.0,6.0,7.0,8.0,9.0,10.0]) / 55.0 END, 6) AS coppock
FROM rc WHERE rsum IS NOT NULL
WINDOW w AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
""",
)
def ind_coppock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Coppock curve: WMA(10) of ROC(14)+ROC(11) — the long-turn momentum
    gauge, routed through the library entry point
    ``functions.momentum.coppock`` (same linear-weight dot product
    contract as ind_wma_10 over a derived column)."""
    from polars_quant_spark.functions.momentum import coppock

    b = bars(spark, sf_dir)
    return coppock(b, roc_long=14, roc_short=11, wma_period=10).select(
        "symbol", "t", r6(F.col("coppock")).alias("coppock")
    )


@q(
    "bars_sortino",
    BARS_CTE
    + """,
r AS (
  SELECT symbol,
         CAST(FLOOR((close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS qr
  FROM bars
)
SELECT symbol,
       ROUND(CAST(SUM(qr) AS DOUBLE) / 1000000.0 / COUNT(*), 6) AS mean_ret,
       ROUND(sqrt(CAST(SUM(CASE WHEN qr < 0 THEN qr * qr ELSE 0 END) AS DOUBLE)
                  / 1000000000000.0 / COUNT(*)), 6) AS downside_dev,
       ROUND(CASE WHEN SUM(CASE WHEN qr < 0 THEN qr * qr ELSE 0 END) > 0 THEN
         (CAST(SUM(qr) AS DOUBLE) / 1000000.0 / COUNT(*))
         / sqrt(CAST(SUM(CASE WHEN qr < 0 THEN qr * qr ELSE 0 END) AS DOUBLE)
                / 1000000000000.0 / COUNT(*)) END, 6) AS sortino
FROM r WHERE qr IS NOT NULL
GROUP BY symbol
ORDER BY symbol
""",
)
def bars_sortino(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sortino ratio per symbol (zero target): mean return over downside
    deviation — the Sharpe variant that only penalizes losses. Integer
    moment sums (negative returns squared in micro² units) keep both
    engines exact."""
    from polars_quant_spark.functions.riskstats import sortino

    out = sortino(bars(spark, sf_dir))
    return out.select(
        "symbol",
        r6(F.col("mean_ret")).alias("mean_ret"),
        r6(F.col("downside_dev")).alias("downside_dev"),
        r6(F.col("sortino")).alias("sortino"),
    ).orderBy("symbol")


@q(
    "ind_rvi_10",
    BARS_CTE
    + """,
num AS (
  SELECT symbol, t,
         ((close - open) + 2.0 * (LAG(close - open, 1) OVER o)
          + 2.0 * (LAG(close - open, 2) OVER o) + (LAG(close - open, 3) OVER o)) / 6.0 AS nv,
         ((high - low) + 2.0 * (LAG(high - low, 1) OVER o)
          + 2.0 * (LAG(high - low, 2) OVER o) + (LAG(high - low, 3) OVER o)) / 6.0 AS dv
  FROM bars
  WINDOW o AS (PARTITION BY symbol ORDER BY t)
)
SELECT symbol, t,
       ROUND(CASE WHEN COUNT(nv) OVER w = 10 AND SUM(dv) OVER w != 0
             THEN SUM(nv) OVER w / SUM(dv) OVER w END, 6) AS rvi_10
FROM num WHERE nv IS NOT NULL AND dv IS NOT NULL
WINDOW w AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
""",
)
def ind_rvi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative Vigor Index (10): symmetric-weighted close-open conviction
    over the symmetric-weighted range, window-summed — routed through the
    library entry point ``functions.momentum.rvi``."""
    from polars_quant_spark.functions.momentum import rvi

    b = bars(spark, sf_dir)
    return rvi(b, p=10).select("symbol", "t", r6(F.col("rvi")).alias("rvi_10"))


@q(
    "bars_return_autocorr",
    BARS_CTE
    + """,
r AS (
  SELECT symbol, t,
         CAST(FLOOR((close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS qr
  FROM bars
),
lag3 AS (
  SELECT symbol, qr,
         LAG(qr, 1) OVER o AS l1, LAG(qr, 2) OVER o AS l2, LAG(qr, 3) OVER o AS l3
  FROM r WHERE qr IS NOT NULL
  WINDOW o AS (PARTITION BY symbol ORDER BY t)
),
lagged AS (
  SELECT symbol, 1 AS lag_k, qr, l1 AS qlag FROM lag3
  UNION ALL SELECT symbol, 2, qr, l2 FROM lag3
  UNION ALL SELECT symbol, 3, qr, l3 FROM lag3
)
SELECT symbol, lag_k,
       ROUND((CAST(SUM(qr * qlag) AS DOUBLE) / 1000000000000.0 / COUNT(*)
              - (CAST(SUM(qr) AS DOUBLE) / 1000000.0 / COUNT(*))
                * (CAST(SUM(qlag) AS DOUBLE) / 1000000.0 / COUNT(*)))
             / (sqrt(CAST(SUM(qr * qr) AS DOUBLE) / 1000000000000.0 / COUNT(*)
                     - POWER(CAST(SUM(qr) AS DOUBLE) / 1000000.0 / COUNT(*), 2))
              * sqrt(CAST(SUM(qlag * qlag) AS DOUBLE) / 1000000000000.0 / COUNT(*)
                     - POWER(CAST(SUM(qlag) AS DOUBLE) / 1000000.0 / COUNT(*), 2))), 6) AS autocorr
FROM lagged WHERE qlag IS NOT NULL
GROUP BY symbol, lag_k
ORDER BY symbol, lag_k
""",
)
def bars_return_autocorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Return autocorrelation at lags 1–3 per symbol — the mean-reversion
    / momentum diagnostic. Lags unpivot into (lag_k, pair) rows and every
    moment is an integer sum, so the Pearson formula evaluates on
    identical doubles in both engines."""
    b = bars(spark, sf_dir)
    w = _w()
    qr = F.floor(
        (F.col("close") / F.lag("close").over(w) - 1.0) * 1000000.0 + F.lit(0.5)
    ).cast("long")
    r = b.select("symbol", "t", qr.alias("qr")).where(F.col("qr").isNotNull())
    o = _w()
    lag3 = r.select(
        "symbol",
        "qr",
        F.lag("qr", 1).over(o).alias("l1"),
        F.lag("qr", 2).over(o).alias("l2"),
        F.lag("qr", 3).over(o).alias("l3"),
    )
    lagged = (
        lag3.unpivot(["symbol", "qr"], ["l1", "l2", "l3"], "_lk", "qlag")
        .where(F.col("qlag").isNotNull())
        .select(
            "symbol",
            F.substring("_lk", 2, 1).cast("int").alias("lag_k"),
            "qr",
            "qlag",
        )
    )
    n = F.count(F.lit(1))
    mx = F.sum("qr").cast("double") / 1e6 / n
    my = F.sum("qlag").cast("double") / 1e6 / n
    cov = F.sum(F.col("qr") * F.col("qlag")).cast("double") / 1e12 / n - mx * my
    sx = F.sqrt(
        F.sum(F.col("qr") * F.col("qr")).cast("double") / 1e12 / n - F.pow(mx, F.lit(2.0))
    )
    sy = F.sqrt(
        F.sum(F.col("qlag") * F.col("qlag")).cast("double") / 1e12 / n - F.pow(my, F.lit(2.0))
    )
    return (
        lagged.groupBy("symbol", "lag_k")
        .agg(r6(cov / (sx * sy)).alias("autocorr"))
        .orderBy("symbol", "lag_k")
    )


@q(
    "bars_overnight_intraday",
    BARS_CTE
    + """,
r AS (
  SELECT symbol,
         CAST(FLOOR((close / open - 1.0) * 1000000.0 + 0.5) AS BIGINT) AS intraday_m,
         CASE WHEN LAG(close) OVER (PARTITION BY symbol ORDER BY t) IS NOT NULL
              THEN CAST(FLOOR((open / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0)
                              * 1000000.0 + 0.5) AS BIGINT) END AS overnight_m
  FROM bars
)
SELECT symbol,
       ROUND(CAST(SUM(intraday_m) AS DOUBLE) / 1000000.0 / COUNT(intraday_m), 6) AS avg_intraday,
       ROUND(CAST(SUM(overnight_m) AS DOUBLE) / 1000000.0 / COUNT(overnight_m), 6) AS avg_overnight
FROM r
GROUP BY symbol
ORDER BY symbol
""",
)
def bars_overnight_intraday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overnight-vs-intraday return decomposition per symbol (the classic
    'where does the return accrue' split): open→close vs prev-close→open
    micro-quantized means."""
    b = bars(spark, sf_dir)
    w = _w()
    intraday = F.floor(
        (F.col("close") / F.col("open") - 1.0) * 1000000.0 + F.lit(0.5)
    ).cast("long")
    overnight = F.when(
        F.lag("close").over(w).isNotNull(),
        F.floor(
            (F.col("open") / F.lag("close").over(w) - 1.0) * 1000000.0 + F.lit(0.5)
        ).cast("long"),
    )
    r = b.select("symbol", intraday.alias("im"), overnight.alias("om"))
    return (
        r.groupBy("symbol")
        .agg(
            r6(F.sum("im").cast("double") / 1e6 / F.count("im")).alias("avg_intraday"),
            r6(F.sum("om").cast("double") / 1e6 / F.count("om")).alias("avg_overnight"),
        )
        .orderBy("symbol")
    )


@q(
    "bars_streak_distribution",
    BARS_CTE
    + """,
d AS (
  SELECT symbol, t,
         CASE WHEN close > LAG(close) OVER o THEN 1
              WHEN close < LAG(close) OVER o THEN -1 ELSE 0 END AS dir
  FROM bars
  WINDOW o AS (PARTITION BY symbol ORDER BY t)
),
flagged AS (
  SELECT symbol, t, dir,
         CASE WHEN dir = LAG(dir) OVER (PARTITION BY symbol ORDER BY t)
              THEN 0 ELSE 1 END AS new_run
  FROM d WHERE dir != 0
),
runs AS (
  SELECT symbol, t, dir,
         SUM(new_run) OVER (PARTITION BY symbol ORDER BY t
                            ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM flagged
),
lens AS (
  SELECT symbol, run_id, MAX(dir) AS dir, COUNT(*) AS len FROM runs
  GROUP BY symbol, run_id
)
SELECT CAST(dir AS INTEGER) AS direction, CAST(len AS INTEGER) AS streak_len,
       COUNT(*) AS n_runs
FROM lens
GROUP BY 1, 2
ORDER BY direction, streak_len
""",
)
def bars_streak_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of consecutive up/down close streak lengths across the
    universe — the microstructure momentum fingerprint (a fair coin gives
    halving counts per extra bar; deviations reveal drift/mean-reversion).
    Same run-grouping conditional-cumsum shape as the drawdown episodes."""
    b = bars(spark, sf_dir)
    o = _w()
    dirc = (
        F.when(F.col("close") > F.lag("close").over(o), 1)
        .when(F.col("close") < F.lag("close").over(o), -1)
        .otherwise(0)
    )
    d = b.select("symbol", "t", dirc.alias("dir")).where(F.col("dir") != 0)
    new_run = F.when(F.col("dir") == F.lag("dir").over(o), 0).otherwise(1)
    wc = _w().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    runs = d.select(
        "symbol", "t", "dir", new_run.alias("new_run")
    ).select("symbol", "t", "dir", F.sum("new_run").over(wc).alias("run_id"))
    lens = runs.groupBy("symbol", "run_id").agg(
        F.max("dir").alias("dir"), F.count(F.lit(1)).alias("len")
    )
    return (
        lens.groupBy(
            F.col("dir").cast("int").alias("direction"),
            F.col("len").cast("int").alias("streak_len"),
        )
        .agg(F.count(F.lit(1)).alias("n_runs"))
        .orderBy("direction", "streak_len")
    )


# ---------------------------------------------------------------------------
# Range-based volatility estimators + higher-moment return stats + variance
# ratio. All follow the integer-quantized-moment contract (verify skill
# notes): quantize each per-bar term to a BIGINT, sum exactly in both
# engines, and run the identical double-arithmetic tail on the exact sums.
# ---------------------------------------------------------------------------

_LN2 = 0.6931471805599453  # shared literal so neither engine computes ln(2)


@q(
    "bars_range_vol",
    BARS_CTE
    + f""",
terms AS (
  SELECT symbol,
         CAST(FLOOR(ln(high / low) * ln(high / low) * 1000000000000.0 + 0.5)
              AS BIGINT) AS qp,
         CAST(FLOOR((0.5 * ln(high / low) * ln(high / low)
                     - (2.0 * {_LN2} - 1.0) * ln(close / open) * ln(close / open))
                    * 1000000000000.0 + 0.5) AS BIGINT) AS qgk,
         CAST(FLOOR((ln(high / close) * ln(high / open)
                     + ln(low / close) * ln(low / open))
                    * 1000000000000.0 + 0.5) AS BIGINT) AS qrs
  FROM bars WHERE high > 0 AND low > 0 AND open > 0 AND close > 0
)
SELECT symbol,
       ROUND(sqrt(CAST(SUM(qp) AS DOUBLE) / COUNT(*) / 1000000000000.0
                  / (4.0 * {_LN2})), 6) AS parkinson,
       ROUND(CASE WHEN SUM(qgk) > 0 THEN
         sqrt(CAST(SUM(qgk) AS DOUBLE) / COUNT(*) / 1000000000000.0) END, 6)
         AS garman_klass,
       ROUND(CASE WHEN SUM(qrs) >= 0 THEN
         sqrt(CAST(SUM(qrs) AS DOUBLE) / COUNT(*) / 1000000000000.0) END, 6)
         AS rogers_satchell
FROM terms
GROUP BY symbol
ORDER BY symbol
""",
)
def bars_range_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol range-based volatility estimators — Parkinson (high/low),
    Garman-Klass (OHLC), Rogers-Satchell (drift-robust). Each per-bar log
    term is quantized to picounits before the group sum, so both engines
    aggregate exact integers; the sqrt/divide tail is the identical IEEE
    expression on both sides. One scan, one hash aggregate — no windows."""
    b = bars(spark, sf_dir).where(
        (F.col("high") > 0) & (F.col("low") > 0) & (F.col("open") > 0) & (F.col("close") > 0)
    )
    lhl = F.log(F.col("high") / F.col("low"))
    lco = F.log(F.col("close") / F.col("open"))

    def q12(x):
        return F.floor(x * 1e12 + F.lit(0.5)).cast("long")

    terms = b.select(
        "symbol",
        q12(lhl * lhl).alias("qp"),
        q12(0.5 * lhl * lhl - (2.0 * _LN2 - 1.0) * lco * lco).alias("qgk"),
        q12(
            F.log(F.col("high") / F.col("close")) * F.log(F.col("high") / F.col("open"))
            + F.log(F.col("low") / F.col("close")) * F.log(F.col("low") / F.col("open"))
        ).alias("qrs"),
    )
    n = F.count(F.lit(1))
    park = F.sqrt(F.sum("qp").cast("double") / n / 1e12 / (4.0 * _LN2))
    gk = F.when(F.sum("qgk") > 0, F.sqrt(F.sum("qgk").cast("double") / n / 1e12))
    rs = F.when(F.sum("qrs") >= 0, F.sqrt(F.sum("qrs").cast("double") / n / 1e12))
    return (
        terms.groupBy("symbol")
        .agg(
            r6(park).alias("parkinson"),
            r6(gk).alias("garman_klass"),
            r6(rs).alias("rogers_satchell"),
        )
        .orderBy("symbol")
    )


@q(
    "bars_moment_stats",
    BARS_CTE
    + """,
r AS (
  SELECT symbol,
         CAST(CAST(FLOOR((close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0)
                         * 1000000.0 + 0.5) AS BIGINT) AS HUGEINT) AS qr
  FROM bars
),
s AS (
  SELECT symbol, COUNT(*) AS n,
         SUM(qr) AS s1, SUM(qr * qr) AS s2,
         SUM(qr * qr * qr) AS s3, SUM(qr * qr * qr * qr) AS s4
  FROM r WHERE qr IS NOT NULL GROUP BY symbol
)
SELECT symbol,
       ROUND(CASE WHEN CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) > 0 THEN
         (CAST(s3 AS DOUBLE) / n
          - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
          + 2.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
         / ((CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
            * sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
       END, 6) AS ret_skew,
       ROUND(CASE WHEN CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) > 0 THEN
         (CAST(s4 AS DOUBLE) / n
          - 4.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s3 AS DOUBLE) / n)
          + 6.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)
          - 3.0 * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
         / ((CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
            * (CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))) - 3.0
       END, 6) AS ret_excess_kurtosis
FROM s
ORDER BY symbol
""",
)
def bars_moment_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-symbol return skewness and excess kurtosis from exact integer
    power sums (population moments). Returns quantize to micro units; the
    3rd/4th power sums run in DECIMAL(38,0) on Spark and HUGEINT in DuckDB
    (a single 10% move raised to the 4th overflows BIGINT), then the
    identical double tail: m_k from s1..s4, skew = m3/(m2·√m2),
    kurt = m4/m2² − 3. One scan + one hash aggregate."""
    b = bars(spark, sf_dir)
    w = _w()
    qr = (
        F.floor((F.col("close") / F.lag("close").over(w) - 1.0) * 1000000.0 + F.lit(0.5))
        .cast("long")
        .cast("decimal(38,0)")
    )
    r = b.select("symbol", qr.alias("qr")).where(F.col("qr").isNotNull())
    s = r.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qr").alias("s1"),
        F.sum(F.col("qr") * F.col("qr")).alias("s2"),
        F.sum(F.col("qr") * F.col("qr") * F.col("qr")).alias("s3"),
        F.sum(F.col("qr") * F.col("qr") * F.col("qr") * F.col("qr")).alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    e2 = F.col("s2").cast("double") / n
    e3 = F.col("s3").cast("double") / n
    e4 = F.col("s4").cast("double") / n
    m2 = e2 - m1 * m1
    m3 = e3 - 3.0 * m1 * e2 + 2.0 * m1 * m1 * m1
    m4 = e4 - 4.0 * m1 * e3 + 6.0 * m1 * m1 * e2 - 3.0 * m1 * m1 * m1 * m1
    return s.select(
        "symbol",
        r6(F.when(m2 > 0, m3 / (m2 * F.sqrt(m2)))).alias("ret_skew"),
        r6(F.when(m2 > 0, m4 / (m2 * m2) - 3.0)).alias("ret_excess_kurtosis"),
    ).orderBy("symbol")


@q(
    "bars_variance_ratio",
    BARS_CTE
    + """,
r AS (
  SELECT symbol, t,
         CAST(FLOOR(ln(close / LAG(close) OVER o) * 1000000.0 + 0.5) AS BIGINT) AS qlr
  FROM bars WHERE close > 0
  WINDOW o AS (PARTITION BY symbol ORDER BY t)
),
agg5 AS (
  SELECT symbol, qlr,
         CASE WHEN COUNT(qlr) OVER w = 5 THEN SUM(qlr) OVER w END AS q5
  FROM r WHERE qlr IS NOT NULL
  WINDOW w AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 4 PRECEDING AND CURRENT ROW)
),
s AS (
  SELECT symbol,
         COUNT(qlr) AS n1, SUM(qlr) AS a1, SUM(qlr * qlr) AS b1,
         COUNT(q5) AS n5, SUM(q5) AS a5, SUM(q5 * q5) AS b5
  FROM agg5 GROUP BY symbol
)
SELECT symbol,
       ROUND(CASE WHEN n1 > 0 AND n5 > 0
                   AND CAST(b1 AS DOUBLE) / n1 - (CAST(a1 AS DOUBLE) / n1) * (CAST(a1 AS DOUBLE) / n1) > 0 THEN
         (CAST(b5 AS DOUBLE) / n5 - (CAST(a5 AS DOUBLE) / n5) * (CAST(a5 AS DOUBLE) / n5))
         / (5.0 * (CAST(b1 AS DOUBLE) / n1 - (CAST(a1 AS DOUBLE) / n1) * (CAST(a1 AS DOUBLE) / n1)))
       END, 6) AS vr_5
FROM s
ORDER BY symbol
""",
)
def bars_variance_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lo–MacKinlay-style variance ratio VR(5) per symbol: population
    variance of overlapping 5-bar log-return sums over 5× the 1-bar
    variance (≈1 random walk, >1 momentum, <1 mean reversion). Log returns
    quantize to micro units; 5-bar sums are exact integer window sums, so
    both engines agg identical integers. One window pass + one aggregate."""
    from polars_quant_spark.functions.riskstats import variance_ratio

    out = variance_ratio(bars(spark, sf_dir), q=5, out="vr_5")
    return out.select("symbol", r6(F.col("vr_5")).alias("vr_5")).orderBy(
        "symbol"
    )


@q(
    "ind_fractals_5",
    BARS_CTE
    + """,
f AS (
  SELECT symbol, t, high, low,
         CASE WHEN high > LAG(high, 1) OVER o AND high > LAG(high, 2) OVER o
               AND high > LEAD(high, 1) OVER o AND high > LEAD(high, 2) OVER o
              THEN 1 ELSE 0 END AS fractal_up,
         CASE WHEN low < LAG(low, 1) OVER o AND low < LAG(low, 2) OVER o
               AND low < LEAD(low, 1) OVER o AND low < LEAD(low, 2) OVER o
              THEN 1 ELSE 0 END AS fractal_down,
         ROW_NUMBER() OVER o AS rn, COUNT(*) OVER (PARTITION BY symbol) AS n
  FROM bars
  WINDOW o AS (PARTITION BY symbol ORDER BY t)
)
SELECT symbol, t, ROUND(high, 6) AS high, ROUND(low, 6) AS low,
       CAST(fractal_up AS INTEGER) AS fractal_up,
       CAST(fractal_down AS INTEGER) AS fractal_down
FROM f WHERE rn > 2 AND rn <= n - 2
ORDER BY symbol, t
""",
)
def ind_fractals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Williams fractals (5-bar): a bar whose high strictly exceeds the two
    highs on each side is an up fractal; mirror for lows. Pure lag/lead
    flags in one window pass; edge bars (incomplete neighborhoods) drop."""
    b = bars(spark, sf_dir)
    o = _w()
    up = (
        (F.col("high") > F.lag("high", 1).over(o))
        & (F.col("high") > F.lag("high", 2).over(o))
        & (F.col("high") > F.lead("high", 1).over(o))
        & (F.col("high") > F.lead("high", 2).over(o))
    )
    dn = (
        (F.col("low") < F.lag("low", 1).over(o))
        & (F.col("low") < F.lag("low", 2).over(o))
        & (F.col("low") < F.lead("low", 1).over(o))
        & (F.col("low") < F.lead("low", 2).over(o))
    )
    wsym = Window.partitionBy("symbol")
    src = b.select(
        "symbol",
        "t",
        r6(F.col("high")).alias("high"),
        r6(F.col("low")).alias("low"),
        F.when(up, 1).otherwise(0).cast("int").alias("fractal_up"),
        F.when(dn, 1).otherwise(0).cast("int").alias("fractal_down"),
        F.row_number().over(o).alias("_rn"),
        F.count(F.lit(1)).over(wsym).alias("_n"),
    )
    return (
        src.where((F.col("_rn") > 2) & (F.col("_rn") <= F.col("_n") - 2))
        .drop("_rn", "_n")
        .orderBy("symbol", "t")
    )


_BREADTH_PER_CTE = """,
per AS (
  SELECT symbol, t,
         CASE WHEN close > LAG(close) OVER o THEN 1
              WHEN close < LAG(close) OVER o THEN -1 ELSE 0 END AS chg,
         CASE WHEN COUNT(close) OVER w = 50
              THEN CASE WHEN qclose * 50 > SUM(qclose) OVER w THEN 1 ELSE 0 END END AS above50
  FROM (SELECT symbol, t, close,
               CAST(FLOOR(close * 1000000.0 + 0.5) AS BIGINT) AS qclose
        FROM bars)
  WINDOW o AS (PARTITION BY symbol ORDER BY t),
         w AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 49 PRECEDING AND CURRENT ROW)
)
"""


def _breadth_per(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared per-(symbol, t) breadth inputs: the advance/decline sign of the
    close-to-close change and the integer above-50-bar-SMA flag. One
    symbol-partitioned window pass; every downstream breadth query is a
    cross-sectional groupBy(t) over this frame — the one unavoidable
    reshuffle, since breadth pivots the partitioning axis from symbol to
    time.

    The above-SMA test is integer-exact on BOTH engines: close quantizes to
    micro-units and the comparison is qclose·50 > Σ(qclose) over the window.
    A raw `close > AVG(close)` is associativity-sensitive (Spark's
    bounded-frame recompute vs DuckDB's segment-tree can differ in the last
    ulp), so a bar sitting exactly on its SMA could flip sides between
    engines. Integer sums can't drift."""
    b = bars(spark, sf_dir)
    o = _w()
    w = _w().rowsBetween(-49, 0)
    chg = (
        F.when(F.col("close") > F.lag("close").over(o), 1)
        .when(F.col("close") < F.lag("close").over(o), -1)
        .otherwise(0)
    )
    qclose = F.floor(F.col("close") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    above50 = F.when(
        F.count("close").over(w) == 50,
        F.when(qclose * F.lit(50) > F.sum(qclose).over(w), 1).otherwise(0),
    )
    return b.select("symbol", "t", chg.alias("chg"), above50.alias("above50"))


@q(
    "mkt_breadth",
    BARS_CTE
    + _BREADTH_PER_CTE
    + """
SELECT t,
       CAST(SUM(CASE WHEN chg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS advancing,
       CAST(SUM(CASE WHEN chg = -1 THEN 1 ELSE 0 END) AS BIGINT) AS declining,
       CAST(SUM(chg) AS BIGINT) AS net_advances,
       CAST(SUM(above50) AS BIGINT) AS above_sma50_cnt,
       CAST(COUNT(above50) AS BIGINT) AS breadth_cnt
FROM per
GROUP BY t
ORDER BY t
""",
)
def mkt_breadth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-breadth series: per bar timestamp, the advance/decline counts
    across the whole universe plus the above-own-50-bar-SMA numerator and
    denominator. The hashed surface is ENTIRELY integer (BIGINT counts):
    the r3/r4 driver hash fails on this query survived an integer-exact
    above-SMA rewrite, so per VERDICT r4 the rounded double ratio itself is
    evicted from the hash; `mkt_breadth_ratio` keeps the convenience ratio
    as a separate driver-window twin that localizes any residual float
    divergence.

    ROOT CAUSE (VERDICT r5 #1): the residual red was never the values —
    DuckDB types bare SUM(int) as HUGEINT, which pandas renders float64
    (2017.0 vs Spark's int64 2017), so the driver's dtype-sensitive value
    hash diverged while rows/schema matched. Every integer-SUM oracle output
    column is now CAST(... AS BIGINT); tests/test_oracle_types.py gates the
    whole 385-oracle surface against HUGEINT/DECIMAL outputs statically."""
    per = _breadth_per(spark, sf_dir)
    return (
        per.groupBy("t")
        .agg(
            F.sum(F.when(F.col("chg") == 1, 1).otherwise(0)).alias("advancing"),
            F.sum(F.when(F.col("chg") == -1, 1).otherwise(0)).alias("declining"),
            F.sum("chg").alias("net_advances"),
            F.sum("above50").cast("long").alias("above_sma50_cnt"),
            F.count("above50").cast("long").alias("breadth_cnt"),
        )
        .orderBy("t")
    )


@q(
    "mkt_breadth_ints",
    BARS_CTE
    + _BREADTH_PER_CTE
    + """
SELECT t,
       CAST(SUM(CASE WHEN chg = 1 THEN 1 ELSE 0 END) AS BIGINT) AS advancing,
       CAST(SUM(CASE WHEN chg = -1 THEN 1 ELSE 0 END) AS BIGINT) AS declining,
       CAST(SUM(chg) AS BIGINT) AS net_advances
FROM per
GROUP BY t
ORDER BY t
""",
)
def mkt_breadth_ints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic twin (VERDICT r4 #1b): the advance/decline integer columns
    of `mkt_breadth` ONLY. Paired with `mkt_breadth_ratio` in the driver
    window so a CORRECTNESS hash fail localizes to either the integer
    aggregation or the float ratio — not the union of both."""
    per = _breadth_per(spark, sf_dir)
    return (
        per.groupBy("t")
        .agg(
            F.sum(F.when(F.col("chg") == 1, 1).otherwise(0)).alias("advancing"),
            F.sum(F.when(F.col("chg") == -1, 1).otherwise(0)).alias("declining"),
            F.sum("chg").alias("net_advances"),
        )
        .orderBy("t")
    )


@q(
    "mkt_breadth_ratio",
    BARS_CTE
    + _BREADTH_PER_CTE
    + """
SELECT t,
       ROUND(CASE WHEN COUNT(above50) > 0
             THEN CAST(SUM(above50) AS DOUBLE) / COUNT(above50) END, 6) AS pct_above_sma50
FROM per
GROUP BY t
ORDER BY t
""",
)
def mkt_breadth_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Diagnostic twin (VERDICT r4 #1b): ONLY the rounded pct-above-SMA50
    ratio — the single float column evicted from `mkt_breadth`'s hashed
    surface. Numerator and denominator are small exact integers (≤ universe
    size), so k/n then ROUND(·, 6) has no association-order freedom; if this
    twin alone goes red on the driver, the divergence is in double division
    /ROUND semantics, not in the breadth arithmetic."""
    per = _breadth_per(spark, sf_dir)
    return (
        per.groupBy("t")
        .agg(
            r6(
                F.when(
                    F.count("above50") > 0,
                    F.sum("above50").cast("double") / F.count("above50"),
                )
            ).alias("pct_above_sma50"),
        )
        .orderBy("t")
    )


# McClellan oscillator: EMA19 − EMA39 of the cross-sectional net-advances
# series — a recurrence over an AGGREGATE (symbol axis collapses to one
# 'MKT' series first). The summation index integer-quantizes the oscillator
# before the cumulative sum so both engines accumulate exact micro units.
ORACLES_MCCLELLAN = (
    recursive_with(
        """
net_tbl AS MATERIALIZED (
  SELECT 'MKT' AS symbol, t,
         CAST(SUM(CASE WHEN close > pc THEN 1 WHEN close < pc THEN -1 ELSE 0 END)
              AS DOUBLE) AS net
  FROM (SELECT symbol, t, close,
               LAG(close) OVER (PARTITION BY symbol ORDER BY t) AS pc
        FROM bars)
  GROUP BY t
)""",
        ema_ctes("mc19", "net_tbl", "net", 19),
        ema_ctes("mc39", "net_tbl", "net", 39),
    )
    + """
SELECT t, ROUND(osc, 6) AS mcclellan_osc,
       ROUND(CAST(SUM(qosc) OVER (ORDER BY t
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS DOUBLE)
             / 1000000.0, 6) AS summation_index
FROM (
  SELECT a.t, a.mc19 - b.mc39 AS osc,
         CAST(FLOOR((a.mc19 - b.mc39) * 1000000.0 + 0.5) AS BIGINT) AS qosc
  FROM mc19 a JOIN mc39 b ON b.symbol = a.symbol AND b.t = a.t
  WHERE a.mc19 IS NOT NULL AND b.mc39 IS NOT NULL
)
ORDER BY t
"""
)


def mkt_mcclellan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McClellan oscillator (EMA19 − EMA39 of universe net advances) and
    summation index (its running total). The symbol axis collapses first
    (groupBy t), then ONE applyInArrow recurrence pass runs both EMAs on
    the single market series — a tiny frame at any SF, since breadth is one
    row per timestamp regardless of universe size. The oscillator is
    micro-quantized before the cumulative sum so the running total is an
    exact integer in both engines."""
    b = bars(spark, sf_dir)
    o = _w()
    chg = (
        F.when(F.col("close") > F.lag("close").over(o), 1)
        .when(F.col("close") < F.lag("close").over(o), -1)
        .otherwise(0)
    )
    net = (
        b.select("symbol", "t", chg.alias("chg"))
        .groupBy("t")
        .agg(F.sum("chg").cast("double").alias("net"))
        .select(F.lit("MKT").alias("symbol"), "t", "net")
    )
    out = with_recurrences(
        net,
        [
            Rec("mc19", "ema", ["net"], {"p": 19}),
            Rec("mc39", "ema", ["net"], {"p": 39}),
        ],
    )
    osc = (
        out.where(F.col("mc19").isNotNull() & F.col("mc39").isNotNull())
        .select(
            "symbol",
            "t",
            (F.col("mc19") - F.col("mc39")).alias("osc"),
            F.floor((F.col("mc19") - F.col("mc39")) * 1e6 + F.lit(0.5))
            .cast("long")
            .alias("qosc"),
        )
    )
    wc = _w().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return osc.select(
        "t",
        r6(F.col("osc")).alias("mcclellan_osc"),
        r6(F.sum("qosc").over(wc).cast("double") / 1e6).alias("summation_index"),
    ).orderBy("t")


QUERIES["mkt_mcclellan"] = mkt_mcclellan
ORACLES["mkt_mcclellan"] = ORACLES_MCCLELLAN


# GARCH(1,1) conditional volatility — fixed-parameter filtering recurrence
# (ω=1e-5, α=0.05, β=0.9), one applyInArrow pass per symbol; the twin is
# an ema_ctes-style recursive chain carrying (r, h) state.
_GW, _GA, _GB = repr(1e-05), repr(0.05), repr(0.9)

ORACLES_GARCH = (
    recursive_with(
        """
grets AS MATERIALIZED (
  SELECT symbol, t, close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0 AS r
  FROM bars
)""",
        f"""
g_base AS MATERIALIZED (
  SELECT symbol, t, r, ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY t) AS rn
  FROM grets WHERE r IS NOT NULL
),
g_rec AS (
  SELECT symbol, rn, r, r * r AS h FROM g_base WHERE rn = 1
  UNION ALL
  SELECT b.symbol, b.rn, b.r, {_GW} + {_GA} * (e.r * e.r) + {_GB} * e.h
  FROM g_rec e JOIN g_base b ON b.symbol = e.symbol AND b.rn = e.rn + 1
)""",
    )
    + """
SELECT b.symbol, b.t,
       ROUND(g.h, 6) AS garch_var,
       ROUND(sqrt(g.h), 6) AS garch_vol
FROM g_base b JOIN g_rec g ON g.symbol = b.symbol AND g.rn = b.rn
ORDER BY b.symbol, b.t
"""
)


def ind_garch_vol(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GARCH(1,1) conditional variance/volatility per symbol (fixed
    ω=1e-5, α=0.05, β=0.9 — the filtering recurrence, not estimation).
    Same one-exchange recurrence shape as the EMA family."""
    b = bars(spark, sf_dir)
    o = _w()
    rets = b.select(
        "symbol", "t", (F.col("close") / F.lag("close").over(o) - 1.0).alias("r")
    ).where(F.col("r").isNotNull())
    out = with_recurrences(
        rets, [Rec("h", "garch", ["r"], {"omega": 1e-05, "a": 0.05, "b": 0.9})]
    )
    return (
        out.where(F.col("h").isNotNull())
        .select(
            "symbol",
            "t",
            r6(F.col("h")).alias("garch_var"),
            r6(F.sqrt(F.col("h"))).alias("garch_vol"),
        )
        .orderBy("symbol", "t")
    )


QUERIES["ind_garch_vol"] = ind_garch_vol
ORACLES["ind_garch_vol"] = ORACLES_GARCH


@q(
    "bars_pairs_adf",
    BARS_CTE
    + f""",
pxq2 AS (
  SELECT t,
         CAST(FLOOR(MAX(CASE WHEN symbol = 'click' THEN close END) * 1000000.0 + 0.5) AS BIGINT) AS qa,
         CAST(FLOOR(MAX(CASE WHEN symbol = 'view' THEN close END) * 1000000.0 + 0.5) AS BIGINT) AS qb
  FROM bars WHERE symbol IN ('click', 'view') GROUP BY t
  HAVING COUNT(DISTINCT symbol) = 2
),
hsum AS (
  SELECT COUNT(*) AS n,
         SUM(qa) AS s_a, SUM(qb) AS s_b,
         SUM(CAST(qa AS HUGEINT) * qb) AS s_ab,
         SUM(CAST(qb AS HUGEINT) * qb) AS s_bb
  FROM pxq2
),
beta AS (
  SELECT n,
         (CAST(s_ab AS DOUBLE) / 1000000000000.0
          - (CAST(s_a AS DOUBLE) / 1000000.0) * (CAST(s_b AS DOUBLE) / 1000000.0) / n)
         / (CAST(s_bb AS DOUBLE) / 1000000000000.0
          - (CAST(s_b AS DOUBLE) / 1000000.0) * (CAST(s_b AS DOUBLE) / 1000000.0) / n) AS h
  FROM hsum
),
sp AS (
  SELECT t,
         CAST(FLOOR((CAST(qa AS DOUBLE) / 1000000.0
                     - beta.h * (CAST(qb AS DOUBLE) / 1000000.0)) * 1000000.0 + 0.5)
              AS BIGINT) AS sq
  FROM pxq2 CROSS JOIN beta
),
lagd AS (
  SELECT sq - LAG(sq) OVER (ORDER BY t) AS d,
         LAG(sq) OVER (ORDER BY t) AS sl
  FROM sp
),
reg AS (
  SELECT COUNT(*) AS n2,
         SUM(sl) AS ssl, SUM(d) AS sd,
         SUM(CAST(sl AS HUGEINT) * d) AS sld,
         SUM(CAST(sl AS HUGEINT) * sl) AS sll,
         SUM(CAST(d AS HUGEINT) * d) AS sdd
  FROM lagd WHERE sl IS NOT NULL
),
fin AS (
  SELECT n2,
         (SELECT h FROM beta) AS h,
         CAST(sld AS DOUBLE) - CAST(n2 AS DOUBLE)
           * (CAST(ssl AS DOUBLE) / n2) * (CAST(sd AS DOUBLE) / n2) AS sxy,
         CAST(sll AS DOUBLE) - CAST(n2 AS DOUBLE)
           * (CAST(ssl AS DOUBLE) / n2) * (CAST(ssl AS DOUBLE) / n2) AS sxx,
         CAST(sdd AS DOUBLE) - CAST(n2 AS DOUBLE)
           * (CAST(sd AS DOUBLE) / n2) * (CAST(sd AS DOUBLE) / n2) AS syy
  FROM reg
)
SELECT CAST(n2 AS BIGINT) AS n_obs,
       ROUND(h, 6) AS hedge_ratio,
       ROUND(sxy / sxx, 6) AS gamma,
       ROUND((sxy / sxx)
             / sqrt(((syy - (sxy / sxx) * sxy) / (n2 - 2)) / sxx), 6) AS t_stat,
       ROUND(CASE WHEN sxy / sxx > -1.0 AND sxy / sxx < 0.0
             THEN -{_LN2} / ln(1.0 + sxy / sxx) END, 6) AS half_life
FROM fin
""",
)
def bars_pairs_adf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle-Granger step 2 for the (click, view) pair: full-sample OLS
    hedge ratio, then the ADF-style regression Δs = α + γ·s₋₁ — γ (mean-
    reversion speed), its t-statistic, and the implied half-life
    −ln2/ln(1+γ). Every moment is an exact integer sum (HUGEINT/decimal
    for the quadratics) and the closed-form tail is the identical IEEE
    expression in both engines. The aligned pair series is one tiny
    ordered group — the single-partition windows are intentional."""
    b = bars(spark, sf_dir).where(F.col("symbol").isin("click", "view"))
    px = (
        b.groupBy("t")
        .agg(
            F.floor(
                F.max(F.when(F.col("symbol") == "click", F.col("close"))) * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("qa"),
            F.floor(
                F.max(F.when(F.col("symbol") == "view", F.col("close"))) * 1e6
                + F.lit(0.5)
            )
            .cast("long")
            .alias("qb"),
            F.count_distinct("symbol").alias("_ns"),
        )
        .where(F.col("_ns") == 2)
        .drop("_ns")
    )
    dec = "decimal(38,0)"
    hsum = px.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qa").alias("s_a"),
        F.sum("qb").alias("s_b"),
        F.sum(F.col("qa").cast(dec) * F.col("qb")).alias("s_ab"),
        F.sum(F.col("qb").cast(dec) * F.col("qb")).alias("s_bb"),
    )
    nn = F.col("n")
    h = (
        F.col("s_ab").cast("double") / 1e12
        - (F.col("s_a").cast("double") / 1e6) * (F.col("s_b").cast("double") / 1e6) / nn
    ) / (
        F.col("s_bb").cast("double") / 1e12
        - (F.col("s_b").cast("double") / 1e6) * (F.col("s_b").cast("double") / 1e6) / nn
    )
    beta = hsum.select(h.alias("h"))
    sp = px.crossJoin(F.broadcast(beta)).select(
        "t",
        F.floor(
            (
                F.col("qa").cast("double") / 1e6
                - F.col("h") * (F.col("qb").cast("double") / 1e6)
            )
            * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("sq"),
        "h",
    )
    wt = Window.orderBy("t")
    lagd = sp.select(
        (F.col("sq") - F.lag("sq").over(wt)).alias("d"),
        F.lag("sq").over(wt).alias("sl"),
        "h",
    ).where(F.col("sl").isNotNull())
    reg = lagd.groupBy("h").agg(
        F.count(F.lit(1)).alias("n2"),
        F.sum("sl").alias("ssl"),
        F.sum("d").alias("sd"),
        F.sum(F.col("sl").cast(dec) * F.col("d")).alias("sld"),
        F.sum(F.col("sl").cast(dec) * F.col("sl")).alias("sll"),
        F.sum(F.col("d").cast(dec) * F.col("d")).alias("sdd"),
    )
    n2 = F.col("n2")
    sxy = F.col("sld").cast("double") - n2.cast("double") * (
        F.col("ssl").cast("double") / n2
    ) * (F.col("sd").cast("double") / n2)
    sxx = F.col("sll").cast("double") - n2.cast("double") * (
        F.col("ssl").cast("double") / n2
    ) * (F.col("ssl").cast("double") / n2)
    syy = F.col("sdd").cast("double") - n2.cast("double") * (
        F.col("sd").cast("double") / n2
    ) * (F.col("sd").cast("double") / n2)
    fin = reg.select(
        "h", n2.alias("n2"), sxy.alias("sxy"), sxx.alias("sxx"), syy.alias("syy")
    )
    g = F.col("sxy") / F.col("sxx")
    tstat = g / F.sqrt(
        ((F.col("syy") - g * F.col("sxy")) / (F.col("n2") - 2)) / F.col("sxx")
    )
    hl = F.when((g > -1.0) & (g < 0.0), -F.lit(_LN2) / F.log(1.0 + g))
    return fin.select(
        F.col("n2").cast("long").alias("n_obs"),
        r6(F.col("h")).alias("hedge_ratio"),
        r6(g).alias("gamma"),
        r6(tstat).alias("t_stat"),
        r6(hl).alias("half_life"),
    )


# Hurst exponent, aggregated-variance method: Var(q-bar log-return sums)
# scales as q^(2H). The log-log regression collapses to fixed weights
# (x-values are ln{1,2,4,8,16} — constants), so H = 0.5·Σ wᵢ·ln(Varᵢ)
# with wᵢ precomputed literals and Σwᵢ = 0 (unit scale cancels — the
# variances stay in raw micro² units). Only ln() is engine-computed.
_HW1, _HW2, _HW8, _HW16 = (
    "-0.28853900817779266",
    "-0.14426950408889633",
    "0.14426950408889633",
    "0.28853900817779266",
)


@q(
    "bars_hurst",
    BARS_CTE
    + f""",
hr AS (
  SELECT symbol, t,
         CAST(FLOOR(ln(close / LAG(close) OVER ho) * 1000000.0 + 0.5) AS BIGINT) AS qlr
  FROM bars WHERE close > 0
  WINDOW ho AS (PARTITION BY symbol ORDER BY t)
),
ha AS (
  SELECT symbol, qlr,
         CASE WHEN COUNT(qlr) OVER w2 = 2 THEN SUM(qlr) OVER w2 END AS q2,
         CASE WHEN COUNT(qlr) OVER w4 = 4 THEN SUM(qlr) OVER w4 END AS q4,
         CASE WHEN COUNT(qlr) OVER w8 = 8 THEN SUM(qlr) OVER w8 END AS q8,
         CASE WHEN COUNT(qlr) OVER w16 = 16 THEN SUM(qlr) OVER w16 END AS q16
  FROM hr WHERE qlr IS NOT NULL
  WINDOW w2 AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 1 PRECEDING AND CURRENT ROW),
         w4 AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 3 PRECEDING AND CURRENT ROW),
         w8 AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 7 PRECEDING AND CURRENT ROW),
         w16 AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 15 PRECEDING AND CURRENT ROW)
),
hs AS (
  SELECT symbol,
         COUNT(qlr) AS n1, SUM(qlr) AS a1, SUM(CAST(qlr AS HUGEINT) * qlr) AS b1,
         COUNT(q2) AS n2, SUM(q2) AS a2, SUM(CAST(q2 AS HUGEINT) * q2) AS b2,
         COUNT(q4) AS n4, SUM(q4) AS a4, SUM(CAST(q4 AS HUGEINT) * q4) AS b4,
         COUNT(q8) AS n8, SUM(q8) AS a8, SUM(CAST(q8 AS HUGEINT) * q8) AS b8,
         COUNT(q16) AS n16, SUM(q16) AS a16, SUM(CAST(q16 AS HUGEINT) * q16) AS b16
  FROM ha GROUP BY symbol
),
hv AS (
  SELECT symbol,
         CAST(b1 AS DOUBLE) / n1 - (CAST(a1 AS DOUBLE) / n1) * (CAST(a1 AS DOUBLE) / n1) AS v1,
         CAST(b2 AS DOUBLE) / n2 - (CAST(a2 AS DOUBLE) / n2) * (CAST(a2 AS DOUBLE) / n2) AS v2,
         CAST(b8 AS DOUBLE) / n8 - (CAST(a8 AS DOUBLE) / n8) * (CAST(a8 AS DOUBLE) / n8) AS v8,
         CAST(b16 AS DOUBLE) / n16 - (CAST(a16 AS DOUBLE) / n16) * (CAST(a16 AS DOUBLE) / n16) AS v16
  FROM hs WHERE n16 > 0
)
SELECT symbol,
       ROUND(CASE WHEN v1 > 0 AND v2 > 0 AND v8 > 0 AND v16 > 0 THEN
         0.5 * ((({_HW1}) * ln(v1) + ({_HW2}) * ln(v2))
                + ({_HW8}) * ln(v8) + ({_HW16}) * ln(v16)) END, 6) AS hurst
FROM hv
ORDER BY symbol
""",
)
def bars_hurst(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hurst exponent per symbol (aggregated-variance method over horizons
    1/2/4/8/16): ~0.5 random walk, >0.5 trending, <0.5 mean-reverting.
    One window pass (all horizons share the symbol exchange), one hash
    aggregate of exact integer moments, then the fixed-weight log-log
    slope."""
    from polars_quant_spark.functions.riskstats import hurst as hurst_fn

    out = hurst_fn(bars(spark, sf_dir))
    return out.select("symbol", r6(F.col("hurst")).alias("hurst")).orderBy(
        "symbol"
    )


@q(
    "events_signal_ic",
    BARS_CTE
    + """,
lastc AS (
  SELECT symbol, ts_us // 86400000000 AS day, arg_max(close, ts_us) AS c
  FROM bars GROUP BY 1, 2
),
dret AS (
  SELECT symbol, day,
         CAST(FLOOR((c / LAG(c) OVER (PARTITION BY symbol ORDER BY day) - 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS qr
  FROM lastc
),
mret AS (
  SELECT day,
         CAST(FLOOR(CAST(SUM(qr) AS DOUBLE) / COUNT(qr) + 0.5) AS BIGINT) AS qm
  FROM dret WHERE qr IS NOT NULL GROUP BY day
),
sig AS (
  SELECT epoch_us(ts) // 86400000000 AS day, event_type, COUNT(*) AS cnt
  FROM events GROUP BY 1, 2
),
j AS (
  SELECT s.event_type, s.cnt AS x, m.qm AS y
  FROM sig s JOIN mret m ON m.day = s.day + 1
),
cm AS (
  SELECT event_type, COUNT(*) AS n,
         SUM(x) AS sx, SUM(y) AS sy,
         SUM(CAST(x AS HUGEINT) * y) AS sxy,
         SUM(CAST(x AS HUGEINT) * x) AS sxx,
         SUM(CAST(y AS HUGEINT) * y) AS syy
  FROM j GROUP BY event_type
)
SELECT event_type, CAST(n AS BIGINT) AS n_days,
       ROUND(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         CAST(n * sxy - sx * sy AS DOUBLE)
         / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
       END, 6) AS ic
FROM cm
ORDER BY event_type
""",
)
def events_signal_ic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alt-data signal check: Pearson IC between each event type's daily
    volume and the NEXT day's cross-sectional mean return. The alignment
    is a day+1 equi-join (no windows over the event log); the correlation
    runs on exact integers — counts × micro-quantized mean returns, with
    the classic n·Sxy − Sx·Sy form so no float sum ever crosses an
    engine boundary. Both sides collapse to day-level frames first, so
    the join is dimension-sized at any SF."""
    b = bars(spark, sf_dir)
    lastc = (
        b.select("symbol", F.expr("ts_us DIV 86400000000").alias("day"), "close", "ts_us")
        .groupBy("symbol", "day")
        .agg(F.max_by("close", "ts_us").alias("c"))
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    dret = lastc.select(
        "symbol",
        "day",
        F.floor((F.col("c") / F.lag("c").over(wd) - 1.0) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("qr"),
    ).where(F.col("qr").isNotNull())
    mret = dret.groupBy("day").agg(
        F.floor(F.sum("qr").cast("double") / F.count("qr") + F.lit(0.5))
        .cast("long")
        .alias("qm")
    )
    from polars_quant_spark.sources.bars import load_table as _lt

    ev0 = _lt(spark, sf_dir, "events")
    from polars_quant_spark.sources.bars import ts_us_expr

    sig = (
        ev0.select(ts_us_expr(ev0).alias("ts_us"), "event_type")
        .select(F.expr("ts_us DIV 86400000000").alias("day"), "event_type")
        .groupBy("day", "event_type")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )
    j = sig.join(
        F.broadcast(mret), mret.day == sig.day + 1
    ).select("event_type", F.col("cnt").alias("x"), F.col("qm").alias("y"))
    dec = "decimal(38,0)"
    cm = j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.col("x").cast(dec) * F.col("y")).alias("sxy"),
        F.sum(F.col("x").cast(dec) * F.col("x")).alias("sxx"),
        F.sum(F.col("y").cast(dec) * F.col("y")).alias("syy"),
    )
    n = F.col("n").cast(dec)
    dxx = n * F.col("sxx") - F.col("sx").cast(dec) * F.col("sx")
    dyy = n * F.col("syy") - F.col("sy").cast(dec) * F.col("sy")
    dxy = n * F.col("sxy") - F.col("sx").cast(dec) * F.col("sy")
    ic = F.when(
        (dxx > 0) & (dyy > 0),
        dxy.cast("double") / F.sqrt(dxx.cast("double") * dyy.cast("double")),
    )
    return cm.select(
        "event_type", F.col("n").cast("long").alias("n_days"), r6(ic).alias("ic")
    ).orderBy("event_type")


@q(
    "bars_rolling_corr",
    BARS_CTE
    + """,
rcq AS (
  SELECT t,
         CAST(FLOOR((MAX(CASE WHEN symbol = 'click' THEN close END)
                     / LAG(MAX(CASE WHEN symbol = 'click' THEN close END))
                       OVER (ORDER BY t) - 1.0) * 1000000.0 + 0.5) AS BIGINT) AS xa,
         CAST(FLOOR((MAX(CASE WHEN symbol = 'view' THEN close END)
                     / LAG(MAX(CASE WHEN symbol = 'view' THEN close END))
                       OVER (ORDER BY t) - 1.0) * 1000000.0 + 0.5) AS BIGINT) AS xb
  FROM bars WHERE symbol IN ('click', 'view') GROUP BY t
  HAVING COUNT(DISTINCT symbol) = 2
),
rcm AS (
  SELECT t, xa, xb,
         COUNT(*) OVER w AS n,
         SUM(xa) OVER w AS sa, SUM(xb) OVER w AS sb,
         SUM(CAST(xa AS HUGEINT) * xb) OVER w AS sab,
         SUM(CAST(xa AS HUGEINT) * xa) OVER w AS saa,
         SUM(CAST(xb AS HUGEINT) * xb) OVER w AS sbb
  FROM rcq WHERE xa IS NOT NULL AND xb IS NOT NULL
  WINDOW w AS (ORDER BY t ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
)
SELECT t,
       ROUND(CASE WHEN n = 60
                   AND n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
         CAST(n * sab - sa * sb AS DOUBLE)
         / sqrt(CAST(n * saa - sa * sa AS DOUBLE) * CAST(n * sbb - sb * sb AS DOUBLE))
       END, 6) AS corr_60
FROM rcm
ORDER BY t
""",
)
def bars_rolling_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 60-bar return correlation between the (click, view) pair —
    the correlation-regime monitor behind pair selection and risk models.
    Micro-quantized returns make every window moment an exact integer;
    the n·Sxy − Sx·Sy form never sums floats. One aligned pivot, one
    single-partition window chain over the pair series (per-pair work —
    across a universe each pair is an independent partition)."""
    b = bars(spark, sf_dir).where(F.col("symbol").isin("click", "view"))
    px = (
        b.groupBy("t")
        .agg(
            F.max(F.when(F.col("symbol") == "click", F.col("close"))).alias("ca"),
            F.max(F.when(F.col("symbol") == "view", F.col("close"))).alias("cb"),
            F.count_distinct("symbol").alias("_ns"),
        )
        .where(F.col("_ns") == 2)
    )
    wo = Window.orderBy("t")

    def qret(c):
        return F.floor(
            (F.col(c) / F.lag(c).over(wo) - 1.0) * 1e6 + F.lit(0.5)
        ).cast("long")

    r = px.select("t", qret("ca").alias("xa"), qret("cb").alias("xb")).where(
        F.col("xa").isNotNull() & F.col("xb").isNotNull()
    )
    w = Window.orderBy("t").rowsBetween(-59, 0)
    dec = "decimal(38,0)"
    m = r.select(
        "t",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("xa").over(w).alias("sa"),
        F.sum("xb").over(w).alias("sb"),
        F.sum(F.col("xa").cast(dec) * F.col("xb")).over(w).alias("sab"),
        F.sum(F.col("xa").cast(dec) * F.col("xa")).over(w).alias("saa"),
        F.sum(F.col("xb").cast(dec) * F.col("xb")).over(w).alias("sbb"),
    )
    n = F.col("n").cast(dec)
    dxy = n * F.col("sab") - F.col("sa").cast(dec) * F.col("sb")
    dxx = n * F.col("saa") - F.col("sa").cast(dec) * F.col("sa")
    dyy = n * F.col("sbb") - F.col("sb").cast(dec) * F.col("sb")
    corr = F.when(
        (F.col("n") == 60) & (dxx > 0) & (dyy > 0),
        dxy.cast("double") / F.sqrt(dxx.cast("double") * dyy.cast("double")),
    )
    return m.select("t", r6(corr).alias("corr_60")).orderBy("t")


@q(
    "bars_updown_beta",
    BARS_CTE
    + """,
ubr AS (
  SELECT symbol, t,
         CAST(FLOOR((close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS qr
  FROM bars
),
ubm AS (
  SELECT t, CAST(FLOOR(CAST(SUM(qr) AS DOUBLE) / COUNT(qr) + 0.5) AS BIGINT) AS qm
  FROM ubr WHERE qr IS NOT NULL GROUP BY t
),
ubj AS (
  SELECT r.symbol, r.qr, m.qm FROM ubr r JOIN ubm m ON m.t = r.t
  WHERE r.qr IS NOT NULL
),
ubs AS (
  SELECT symbol,
         SUM(CASE WHEN qm > 0 THEN 1 ELSE 0 END) AS nu,
         SUM(CASE WHEN qm > 0 THEN qr ELSE 0 END) AS sxu,
         SUM(CASE WHEN qm > 0 THEN qm ELSE 0 END) AS smu,
         SUM(CASE WHEN qm > 0 THEN CAST(qr AS HUGEINT) * qm ELSE 0 END) AS sxmu,
         SUM(CASE WHEN qm > 0 THEN CAST(qm AS HUGEINT) * qm ELSE 0 END) AS smmu,
         SUM(CASE WHEN qm < 0 THEN 1 ELSE 0 END) AS nd,
         SUM(CASE WHEN qm < 0 THEN qr ELSE 0 END) AS sxd,
         SUM(CASE WHEN qm < 0 THEN qm ELSE 0 END) AS smd,
         SUM(CASE WHEN qm < 0 THEN CAST(qr AS HUGEINT) * qm ELSE 0 END) AS sxmd,
         SUM(CASE WHEN qm < 0 THEN CAST(qm AS HUGEINT) * qm ELSE 0 END) AS smmd
  FROM ubj GROUP BY symbol
)
SELECT symbol,
       ROUND(CASE WHEN nu > 1 AND nu * smmu - smu * smu > 0 THEN
         CAST(nu * sxmu - sxu * smu AS DOUBLE) / CAST(nu * smmu - smu * smu AS DOUBLE)
       END, 6) AS beta_up,
       ROUND(CASE WHEN nd > 1 AND nd * smmd - smd * smd > 0 THEN
         CAST(nd * sxmd - sxd * smd AS DOUBLE) / CAST(nd * smmd - smd * smd AS DOUBLE)
       END, 6) AS beta_down
FROM ubs
ORDER BY symbol
""",
)
def bars_updown_beta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric market beta per symbol: beta conditioned on up-market
    bars vs down-market bars (the downside-risk decomposition CAPM hides).
    The market return is the cross-sectional mean (micro-quantized, so the
    conditioning sign and every moment are exact integers); the two
    conditional regressions are one grouped aggregate with CASE'd sums.
    Two exchanges total: the per-symbol window and the per-t collapse."""
    b = bars(spark, sf_dir)
    o = _w()
    qr = F.floor(
        (F.col("close") / F.lag("close").over(o) - 1.0) * 1e6 + F.lit(0.5)
    ).cast("long")
    r = b.select("symbol", "t", qr.alias("qr")).where(F.col("qr").isNotNull())
    m = r.groupBy("t").agg(
        F.floor(F.sum("qr").cast("double") / F.count("qr") + F.lit(0.5))
        .cast("long")
        .alias("qm")
    )
    # m has one row per t: it grows with history length (tick-level at
    # 100 TB), so no forced broadcast — AQE sees the agg's actual size at
    # runtime and broadcasts only when it genuinely fits (VERDICT r7 #1).
    j = r.join(m, "t").select("symbol", "qr", "qm")
    dec = "decimal(38,0)"
    up = F.col("qm") > 0
    dn = F.col("qm") < 0

    def c(cond, expr):
        return F.sum(F.when(cond, expr).otherwise(F.lit(0).cast(dec)))

    s = j.groupBy("symbol").agg(
        F.sum(F.when(up, 1).otherwise(0)).alias("nu"),
        c(up, F.col("qr").cast(dec)).alias("sxu"),
        c(up, F.col("qm").cast(dec)).alias("smu"),
        c(up, F.col("qr").cast(dec) * F.col("qm")).alias("sxmu"),
        c(up, F.col("qm").cast(dec) * F.col("qm")).alias("smmu"),
        F.sum(F.when(dn, 1).otherwise(0)).alias("nd"),
        c(dn, F.col("qr").cast(dec)).alias("sxd"),
        c(dn, F.col("qm").cast(dec)).alias("smd"),
        c(dn, F.col("qr").cast(dec) * F.col("qm")).alias("sxmd"),
        c(dn, F.col("qm").cast(dec) * F.col("qm")).alias("smmd"),
    )

    def beta(n, sx, sm, sxm, smm):
        n_ = F.col(n).cast(dec)
        num = n_ * F.col(sxm) - F.col(sx) * F.col(sm)
        den = n_ * F.col(smm) - F.col(sm) * F.col(sm)
        return F.when(
            (F.col(n) > 1) & (den > 0), num.cast("double") / den.cast("double")
        )

    return s.select(
        "symbol",
        r6(beta("nu", "sxu", "smu", "sxmu", "smmu")).alias("beta_up"),
        r6(beta("nd", "sxd", "smd", "sxmd", "smmd")).alias("beta_down"),
    ).orderBy("symbol")


@q(
    "bars_position_sizing",
    BARS_CTE
    + """,
psr AS (
  SELECT symbol,
         CAST(FLOOR((close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS qr
  FROM bars
),
pss AS (
  SELECT symbol, COUNT(*) AS n, SUM(qr) AS s1,
         SUM(CAST(qr AS HUGEINT) * qr) AS s2
  FROM psr WHERE qr IS NOT NULL GROUP BY symbol
)
SELECT symbol,
       ROUND(CASE WHEN CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) > 0 THEN
         (CAST(s1 AS DOUBLE) / n / 1000000.0)
         / ((CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
            / 1000000000000.0) END, 6) AS kelly_fraction,
       ROUND(CASE WHEN CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) > 0 THEN
         LEAST(0.02 / sqrt((CAST(s2 AS DOUBLE) / n
                            - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                           / 1000000000000.0), 4.0) END, 6) AS vol_target_leverage
FROM pss
ORDER BY symbol
""",
)
def bars_position_sizing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Position-sizing report per symbol: the continuous Kelly fraction
    μ/σ² and a 2%-per-bar volatility-target leverage (capped at 4×) —
    the two standard sizing rules, from the same exact integer moments as
    the other moment queries. One scan, one aggregate."""
    b = bars(spark, sf_dir)
    o = _w()
    qr = F.floor(
        (F.col("close") / F.lag("close").over(o) - 1.0) * 1e6 + F.lit(0.5)
    ).cast("long")
    r = b.select("symbol", qr.alias("qr")).where(F.col("qr").isNotNull())
    dec = "decimal(38,0)"
    s = r.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qr").alias("s1"),
        F.sum(F.col("qr").cast(dec) * F.col("qr")).alias("s2"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    e2 = F.col("s2").cast("double") / n
    var_m = e2 - m1 * m1
    kelly = F.when(var_m > 0, (m1 / 1e6) / (var_m / 1e12))
    lev = F.when(var_m > 0, F.least(F.lit(0.02) / F.sqrt(var_m / 1e12), F.lit(4.0)))
    return s.select(
        "symbol",
        r6(kelly).alias("kelly_fraction"),
        r6(lev).alias("vol_target_leverage"),
    ).orderBy("symbol")


@q(
    "bars_vol_regime_transitions",
    BARS_CTE
    + """,
vrr AS (
  SELECT symbol, t,
         CAST(FLOOR((close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS qr
  FROM bars
),
vrv AS (
  SELECT symbol, t,
         CASE WHEN COUNT(qr) OVER w = 20 THEN
           SUM(CAST(qr AS HUGEINT) * qr) OVER w END AS ss
  FROM vrr WHERE qr IS NOT NULL
  WINDOW w AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
vrn AS (
  SELECT symbol, t, NTILE(3) OVER (PARTITION BY symbol ORDER BY ss, t) AS regime
  FROM vrv WHERE ss IS NOT NULL
),
vrp AS (
  SELECT regime,
         LEAD(regime) OVER (PARTITION BY symbol ORDER BY t) AS nxt
  FROM vrn
)
SELECT CAST(regime AS INTEGER) AS regime, CAST(nxt AS INTEGER) AS next_regime,
       COUNT(*) AS n,
       ROUND(CAST(COUNT(*) AS DOUBLE)
             / SUM(COUNT(*)) OVER (PARTITION BY regime), 6) AS p
FROM vrp WHERE nxt IS NOT NULL
GROUP BY regime, nxt
ORDER BY regime, next_regime
""",
)
def bars_vol_regime_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volatility-regime Markov matrix: each bar lands in a low/mid/high
    tercile of its symbol's rolling-20 squared-return sum (exact integer,
    NTILE tie-broken by t so both engines agree), then P(next|current)
    across the universe. The regime-persistence fingerprint behind
    vol-targeting. One window chain on the shared symbol exchange, one
    transition aggregate."""
    b = bars(spark, sf_dir)
    o = _w()
    qr = F.floor(
        (F.col("close") / F.lag("close").over(o) - 1.0) * 1e6 + F.lit(0.5)
    ).cast("long")
    r = b.select("symbol", "t", qr.alias("qr")).where(F.col("qr").isNotNull())
    w = _w().rowsBetween(-19, 0)
    ss = F.when(
        F.count("qr").over(w) == 20,
        F.sum(F.col("qr").cast("decimal(38,0)") * F.col("qr")).over(w),
    )
    v = r.select("symbol", "t", ss.alias("ss")).where(F.col("ss").isNotNull())
    wn = Window.partitionBy("symbol").orderBy("ss", "t")
    nr = v.select("symbol", "t", F.ntile(3).over(wn).alias("regime"))
    pair = nr.select(
        "regime", F.lead("regime").over(_w()).alias("nxt")
    ).where(F.col("nxt").isNotNull())
    cnt = pair.groupBy(
        F.col("regime").cast("int").alias("regime"),
        F.col("nxt").cast("int").alias("next_regime"),
    ).agg(F.count(F.lit(1)).alias("n"))
    wr = Window.partitionBy("regime")
    return cnt.select(
        "regime",
        "next_regime",
        "n",
        r6(F.col("n").cast("double") / F.sum("n").over(wr)).alias("p"),
    ).orderBy("regime", "next_regime")


@q(
    "rel_fulfillment_sla",
    """
WITH ld AS (
  SELECT o.o_orderpriority,
         (epoch_us(l.l_shipdate) - epoch_us(o.o_orderdate)) // 86400000000 AS lead_days
  FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
  WHERE l.l_shipdate IS NOT NULL AND o.o_orderdate IS NOT NULL
),
rk AS (
  SELECT o_orderpriority, lead_days,
         ROW_NUMBER() OVER (PARTITION BY o_orderpriority ORDER BY lead_days) AS r,
         COUNT(*) OVER (PARTITION BY o_orderpriority) AS n
  FROM ld
)
SELECT o_orderpriority, CAST(MAX(n) AS BIGINT) AS n_lines,
       MAX(CASE WHEN r = CAST(CEIL(0.50 * n) AS BIGINT) THEN lead_days END) AS p50_days,
       MAX(CASE WHEN r = CAST(CEIL(0.90 * n) AS BIGINT) THEN lead_days END) AS p90_days,
       CAST(SUM(CASE WHEN lead_days > 30 THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
       ROUND(CAST(SUM(CASE WHEN lead_days > 30 THEN 1 ELSE 0 END) AS DOUBLE)
             / MAX(n), 6) AS late_rate
FROM rk GROUP BY o_orderpriority
ORDER BY o_orderpriority
""",
)
def rel_fulfillment_sla(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-fulfillment SLA by priority class: exact discrete p50/p90
    order→ship lead time (rank windows, integer days) and the >30-day
    late rate — the supply-chain twin of the event-interarrival SLA.
    One fact-fact equi-join on orderkey (co-partitioned at scale), one
    rank pass per priority class."""
    from polars_quant_spark.sources.bars import load_table as _lt

    li = _lt(spark, sf_dir, "lineitem").where(F.col("l_shipdate").isNotNull())
    o = _lt(spark, sf_dir, "orders").where(F.col("o_orderdate").isNotNull())
    ld = li.join(o, li.l_orderkey == o.o_orderkey).select(
        "o_orderpriority",
        F.expr(
            "(unix_micros(to_utc_timestamp(l_shipdate, 'UTC'))"
            " - unix_micros(to_utc_timestamp(o_orderdate, 'UTC'))) DIV 86400000000"
        ).alias("lead_days"),
    )
    wr = Window.partitionBy("o_orderpriority").orderBy("lead_days")
    wn = Window.partitionBy("o_orderpriority")
    rk = ld.select(
        "o_orderpriority",
        "lead_days",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pct(p):
        return F.max(
            F.when(
                F.col("r") == F.ceil(F.lit(p) * F.col("n")).cast("long"),
                F.col("lead_days"),
            )
        )

    late = F.sum(F.when(F.col("lead_days") > 30, 1).otherwise(0))
    return (
        rk.groupBy("o_orderpriority")
        .agg(
            F.max("n").cast("long").alias("n_lines"),
            pct(0.50).alias("p50_days"),
            pct(0.90).alias("p90_days"),
            late.cast("long").alias("n_late"),
            r6(late.cast("double") / F.max("n")).alias("late_rate"),
        )
        .orderBy("o_orderpriority")
    )


@q(
    "bt_trade_excursions",
    BARS_CTE
    + """,
mm AS (
  SELECT symbol, t, close, high, low,
         CASE WHEN COUNT(close) OVER w5 = 5 THEN SUM(qclose) OVER w5 END AS s5,
         CASE WHEN COUNT(close) OVER w20 = 20 THEN SUM(qclose) OVER w20 END AS s20
  FROM (SELECT symbol, t, close, high, low,
               CAST(FLOOR(close * 1000000.0 + 0.5) AS BIGINT) AS qclose
        FROM bars)
  WINDOW w5 AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 4 PRECEDING AND CURRENT ROW),
         w20 AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
),
st AS (
  SELECT symbol, t, close, high, low,
         CASE WHEN s5 IS NOT NULL AND s20 IS NOT NULL AND s5 * 4 > s20 THEN 1 ELSE 0 END AS long_sig
  FROM mm
),
flg AS (
  SELECT symbol, t, close, high, low, long_sig,
         CASE WHEN long_sig != COALESCE(LAG(long_sig) OVER o, -1) THEN 1 ELSE 0 END AS nr
  FROM st
  WINDOW o AS (PARTITION BY symbol ORDER BY t)
),
runs AS (
  SELECT symbol, t, close, high, low, long_sig,
         SUM(nr) OVER (PARTITION BY symbol ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS run_id
  FROM flg
),
tr AS (
  SELECT symbol, run_id,
         CAST(FLOOR(arg_min(close, t) * 1000000.0 + 0.5) AS BIGINT) AS entry_q,
         CAST(FLOOR(MAX(high) * 1000000.0 + 0.5) AS BIGINT) AS hi_q,
         CAST(FLOOR(MIN(low) * 1000000.0 + 0.5) AS BIGINT) AS lo_q,
         CAST(FLOOR(arg_max(close, t) * 1000000.0 + 0.5) AS BIGINT) AS exit_q,
         COUNT(*) AS n_bars
  FROM runs WHERE long_sig = 1
  GROUP BY symbol, run_id
)
SELECT symbol,
       CAST(COUNT(*) AS BIGINT) AS n_trades,
       ROUND(CAST(SUM(CAST(FLOOR((CAST(hi_q AS DOUBLE) / entry_q - 1.0) * 1000000.0 + 0.5)
                          AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(*), 6) AS avg_mfe,
       ROUND(CAST(SUM(CAST(FLOOR((CAST(lo_q AS DOUBLE) / entry_q - 1.0) * 1000000.0 + 0.5)
                          AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(*), 6) AS avg_mae,
       ROUND(CAST(SUM(CAST(FLOOR((CAST(exit_q AS DOUBLE) / entry_q - 1.0) * 1000000.0 + 0.5)
                          AS BIGINT)) AS DOUBLE) / 1000000.0 / COUNT(*), 6) AS avg_trade_ret,
       ROUND(CAST(SUM(n_bars) AS DOUBLE) / COUNT(*), 6) AS avg_hold_bars
FROM tr
GROUP BY symbol
ORDER BY symbol
""",
)
def bt_trade_excursions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trade-excursion anatomy for the 5/20 crossover longs: per symbol,
    average Maximum Favorable / Adverse Excursion (how far each trade ran
    for/against the entry before it closed), realized trade return and
    holding time — the stop/target calibration numbers. Trades are
    long-signal runs (the same conditional-cumsum run-id as the streak
    machinery); entry/exit are arg_min/arg_max by time; every excursion
    micro-quantizes before the per-symbol mean. The long signal compares
    cross-multiplied INTEGER sums (avg5 > avg20 ⟺ 4·Σ₅(qclose) >
    Σ₂₀(qclose)) so an SMA tie can't flip between engines."""
    b = bars(spark, sf_dir)
    w5 = _w().rowsBetween(-4, 0)
    w20 = _w().rowsBetween(-19, 0)
    o = _w()
    qc = F.floor(F.col("close") * F.lit(1000000.0) + F.lit(0.5)).cast("long")
    s5 = F.when(F.count("close").over(w5) == 5, F.sum(qc).over(w5))
    s20 = F.when(F.count("close").over(w20) == 20, F.sum(qc).over(w20))
    st = b.select(
        "symbol", "t", "close", "high", "low",
        F.when(s5.isNotNull() & s20.isNotNull() & (s5 * F.lit(4) > s20), 1)
        .otherwise(0)
        .alias("long_sig"),
    )
    wc = _w().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    new_run = F.when(
        F.col("long_sig") != F.coalesce(F.lag("long_sig").over(o), F.lit(-1)), 1
    ).otherwise(0)
    runs = st.select(
        "symbol", "t", "close", "high", "low", "long_sig", new_run.alias("nr")
    ).select(
        "symbol", "t", "close", "high", "low", "long_sig",
        F.sum("nr").over(wc).alias("run_id"),
    )

    def q6c(x):
        return F.floor(x * 1e6 + F.lit(0.5)).cast("long")

    tr = (
        runs.where(F.col("long_sig") == 1)
        .groupBy("symbol", "run_id")
        .agg(
            q6c(F.min_by("close", "t")).alias("entry_q"),
            q6c(F.max("high")).alias("hi_q"),
            q6c(F.min("low")).alias("lo_q"),
            q6c(F.max_by("close", "t")).alias("exit_q"),
            F.count(F.lit(1)).alias("n_bars"),
        )
    )

    def exc(col):
        return F.sum(
            F.floor(
                (F.col(col).cast("double") / F.col("entry_q") - 1.0) * 1e6 + F.lit(0.5)
            ).cast("long")
        )

    n = F.count(F.lit(1))
    return (
        tr.groupBy("symbol")
        .agg(
            n.cast("long").alias("n_trades"),
            r6(exc("hi_q").cast("double") / 1e6 / n).alias("avg_mfe"),
            r6(exc("lo_q").cast("double") / 1e6 / n).alias("avg_mae"),
            r6(exc("exit_q").cast("double") / 1e6 / n).alias("avg_trade_ret"),
            r6(F.sum("n_bars").cast("double") / n).alias("avg_hold_bars"),
        )
        .orderBy("symbol")
    )


# Renko bricks: all-integer recurrence — the oracle CTE carries the level
# as BIGINT micro units, so there is NO floating-point state at all.
ORACLES_RENKO = (
    recursive_with(
        """
rkq AS MATERIALIZED (
  SELECT symbol, t, CAST(FLOOR(close * 1000000.0 + 0.5) AS BIGINT) AS qc,
         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY t) AS rn
  FROM bars WHERE close IS NOT NULL
),
rkb AS MATERIALIZED (
  SELECT symbol,
         GREATEST(CAST(FLOOR(CAST(MIN(CASE WHEN rn = 1 THEN qc END) AS DOUBLE)
                             * 0.005 + 0.5) AS BIGINT), 1) AS bk
  FROM rkq GROUP BY symbol
)""",
        """
rk_rec AS (
  SELECT q.symbol, q.rn, q.qc AS lev, CAST(0 AS BIGINT) AS d
  FROM rkq q WHERE q.rn = 1
  UNION ALL
  SELECT s.symbol, s.rn, s.lev + s.d * s.bk AS lev, s.d
  FROM (
    SELECT b.symbol, b.rn, e.lev, k.bk,
           CASE WHEN b.qc >= e.lev + k.bk THEN (b.qc - e.lev) // k.bk
                WHEN b.qc <= e.lev - k.bk THEN -((e.lev - b.qc) // k.bk)
                ELSE CAST(0 AS BIGINT) END AS d
    FROM rk_rec e
    JOIN rkq b ON b.symbol = e.symbol AND b.rn = e.rn + 1
    JOIN rkb k ON k.symbol = e.symbol
  ) s
)""",
    )
    + """
SELECT b.symbol, b.t,
       ROUND(CAST(r.lev AS DOUBLE) / 1000000.0, 6) AS renko_level,
       CAST(r.d AS BIGINT) AS brick_delta
FROM rkq b JOIN rk_rec r ON r.symbol = b.symbol AND r.rn = b.rn
ORDER BY b.symbol, b.t
"""
)


def ind_renko(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Renko brick level and signed brick count per bar (0.5%-of-first-
    close brick). The state machine is pure integer arithmetic, so the
    recursive-CTE twin matches with zero float analysis — the strongest
    form of the recurrence contract. Same one-pass-per-symbol
    applyInArrow shape as the EMA family."""
    b = bars(spark, sf_dir).where(F.col("close").isNotNull())
    out = with_recurrences(
        b.select("symbol", "t", "close"),
        [Rec(["rk_lev", "rk_d"], "renko", ["close"], {"pct": 0.005})],
    )
    return (
        out.where(F.col("rk_lev").isNotNull())
        .select(
            "symbol",
            "t",
            r6(F.col("rk_lev")).alias("renko_level"),
            F.col("rk_d").cast("long").alias("brick_delta"),
        )
        .orderBy("symbol", "t")
    )


QUERIES["ind_renko"] = ind_renko
ORACLES["ind_renko"] = ORACLES_RENKO


# ZigZag pivots: integer-state recursive twin. The recursion carries
# (dir, ext, ext_rn) and emits the pivot (at the EXTREME's row number)
# on the step where the reversal confirms; the final select joins the
# pivot rows back to bar time.
ORACLES_ZIGZAG = (
    recursive_with(
        """
zzq AS MATERIALIZED (
  SELECT symbol, t, CAST(FLOOR(close * 1000000.0 + 0.5) AS BIGINT) AS qc,
         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY t) AS rn
  FROM bars WHERE close IS NOT NULL
)""",
        """
zz_rec AS (
  SELECT symbol, rn, CAST(1 AS BIGINT) AS dir, qc AS ext, rn AS ext_rn,
         CAST(NULL AS BIGINT) AS piv_rn, CAST(NULL AS BIGINT) AS piv_dir,
         CAST(NULL AS BIGINT) AS piv_q
  FROM zzq WHERE rn = 1
  UNION ALL
  SELECT s.symbol, s.rn,
         CASE WHEN s.dir > 0 AND s.ext - s.qc >= s.thr THEN CAST(-1 AS BIGINT)
              WHEN s.dir < 0 AND s.qc - s.ext >= s.thr THEN CAST(1 AS BIGINT)
              ELSE s.dir END AS dir,
         CASE WHEN s.dir > 0 AND s.qc > s.ext THEN s.qc
              WHEN s.dir > 0 AND s.ext - s.qc >= s.thr THEN s.qc
              WHEN s.dir < 0 AND s.qc < s.ext THEN s.qc
              WHEN s.dir < 0 AND s.qc - s.ext >= s.thr THEN s.qc
              ELSE s.ext END AS ext,
         CASE WHEN (s.dir > 0 AND (s.qc > s.ext OR s.ext - s.qc >= s.thr))
                OR (s.dir < 0 AND (s.qc < s.ext OR s.qc - s.ext >= s.thr))
              THEN s.rn ELSE s.ext_rn END AS ext_rn,
         CASE WHEN s.dir > 0 AND s.ext - s.qc >= s.thr THEN s.ext_rn
              WHEN s.dir < 0 AND s.qc - s.ext >= s.thr THEN s.ext_rn END AS piv_rn,
         CASE WHEN s.dir > 0 AND s.ext - s.qc >= s.thr THEN CAST(1 AS BIGINT)
              WHEN s.dir < 0 AND s.qc - s.ext >= s.thr THEN CAST(-1 AS BIGINT)
              END AS piv_dir,
         CASE WHEN (s.dir > 0 AND s.ext - s.qc >= s.thr)
                OR (s.dir < 0 AND s.qc - s.ext >= s.thr) THEN s.ext END AS piv_q
  FROM (
    SELECT i.*, CAST(FLOOR(CAST(i.ext AS DOUBLE) * 0.03 + 0.5) AS BIGINT) AS thr
    FROM (
      SELECT b.symbol, b.rn, b.qc, e.dir, e.ext, e.ext_rn
      FROM zz_rec e JOIN zzq b ON b.symbol = e.symbol AND b.rn = e.rn + 1
    ) i
  ) s
)""",
    )
    + """
SELECT q.symbol, q.t, CAST(p.piv_dir AS INTEGER) AS pivot,
       ROUND(CAST(p.piv_q AS DOUBLE) / 1000000.0, 6) AS pivot_price
FROM (SELECT symbol, piv_rn, piv_dir, piv_q FROM zz_rec WHERE piv_rn IS NOT NULL) p
JOIN zzq q ON q.symbol = p.symbol AND q.rn = p.piv_rn
ORDER BY q.symbol, q.t
"""
)


def ind_zigzag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ZigZag confirmed swing pivots (3% reversal): +1 swing highs and −1
    swing lows, emitted at the extreme's bar — the classic pattern/wave
    skeleton. Integer state machine (operators/recurrence.zigzag), so the
    recursive twin is bit-identical by construction. Sparse output: only
    pivot bars."""
    b = bars(spark, sf_dir).where(F.col("close").isNotNull())
    out = with_recurrences(
        b.select("symbol", "t", "close"),
        [Rec(["zz_p", "zz_px"], "zigzag", ["close"], {"pct": 0.03})],
    )
    return (
        out.where(F.col("zz_p") != 0)
        .select(
            "symbol",
            "t",
            F.col("zz_p").cast("int").alias("pivot"),
            r6(F.col("zz_px")).alias("pivot_price"),
        )
        .orderBy("symbol", "t")
    )


QUERIES["ind_zigzag"] = ind_zigzag
ORACLES["ind_zigzag"] = ORACLES_ZIGZAG


ORACLES_SWING = (
    ORACLES_ZIGZAG.rsplit("SELECT q.symbol", 1)[0]
    + """
, piv AS (
  SELECT q.symbol, q.t, p.piv_dir AS pdir, p.piv_q AS pq
  FROM (SELECT symbol, piv_rn, piv_dir, piv_q FROM zz_rec WHERE piv_rn IS NOT NULL) p
  JOIN zzq q ON q.symbol = p.symbol AND q.rn = p.piv_rn
),
sw AS (
  SELECT symbol, pdir,
         CAST(FLOOR((CAST(pq AS DOUBLE) / LAG(CAST(pq AS DOUBLE))
                     OVER (PARTITION BY symbol ORDER BY t) - 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS qswing,
         t - LAG(t) OVER (PARTITION BY symbol ORDER BY t) AS dur
  FROM piv
)
SELECT symbol,
       CAST(COUNT(qswing) AS BIGINT) AS n_swings,
       ROUND(CAST(SUM(CASE WHEN qswing > 0 THEN qswing ELSE 0 END) AS DOUBLE)
             / 1000000.0 / NULLIF(SUM(CASE WHEN qswing > 0 THEN 1 ELSE 0 END), 0), 6)
         AS avg_up_swing,
       ROUND(CAST(SUM(CASE WHEN qswing < 0 THEN qswing ELSE 0 END) AS DOUBLE)
             / 1000000.0 / NULLIF(SUM(CASE WHEN qswing < 0 THEN 1 ELSE 0 END), 0), 6)
         AS avg_down_swing,
       ROUND(CAST(SUM(dur) AS DOUBLE) / COUNT(dur), 6) AS avg_duration_bars
FROM sw WHERE qswing IS NOT NULL
GROUP BY symbol
ORDER BY symbol
"""
)


def ind_swing_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Swing anatomy from the ZigZag skeleton: pivot-to-pivot amplitude
    (micro-quantized %) and duration per symbol, split into average
    up-swing and down-swing — the wave-size fingerprint behind reversal
    sizing. One recurrence pass + a lag over the sparse pivot frame."""
    piv = ind_zigzag(spark, sf_dir)
    w = _w()
    sw = piv.select(
        "symbol",
        F.floor(
            (F.col("pivot_price") / F.lag("pivot_price").over(w) - 1.0) * 1e6
            + F.lit(0.5)
        )
        .cast("long")
        .alias("qswing"),
        (F.col("t") - F.lag("t").over(w)).alias("dur"),
    ).where(F.col("qswing").isNotNull())
    up_n = F.sum(F.when(F.col("qswing") > 0, 1).otherwise(0))
    dn_n = F.sum(F.when(F.col("qswing") < 0, 1).otherwise(0))
    up_s = F.sum(F.when(F.col("qswing") > 0, F.col("qswing")).otherwise(0))
    dn_s = F.sum(F.when(F.col("qswing") < 0, F.col("qswing")).otherwise(0))
    return (
        sw.groupBy("symbol")
        .agg(
            F.count("qswing").cast("long").alias("n_swings"),
            r6(up_s.cast("double") / 1e6 / F.nullif(up_n, F.lit(0))).alias(
                "avg_up_swing"
            ),
            r6(dn_s.cast("double") / 1e6 / F.nullif(dn_n, F.lit(0))).alias(
                "avg_down_swing"
            ),
            r6(F.sum("dur").cast("double") / F.count("dur")).alias(
                "avg_duration_bars"
            ),
        )
        .orderBy("symbol")
    )


QUERIES["ind_swing_stats"] = ind_swing_stats
ORACLES["ind_swing_stats"] = ORACLES_SWING


@q(
    "rel_discount_elasticity",
    """
WITH de AS (
  SELECT CAST(FLOOR(l_discount * 100.0 + 0.5) AS BIGINT) AS disc_pct,
         CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS qty
  FROM lineitem
),
db AS (
  SELECT disc_pct, COUNT(*) AS n, SUM(qty) AS sq FROM de GROUP BY disc_pct
),
mo AS (
  SELECT COUNT(*) AS n, SUM(disc_pct) AS sx, SUM(qty) AS sy,
         SUM(CAST(disc_pct AS HUGEINT) * qty) AS sxy,
         SUM(CAST(disc_pct AS HUGEINT) * disc_pct) AS sxx
  FROM de
)
SELECT CAST(db.disc_pct AS INTEGER) AS discount_pct,
       CAST(db.n AS BIGINT) AS n_lines,
       ROUND(CAST(db.sq AS DOUBLE) / db.n, 6) AS avg_quantity,
       ROUND(CASE WHEN mo.n * mo.sxx - mo.sx * mo.sx > 0 THEN
         CAST(mo.n * mo.sxy - mo.sx * mo.sy AS DOUBLE)
         / CAST(mo.n * mo.sxx - mo.sx * mo.sx AS DOUBLE) END, 6) AS global_slope
FROM db CROSS JOIN mo
ORDER BY discount_pct
""",
)
def rel_discount_elasticity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Discount-quantity response curve: average order quantity per
    discount percentage point plus the global OLS slope (extra units per
    discount point) — the pricing-elasticity readout. All moments are
    exact integers (discount quantized to whole points, quantity to whole
    units); one scan feeds both the bucket curve and the regression."""
    from polars_quant_spark.sources.bars import load_table as _lt

    li = _lt(spark, sf_dir, "lineitem")
    de = li.select(
        F.floor(F.col("l_discount") * 100.0 + F.lit(0.5)).cast("long").alias("disc_pct"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("qty"),
    )
    db = de.groupBy("disc_pct").agg(
        F.count(F.lit(1)).alias("n"), F.sum("qty").alias("sq")
    )
    dec = "decimal(38,0)"
    mo = de.agg(
        F.count(F.lit(1)).alias("mn"),
        F.sum("disc_pct").alias("sx"),
        F.sum("qty").alias("sy"),
        F.sum(F.col("disc_pct").cast(dec) * F.col("qty")).alias("sxy"),
        F.sum(F.col("disc_pct").cast(dec) * F.col("disc_pct")).alias("sxx"),
    )
    n = F.col("mn").cast(dec)
    num = n * F.col("sxy") - F.col("sx").cast(dec) * F.col("sy")
    den = n * F.col("sxx") - F.col("sx").cast(dec) * F.col("sx")
    return (
        db.crossJoin(F.broadcast(mo))
        .select(
            F.col("disc_pct").cast("int").alias("discount_pct"),
            F.col("n").cast("long").alias("n_lines"),
            r6(F.col("sq").cast("double") / F.col("n")).alias("avg_quantity"),
            r6(
                F.when(den > 0, num.cast("double") / den.cast("double"))
            ).alias("global_slope"),
        )
        .orderBy("discount_pct")
    )


@q(
    "bars_runs_test",
    BARS_CTE
    + """,
rtd AS (
  SELECT symbol, t,
         CASE WHEN close > LAG(close) OVER o THEN 1
              WHEN close < LAG(close) OVER o THEN -1 END AS dir
  FROM bars
  WINDOW o AS (PARTITION BY symbol ORDER BY t)
),
rtf AS (
  SELECT symbol, t, dir,
         CASE WHEN dir != LAG(dir) OVER (PARTITION BY symbol ORDER BY t)
               OR LAG(dir) OVER (PARTITION BY symbol ORDER BY t) IS NULL
              THEN 1 ELSE 0 END AS new_run
  FROM rtd WHERE dir IS NOT NULL
),
rts AS (
  SELECT symbol,
         SUM(new_run) AS r,
         SUM(CASE WHEN dir = 1 THEN 1 ELSE 0 END) AS np,
         SUM(CASE WHEN dir = -1 THEN 1 ELSE 0 END) AS nm
  FROM rtf GROUP BY symbol
)
SELECT symbol, CAST(r AS BIGINT) AS n_runs,
       CAST(np AS BIGINT) AS n_up, CAST(nm AS BIGINT) AS n_down,
       ROUND(CASE WHEN np > 0 AND nm > 0 AND np + nm > 1 THEN
         (CAST(r AS DOUBLE) - (2.0 * np * nm / (np + nm) + 1.0))
         / sqrt(2.0 * np * nm * (2.0 * np * nm - np - nm)
                / ((CAST(np + nm AS DOUBLE)) * (np + nm) * (np + nm - 1.0)))
       END, 6) AS runs_z
FROM rts
ORDER BY symbol
""",
)
def bars_runs_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wald–Wolfowitz runs test per symbol: z-score of the observed number
    of up/down runs vs the random-walk expectation — negative z = too few
    runs (trending), positive = too many (mean-reverting). Counts are
    exact integers; the closed-form moments run in the identical IEEE
    order in both engines. One lag pass, one aggregate."""
    b = bars(spark, sf_dir)
    o = _w()
    dirc = (
        F.when(F.col("close") > F.lag("close").over(o), 1)
        .when(F.col("close") < F.lag("close").over(o), -1)
    )
    d = b.select("symbol", "t", dirc.alias("dir")).where(F.col("dir").isNotNull())
    new_run = F.when(
        (F.col("dir") != F.lag("dir").over(o)) | F.lag("dir").over(o).isNull(), 1
    ).otherwise(0)
    f = d.select("symbol", "dir", new_run.alias("new_run"))
    s = f.groupBy("symbol").agg(
        F.sum("new_run").alias("r"),
        F.sum(F.when(F.col("dir") == 1, 1).otherwise(0)).alias("np"),
        F.sum(F.when(F.col("dir") == -1, 1).otherwise(0)).alias("nm"),
    )
    npc = F.col("np")
    nmc = F.col("nm")
    mu = 2.0 * npc * nmc / (npc + nmc) + 1.0
    var = (
        2.0
        * npc
        * nmc
        * (2.0 * npc * nmc - npc - nmc)
        / ((npc + nmc).cast("double") * (npc + nmc) * (npc + nmc - 1.0))
    )
    z = F.when(
        (npc > 0) & (nmc > 0) & (npc + nmc > 1),
        (F.col("r").cast("double") - mu) / F.sqrt(var),
    )
    return s.select(
        "symbol",
        F.col("r").cast("long").alias("n_runs"),
        npc.cast("long").alias("n_up"),
        nmc.cast("long").alias("n_down"),
        r6(z).alias("runs_z"),
    ).orderBy("symbol")


@q(
    "rel_item_cf",
    """
WITH bi AS (
  SELECT DISTINCT l_orderkey AS ok, l_partkey AS pk FROM lineitem
),
isz AS (SELECT pk, COUNT(*) AS n FROM bi GROUP BY pk),
coo AS (
  SELECT a.pk AS pa, b.pk AS pb, COUNT(*) AS c
  FROM bi a JOIN bi b ON b.ok = a.ok AND b.pk != a.pk
  GROUP BY 1, 2
),
sim AS (
  SELECT c.pa, c.pb,
         ROUND(CAST(c.c AS DOUBLE) / sqrt(CAST(sa.n AS DOUBLE) * CAST(sb.n AS DOUBLE)), 6)
           AS cos_sim
  FROM coo c JOIN isz sa ON sa.pk = c.pa JOIN isz sb ON sb.pk = c.pb
),
rk AS (
  SELECT pa, pb, cos_sim,
         ROW_NUMBER() OVER (PARTITION BY pa ORDER BY cos_sim DESC, pb) AS r
  FROM sim
)
SELECT pa AS part_a, pb AS part_b, cos_sim, CAST(r AS INTEGER) AS rank
FROM rk WHERE r <= 3
ORDER BY part_a, rank
""",
)
def rel_item_cf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Item-item collaborative filtering: top-3 co-purchased parts per part
    by basket-cosine similarity c_ab/√(n_a·n_b) — the classic
    'customers also bought' primitive. The pair generation is a same-order
    self-join (bounded by basket size², never corpus²); counts stay exact
    integers and the cosine is one double expression. Ties break by part
    id, so the top-3 is total-order deterministic."""
    from polars_quant_spark.sources.bars import load_table as _lt

    li = _lt(spark, sf_dir, "lineitem")
    bi = li.select(
        F.col("l_orderkey").alias("ok"), F.col("l_partkey").alias("pk")
    ).distinct()
    isz = bi.groupBy("pk").agg(F.count(F.lit(1)).alias("n"))
    a = bi.select("ok", F.col("pk").alias("pa"))
    b = bi.select(F.col("ok").alias("ok2"), F.col("pk").alias("pb"))
    coo = (
        a.join(b, (F.col("ok") == F.col("ok2")) & (F.col("pa") != F.col("pb")))
        .groupBy("pa", "pb")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    sim = (
        coo.join(isz.select(F.col("pk").alias("pa"), F.col("n").alias("na")), "pa")
        .join(isz.select(F.col("pk").alias("pb"), F.col("n").alias("nb")), "pb")
        .select(
            "pa",
            "pb",
            r6(
                F.col("c").cast("double")
                / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double"))
            ).alias("cos_sim"),
        )
    )
    w = Window.partitionBy("pa").orderBy(F.col("cos_sim").desc(), F.col("pb"))
    return (
        sim.select("pa", "pb", "cos_sim", F.row_number().over(w).alias("r"))
        .where(F.col("r") <= 3)
        .select(
            F.col("pa").alias("part_a"),
            F.col("pb").alias("part_b"),
            "cos_sim",
            F.col("r").cast("int").alias("rank"),
        )
        .orderBy("part_a", "rank")
    )


@q(
    "bars_two_asset_frontier",
    BARS_CTE
    + """,
fpx AS (
  SELECT t,
         CAST(FLOOR(MAX(CASE WHEN symbol = 'click' THEN close END) * 1000000.0 + 0.5) AS BIGINT) AS qa,
         CAST(FLOOR(MAX(CASE WHEN symbol = 'view' THEN close END) * 1000000.0 + 0.5) AS BIGINT) AS qb
  FROM bars WHERE symbol IN ('click', 'view') GROUP BY t
  HAVING COUNT(DISTINCT symbol) = 2
),
fr AS (
  SELECT CAST(FLOOR((CAST(qa AS DOUBLE) / LAG(CAST(qa AS DOUBLE)) OVER (ORDER BY t) - 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS ra,
         CAST(FLOOR((CAST(qb AS DOUBLE) / LAG(CAST(qb AS DOUBLE)) OVER (ORDER BY t) - 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS rb
  FROM fpx
),
fm AS (
  SELECT COUNT(*) AS n, SUM(ra) AS sa, SUM(rb) AS sb,
         SUM(CAST(ra AS HUGEINT) * ra) AS saa,
         SUM(CAST(rb AS HUGEINT) * rb) AS sbb,
         SUM(CAST(ra AS HUGEINT) * rb) AS sab
  FROM fr WHERE ra IS NOT NULL AND rb IS NOT NULL
),
fv AS (
  SELECT n,
         CAST(sa AS DOUBLE) / n AS ma, CAST(sb AS DOUBLE) / n AS mb,
         CAST(saa AS DOUBLE) / n - (CAST(sa AS DOUBLE) / n) * (CAST(sa AS DOUBLE) / n) AS va,
         CAST(sbb AS DOUBLE) / n - (CAST(sb AS DOUBLE) / n) * (CAST(sb AS DOUBLE) / n) AS vb,
         CAST(sab AS DOUBLE) / n - (CAST(sa AS DOUBLE) / n) * (CAST(sb AS DOUBLE) / n) AS cab
  FROM fm
)
SELECT ROUND(CASE WHEN va + vb - 2.0 * cab > 0
             THEN (vb - cab) / (va + vb - 2.0 * cab) END, 6) AS w_minvar_a,
       ROUND(CASE WHEN va + vb - 2.0 * cab > 0 THEN
         ((vb - cab) / (va + vb - 2.0 * cab) * ma
          + (1.0 - (vb - cab) / (va + vb - 2.0 * cab)) * mb) / 1000000.0 END, 6)
         AS minvar_ret,
       ROUND(CASE WHEN va + vb - 2.0 * cab > 0 THEN
         sqrt(((vb - cab) / (va + vb - 2.0 * cab)) * ((vb - cab) / (va + vb - 2.0 * cab)) * va
              + (1.0 - (vb - cab) / (va + vb - 2.0 * cab))
                * (1.0 - (vb - cab) / (va + vb - 2.0 * cab)) * vb
              + 2.0 * ((vb - cab) / (va + vb - 2.0 * cab))
                * (1.0 - (vb - cab) / (va + vb - 2.0 * cab)) * cab)
         / 1000000.0 END, 6) AS minvar_vol,
       ROUND(CASE WHEN vb * ma - cab * mb + va * mb - cab * ma != 0 THEN
         (vb * ma - cab * mb) / (vb * ma - cab * mb + va * mb - cab * ma) END, 6)
         AS w_tangency_a
FROM fv
""",
)
def bars_two_asset_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-asset efficient frontier for (click, view): closed-form
    minimum-variance weight w* = (σ²_b − σ_ab)/(σ²_a + σ²_b − 2σ_ab), the
    min-var portfolio's return and volatility, and the tangency (max-
    Sharpe, zero rate) weight — Markowitz in exact integer moments. The
    aligned pair frame collapses to one moment row; everything after is
    scalar arithmetic mirrored literally."""
    b = bars(spark, sf_dir).where(F.col("symbol").isin("click", "view"))
    px = (
        b.groupBy("t")
        .agg(
            F.floor(
                F.max(F.when(F.col("symbol") == "click", F.col("close"))) * 1e6 + F.lit(0.5)
            ).cast("long").alias("qa"),
            F.floor(
                F.max(F.when(F.col("symbol") == "view", F.col("close"))) * 1e6 + F.lit(0.5)
            ).cast("long").alias("qb"),
            F.count_distinct("symbol").alias("_ns"),
        )
        .where(F.col("_ns") == 2)
    )
    wo = Window.orderBy("t")

    def qret(c):
        return F.floor(
            (F.col(c).cast("double") / F.lag(F.col(c).cast("double")).over(wo) - 1.0)
            * 1e6
            + F.lit(0.5)
        ).cast("long")

    r = px.select(qret("qa").alias("ra"), qret("qb").alias("rb")).where(
        F.col("ra").isNotNull() & F.col("rb").isNotNull()
    )
    dec = "decimal(38,0)"
    m = r.agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ra").alias("sa"),
        F.sum("rb").alias("sb"),
        F.sum(F.col("ra").cast(dec) * F.col("ra")).alias("saa"),
        F.sum(F.col("rb").cast(dec) * F.col("rb")).alias("sbb"),
        F.sum(F.col("ra").cast(dec) * F.col("rb")).alias("sab"),
    )
    n = F.col("n")
    ma = F.col("sa").cast("double") / n
    mb = F.col("sb").cast("double") / n
    va = F.col("saa").cast("double") / n - ma * ma
    vb = F.col("sbb").cast("double") / n - mb * mb
    cab = F.col("sab").cast("double") / n - ma * mb
    den = va + vb - 2.0 * cab
    w = (vb - cab) / den
    tden = vb * ma - cab * mb + va * mb - cab * ma
    return m.select(
        r6(F.when(den > 0, w)).alias("w_minvar_a"),
        r6(F.when(den > 0, (w * ma + (1.0 - w) * mb) / 1e6)).alias("minvar_ret"),
        r6(
            F.when(
                den > 0,
                F.sqrt(w * w * va + (1.0 - w) * (1.0 - w) * vb + 2.0 * w * (1.0 - w) * cab)
                / 1e6,
            )
        ).alias("minvar_vol"),
        r6(F.when(tden != 0, (vb * ma - cab * mb) / tden)).alias("w_tangency_a"),
    )


@q(
    "bars_ljung_box",
    BARS_CTE
    + """,
lbr AS (
  SELECT symbol, t,
         CAST(FLOOR((close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS qr
  FROM bars
),
lbl AS (
  SELECT symbol, qr,
         LAG(qr, 1) OVER o AS l1, LAG(qr, 2) OVER o AS l2,
         LAG(qr, 3) OVER o AS l3, LAG(qr, 4) OVER o AS l4,
         LAG(qr, 5) OVER o AS l5
  FROM lbr WHERE qr IS NOT NULL
  WINDOW o AS (PARTITION BY symbol ORDER BY t)
),
lbs AS (
  SELECT symbol, COUNT(*) AS n, SUM(qr) AS s1,
         SUM(CAST(qr AS HUGEINT) * qr) AS s2,
         SUM(CASE WHEN l1 IS NOT NULL THEN CAST(qr AS HUGEINT) * l1 END) AS p1,
         SUM(CASE WHEN l2 IS NOT NULL THEN CAST(qr AS HUGEINT) * l2 END) AS p2,
         SUM(CASE WHEN l3 IS NOT NULL THEN CAST(qr AS HUGEINT) * l3 END) AS p3,
         SUM(CASE WHEN l4 IS NOT NULL THEN CAST(qr AS HUGEINT) * l4 END) AS p4,
         SUM(CASE WHEN l5 IS NOT NULL THEN CAST(qr AS HUGEINT) * l5 END) AS p5
  FROM lbl GROUP BY symbol
)
SELECT symbol,
       ROUND(CAST(n AS DOUBLE) * (n + 2.0) * (
         ((CAST(p1 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
          / (CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
         * ((CAST(p1 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
          / (CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))) / (n - 1.0)
         + ((CAST(p2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
          / (CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
         * ((CAST(p2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
          / (CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))) / (n - 2.0)
         + ((CAST(p3 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
          / (CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
         * ((CAST(p3 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
          / (CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))) / (n - 3.0)
         + ((CAST(p4 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
          / (CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
         * ((CAST(p4 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
          / (CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))) / (n - 4.0)
         + ((CAST(p5 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
          / (CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n)))
         * ((CAST(p5 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
          / (CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))) / (n - 5.0)
       ), 6) AS lb_q5
FROM lbs
ORDER BY symbol
""",
)
def bars_ljung_box(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ljung–Box Q(5) per symbol: n(n+2)·Σ ρ̂²_k/(n−k) over lags 1–5 —
    the portmanteau 'is there ANY autocorrelation' test (χ²₅ under the
    random-walk null). Lag products are exact integer sums (one window
    pass provides all five lags); the ρ̂ estimates use the simplified
    common-mean/variance form, mirrored term-for-term in both engines."""
    b = bars(spark, sf_dir)
    o = _w()
    qr = F.floor(
        (F.col("close") / F.lag("close").over(o) - 1.0) * 1e6 + F.lit(0.5)
    ).cast("long")
    r = b.select("symbol", "t", qr.alias("qr")).where(F.col("qr").isNotNull())
    lags = r.select(
        "symbol",
        "qr",
        *[F.lag("qr", k).over(o).alias(f"l{k}") for k in range(1, 6)],
    )
    dec = "decimal(38,0)"
    aggs = [
        F.count(F.lit(1)).alias("n"),
        F.sum("qr").alias("s1"),
        F.sum(F.col("qr").cast(dec) * F.col("qr")).alias("s2"),
    ] + [
        F.sum(
            F.when(
                F.col(f"l{k}").isNotNull(), F.col("qr").cast(dec) * F.col(f"l{k}")
            )
        ).alias(f"p{k}")
        for k in range(1, 6)
    ]
    s = lags.groupBy("symbol").agg(*aggs)
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    var = F.col("s2").cast("double") / n - mu * mu

    def rho(k):
        return (F.col(f"p{k}").cast("double") / n - mu * mu) / var

    q = n.cast("double") * (n + 2.0) * sum(
        (rho(k) * rho(k) / (n - float(k)) for k in range(2, 6)),
        rho(1) * rho(1) / (n - 1.0),
    )
    return s.select("symbol", r6(q).alias("lb_q5")).orderBy("symbol")


@q(
    "bars_lead_lag",
    BARS_CTE
    + """,
llp AS (
  SELECT t,
         CAST(FLOOR((MAX(CASE WHEN symbol = 'click' THEN close END)
                     / LAG(MAX(CASE WHEN symbol = 'click' THEN close END)) OVER (ORDER BY t)
                     - 1.0) * 1000000.0 + 0.5) AS BIGINT) AS ra,
         CAST(FLOOR((MAX(CASE WHEN symbol = 'view' THEN close END)
                     / LAG(MAX(CASE WHEN symbol = 'view' THEN close END)) OVER (ORDER BY t)
                     - 1.0) * 1000000.0 + 0.5) AS BIGINT) AS rb
  FROM bars WHERE symbol IN ('click', 'view') GROUP BY t
  HAVING COUNT(DISTINCT symbol) = 2
),
lll AS (
  SELECT k.k AS lag,
         ra,
         CASE WHEN k.k >= 0 THEN LAG(rb, k.k) OVER (PARTITION BY k.k ORDER BY t)
              ELSE LEAD(rb, -k.k) OVER (PARTITION BY k.k ORDER BY t) END AS rbl
  FROM llp CROSS JOIN (SELECT unnest([-3, -2, -1, 0, 1, 2, 3]) AS k) k
  WHERE ra IS NOT NULL AND rb IS NOT NULL
),
lls AS (
  SELECT lag, COUNT(*) AS n, SUM(ra) AS sa, SUM(rbl) AS sb,
         SUM(CAST(ra AS HUGEINT) * rbl) AS sab,
         SUM(CAST(ra AS HUGEINT) * ra) AS saa,
         SUM(CAST(rbl AS HUGEINT) * rbl) AS sbb
  FROM lll WHERE rbl IS NOT NULL GROUP BY lag
)
SELECT CAST(lag AS INTEGER) AS lag,
       ROUND(CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
         CAST(n * sab - sa * sb AS DOUBLE)
         / sqrt(CAST(n * saa - sa * sa AS DOUBLE) * CAST(n * sbb - sb * sb AS DOUBLE))
       END, 6) AS xcorr
FROM lls
ORDER BY lag
""",
)
def bars_lead_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead–lag cross-correlogram of the (click, view) return pair at lags
    −3..+3: corr(ra_t, rb_{t−k}) — an asymmetric profile means one asset's
    moves anticipate the other's (the price-discovery / information-flow
    map). The 7-lag fan-out is a broadcast of the lag list against the
    day-aligned pair series; every moment is an exact integer."""
    b = bars(spark, sf_dir).where(F.col("symbol").isin("click", "view"))
    px = (
        b.groupBy("t")
        .agg(
            F.max(F.when(F.col("symbol") == "click", F.col("close"))).alias("ca"),
            F.max(F.when(F.col("symbol") == "view", F.col("close"))).alias("cb"),
            F.count_distinct("symbol").alias("_ns"),
        )
        .where(F.col("_ns") == 2)
    )
    wo = Window.orderBy("t")

    def qret(c):
        return F.floor(
            (F.col(c) / F.lag(c).over(wo) - 1.0) * 1e6 + F.lit(0.5)
        ).cast("long")

    r = px.select("t", qret("ca").alias("ra"), qret("cb").alias("rb")).where(
        F.col("ra").isNotNull() & F.col("rb").isNotNull()
    )
    ks = spark.range(-3, 4).select(F.col("id").cast("int").alias("lag"))
    ll = r.crossJoin(F.broadcast(ks))
    wk = Window.partitionBy("lag").orderBy("t")
    # lag()/lead() need literal offsets; expand the 7 cases explicitly
    cases = None
    for k in range(-3, 4):
        v = (
            F.lag("rb", k).over(wk)
            if k >= 0
            else F.lead("rb", -k).over(wk)
        )
        c = F.when(F.col("lag") == k, v)
        cases = c if cases is None else cases.when(F.col("lag") == k, v)
    lll = ll.select("lag", "ra", cases.alias("rbl")).where(F.col("rbl").isNotNull())
    dec = "decimal(38,0)"
    s = lll.groupBy("lag").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ra").alias("sa"),
        F.sum("rbl").alias("sb"),
        F.sum(F.col("ra").cast(dec) * F.col("rbl")).alias("sab"),
        F.sum(F.col("ra").cast(dec) * F.col("ra")).alias("saa"),
        F.sum(F.col("rbl").cast(dec) * F.col("rbl")).alias("sbb"),
    )
    n = F.col("n").cast(dec)
    dxy = n * F.col("sab") - F.col("sa").cast(dec) * F.col("sb")
    dxx = n * F.col("saa") - F.col("sa").cast(dec) * F.col("sa")
    dyy = n * F.col("sbb") - F.col("sb").cast(dec) * F.col("sb")
    xc = F.when(
        (dxx > 0) & (dyy > 0),
        dxy.cast("double") / F.sqrt(dxx.cast("double") * dyy.cast("double")),
    )
    return s.select(F.col("lag").cast("int").alias("lag"), r6(xc).alias("xcorr")).orderBy(
        "lag"
    )


@q(
    "bars_kyle_lambda",
    BARS_CTE
    + """,
kl AS (
  SELECT symbol,
         CAST(FLOOR((close - LAG(close) OVER o) * 100.0 + 0.5) AS BIGINT) AS dp,
         CAST(FLOOR(volume + 0.5) AS BIGINT)
           * CASE WHEN close > LAG(close) OVER o THEN 1
                  WHEN close < LAG(close) OVER o THEN -1 ELSE 0 END AS sv
  FROM bars
  WINDOW o AS (PARTITION BY symbol ORDER BY t)
),
km AS (
  SELECT symbol, COUNT(*) AS n, SUM(dp) AS sp, SUM(sv) AS ss,
         SUM(CAST(dp AS HUGEINT) * sv) AS sps,
         SUM(CAST(sv AS HUGEINT) * sv) AS sss
  FROM kl WHERE dp IS NOT NULL GROUP BY symbol
)
SELECT symbol,
       ROUND(CASE WHEN n * sss - ss * ss > 0 THEN
         CAST(n * sps - sp * ss AS DOUBLE) / CAST(n * sss - ss * ss AS DOUBLE)
         * 10000.0 END, 6) AS kyle_lambda_bp_per_unit
FROM km
ORDER BY symbol
""",
)
def bars_kyle_lambda(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kyle's λ per symbol: the OLS slope of price change on signed volume
    (tick-rule signed) — price impact per unit of net order flow, the
    microstructure liquidity cost the Amihud ratio approximates. Price
    changes in exact cents, volumes in whole units; the n·Sxy − Sx·Sy
    form keeps every moment integer. Scaled to basis-point-cents per
    volume unit for readability."""
    b = bars(spark, sf_dir)
    o = _w()
    dp = F.floor((F.col("close") - F.lag("close").over(o)) * 100.0 + F.lit(0.5)).cast(
        "long"
    )
    sgn = (
        F.when(F.col("close") > F.lag("close").over(o), 1)
        .when(F.col("close") < F.lag("close").over(o), -1)
        .otherwise(0)
    )
    sv = F.floor(F.col("volume") + F.lit(0.5)).cast("long") * sgn
    kl = b.select("symbol", dp.alias("dp"), sv.alias("sv")).where(
        F.col("dp").isNotNull()
    )
    dec = "decimal(38,0)"
    km = kl.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dp").alias("sp"),
        F.sum("sv").alias("ss"),
        F.sum(F.col("dp").cast(dec) * F.col("sv")).alias("sps"),
        F.sum(F.col("sv").cast(dec) * F.col("sv")).alias("sss"),
    )
    n = F.col("n").cast(dec)
    num = n * F.col("sps") - F.col("sp").cast(dec) * F.col("ss")
    den = n * F.col("sss") - F.col("ss").cast(dec) * F.col("ss")
    lam = F.when(den > 0, num.cast("double") / den.cast("double") * 10000.0)
    return km.select("symbol", r6(lam).alias("kyle_lambda_bp_per_unit")).orderBy(
        "symbol"
    )


@q(
    "bt_sharpe_inference",
    BARS_CTE
    + """,
sir AS (
  SELECT symbol,
         CAST(FLOOR((close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS qr
  FROM bars
),
sis AS (
  SELECT symbol, COUNT(*) AS n, SUM(qr) AS s1,
         SUM(CAST(qr AS HUGEINT) * qr) AS s2,
         SUM(CAST(qr AS HUGEINT) * qr * qr) AS s3,
         SUM(CAST(qr AS HUGEINT) * qr * qr * qr) AS s4
  FROM sir WHERE qr IS NOT NULL GROUP BY symbol
),
sim2 AS (
  SELECT symbol, n,
         CAST(s1 AS DOUBLE) / n AS m1, CAST(s2 AS DOUBLE) / n AS e2,
         CAST(s3 AS DOUBLE) / n AS e3, CAST(s4 AS DOUBLE) / n AS e4
  FROM sis
),
sim3 AS (
  SELECT symbol, n, m1,
         e2 - m1 * m1 AS m2,
         e3 - 3.0 * m1 * e2 + 2.0 * m1 * m1 * m1 AS m3,
         e4 - 4.0 * m1 * e3 + 6.0 * m1 * m1 * e2 - 3.0 * m1 * m1 * m1 * m1 AS m4
  FROM sim2
),
sim4 AS (
  SELECT symbol, n,
         CASE WHEN m2 > 0 THEN m1 / sqrt(m2) END AS sr,
         CASE WHEN m2 > 0 THEN m3 / (m2 * sqrt(m2)) END AS g3,
         CASE WHEN m2 > 0 THEN m4 / (m2 * m2) END AS g4
  FROM sim3
)
SELECT symbol,
       ROUND(sr, 6) AS sharpe_per_bar,
       ROUND(CASE WHEN n > 1 AND 1.0 - g3 * sr + (g4 - 1.0) / 4.0 * sr * sr > 0 THEN
         sr / sqrt((1.0 - g3 * sr + (g4 - 1.0) / 4.0 * sr * sr) / (n - 1.0)) END, 6)
         AS psr_z
FROM sim4
ORDER BY symbol
""",
)
def bt_sharpe_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Probabilistic-Sharpe inference per symbol: the per-bar Sharpe and
    its non-normality-adjusted z-score (Lo/Bailey–López de Prado standard
    error using skew γ₃ and kurtosis γ₄ — fat tails and asymmetry widen
    the error bars that a naive √n test ignores). Same exact integer power
    sums as bars_moment_stats; the inference tail is mirrored literally."""
    b = bars(spark, sf_dir)
    o = _w()
    qr = (
        F.floor((F.col("close") / F.lag("close").over(o) - 1.0) * 1e6 + F.lit(0.5))
        .cast("long")
        .cast("decimal(38,0)")
    )
    r = b.select("symbol", qr.alias("qr")).where(F.col("qr").isNotNull())
    s = r.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qr").alias("s1"),
        F.sum(F.col("qr") * F.col("qr")).alias("s2"),
        F.sum(F.col("qr") * F.col("qr") * F.col("qr")).alias("s3"),
        F.sum(F.col("qr") * F.col("qr") * F.col("qr") * F.col("qr")).alias("s4"),
    )
    n = F.col("n")
    m1 = F.col("s1").cast("double") / n
    e2 = F.col("s2").cast("double") / n
    e3 = F.col("s3").cast("double") / n
    e4 = F.col("s4").cast("double") / n
    m2 = e2 - m1 * m1
    m3 = e3 - 3.0 * m1 * e2 + 2.0 * m1 * m1 * m1
    m4 = e4 - 4.0 * m1 * e3 + 6.0 * m1 * m1 * e2 - 3.0 * m1 * m1 * m1 * m1
    sr = F.when(m2 > 0, m1 / F.sqrt(m2))
    g3 = F.when(m2 > 0, m3 / (m2 * F.sqrt(m2)))
    g4 = F.when(m2 > 0, m4 / (m2 * m2))
    adj = 1.0 - g3 * sr + (g4 - 1.0) / 4.0 * sr * sr
    z = F.when((n > 1) & (adj > 0), sr / F.sqrt(adj / (n - 1.0)))
    return s.select(
        "symbol", r6(sr).alias("sharpe_per_bar"), r6(z).alias("psr_z")
    ).orderBy("symbol")


@q(
    "ind_linreg_channel",
    BARS_CTE
    + """,
lrc AS (
  SELECT symbol, t,
         CAST(FLOOR(close * 100.0 + 0.5) AS BIGINT) AS qc,
         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY t) AS rn
  FROM bars
),
lrm AS (
  SELECT symbol, t, qc, rn,
         COUNT(*) OVER w AS n,
         SUM(rn) OVER w AS sx,
         SUM(qc) OVER w AS sy,
         SUM(CAST(rn AS HUGEINT) * qc) OVER w AS sxy,
         SUM(CAST(rn AS HUGEINT) * rn) OVER w AS sxx,
         SUM(CAST(qc AS HUGEINT) * qc) OVER w AS syy
  FROM lrc
  WINDOW w AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 59 PRECEDING AND CURRENT ROW)
)
SELECT symbol, t,
       ROUND(CASE WHEN n = 60 AND n * sxx - sx * sx != 0 THEN
         CAST(n * sxy - sx * sy AS DOUBLE) / CAST(n * sxx - sx * sx AS DOUBLE) / 100.0
       END, 6) AS lr_slope_60,
       ROUND(CASE WHEN n = 60 AND n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         (CAST(n * sxy - sx * sy AS DOUBLE) * CAST(n * sxy - sx * sy AS DOUBLE))
         / (CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
       END, 6) AS lr_r2_60
FROM lrm
ORDER BY symbol, t
""",
)
def ind_linreg_channel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 60-bar linear-regression channel: price-on-time slope
    (price units per bar) and R² — the trend-strength pair behind
    regression-channel overlays (R² near 1 = clean trend; slope sign =
    direction). Prices in exact cents, bar index as regressor; all six
    window moments are integer sums in one pass."""
    b = bars(spark, sf_dir)
    o = _w()
    lrc = b.select(
        "symbol",
        "t",
        F.floor(F.col("close") * 100.0 + F.lit(0.5)).cast("long").alias("qc"),
        F.row_number().over(o).alias("rn"),
    )
    w = _w().rowsBetween(-59, 0)
    dec = "decimal(38,0)"
    m = lrc.select(
        "symbol",
        "t",
        F.count(F.lit(1)).over(w).alias("n"),
        F.sum("rn").over(w).alias("sx"),
        F.sum("qc").over(w).alias("sy"),
        F.sum(F.col("rn").cast(dec) * F.col("qc")).over(w).alias("sxy"),
        F.sum(F.col("rn").cast(dec) * F.col("rn")).over(w).alias("sxx"),
        F.sum(F.col("qc").cast(dec) * F.col("qc")).over(w).alias("syy"),
    )
    n = F.col("n").cast(dec)
    dxy = n * F.col("sxy") - F.col("sx").cast(dec) * F.col("sy")
    dxx = n * F.col("sxx") - F.col("sx").cast(dec) * F.col("sx")
    dyy = n * F.col("syy") - F.col("sy").cast(dec) * F.col("sy")
    slope = F.when(
        (F.col("n") == 60) & (dxx != 0),
        dxy.cast("double") / dxx.cast("double") / 100.0,
    )
    r2 = F.when(
        (F.col("n") == 60) & (dxx > 0) & (dyy > 0),
        (dxy.cast("double") * dxy.cast("double"))
        / (dxx.cast("double") * dyy.cast("double")),
    )
    return m.select(
        "symbol", "t", r6(slope).alias("lr_slope_60"), r6(r2).alias("lr_r2_60")
    ).orderBy("symbol", "t")


@q(
    "bars_corr_matrix",
    BARS_CTE
    + """,
cmr AS (
  SELECT symbol, t,
         CAST(FLOOR((close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS qr
  FROM bars
),
cmj AS (
  SELECT a.symbol AS sym_a, b.symbol AS sym_b, a.qr AS ra, b.qr AS rb
  FROM cmr a JOIN cmr b ON b.t = a.t AND b.symbol > a.symbol
  WHERE a.qr IS NOT NULL AND b.qr IS NOT NULL
),
cms AS (
  SELECT sym_a, sym_b, COUNT(*) AS n, SUM(ra) AS sa, SUM(rb) AS sb,
         SUM(CAST(ra AS HUGEINT) * rb) AS sab,
         SUM(CAST(ra AS HUGEINT) * ra) AS saa,
         SUM(CAST(rb AS HUGEINT) * rb) AS sbb
  FROM cmj GROUP BY sym_a, sym_b
)
SELECT sym_a, sym_b, CAST(n AS BIGINT) AS n_obs,
       ROUND(CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
         CAST(n * sab - sa * sb AS DOUBLE)
         / sqrt(CAST(n * saa - sa * sa AS DOUBLE) * CAST(n * sbb - sb * sb AS DOUBLE))
       END, 6) AS corr
FROM cms
ORDER BY sym_a, sym_b
""",
)
def bars_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full-universe return correlation matrix (upper triangle): every
    symbol pair's Pearson correlation from exact integer moments — the
    input to risk models and clustering. The pair join is time-aligned
    (same t) and bounded by universe width per timestamp, not corpus
    size; at scale it hash-partitions on t. The diagonal is omitted
    (trivially 1)."""
    b = bars(spark, sf_dir)
    o = _w()
    qr = F.floor(
        (F.col("close") / F.lag("close").over(o) - 1.0) * 1e6 + F.lit(0.5)
    ).cast("long")
    r = b.select("symbol", "t", qr.alias("qr")).where(F.col("qr").isNotNull())
    a = r.select(F.col("symbol").alias("sym_a"), "t", F.col("qr").alias("ra"))
    bb = r.select(
        F.col("symbol").alias("sym_b"), F.col("t").alias("t2"), F.col("qr").alias("rb")
    )
    j = a.join(bb, (F.col("t2") == F.col("t")) & (F.col("sym_b") > F.col("sym_a")))
    dec = "decimal(38,0)"
    s = j.groupBy("sym_a", "sym_b").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ra").alias("sa"),
        F.sum("rb").alias("sb"),
        F.sum(F.col("ra").cast(dec) * F.col("rb")).alias("sab"),
        F.sum(F.col("ra").cast(dec) * F.col("ra")).alias("saa"),
        F.sum(F.col("rb").cast(dec) * F.col("rb")).alias("sbb"),
    )
    n = F.col("n").cast(dec)
    dxy = n * F.col("sab") - F.col("sa").cast(dec) * F.col("sb")
    dxx = n * F.col("saa") - F.col("sa").cast(dec) * F.col("sa")
    dyy = n * F.col("sbb") - F.col("sb").cast(dec) * F.col("sb")
    corr = F.when(
        (dxx > 0) & (dyy > 0),
        dxy.cast("double") / F.sqrt(dxx.cast("double") * dyy.cast("double")),
    )
    return s.select(
        "sym_a", "sym_b", F.col("n").cast("long").alias("n_obs"), r6(corr).alias("corr")
    ).orderBy("sym_a", "sym_b")


@q(
    "bars_volume_bars",
    BARS_CTE
    + """,
vbc AS (
  SELECT symbol, t, close, high, low, volume,
         CAST(FLOOR(volume + 0.5) AS BIGINT) AS qv
  FROM bars
),
vbs AS (
  SELECT symbol, t, close, high, low, qv,
         SUM(qv) OVER (PARTITION BY symbol ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumv
  FROM vbc
),
vbi AS (
  SELECT symbol, t, close, high, low, qv, cumv,
         (cumv - 1) // 50000 AS bar_id
  FROM vbs
)
SELECT symbol, CAST(bar_id AS BIGINT) AS bar_id,
       CAST(COUNT(*) AS BIGINT) AS n_ticks,
       ROUND(arg_min(close, t), 6) AS open,
       ROUND(MAX(high), 6) AS high,
       ROUND(MIN(low), 6) AS low,
       ROUND(arg_max(close, t), 6) AS close,
       CAST(SUM(qv) AS BIGINT) AS volume,
       ROUND(CAST(SUM(CAST(FLOOR(close * 1000000.0 + 0.5) AS BIGINT) * CAST(qv AS HUGEINT))
                  AS DOUBLE) / 1000000.0 / SUM(qv), 6) AS vwap
FROM vbi
GROUP BY symbol, bar_id
ORDER BY symbol, bar_id
""",
)
def bars_volume_bars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume-clock bars: resample each symbol by CUMULATIVE VOLUME
    (50k-unit buckets) instead of wall time — the information-driven
    sampling that normalizes activity bursts (busy periods get more bars).
    The bucket id is an exact integer cumsum div; OHLC come from
    arg_min/arg_max by time and VWAP from integer price×volume sums. One
    window pass + one aggregate per symbol."""
    b = bars(spark, sf_dir)
    qv = F.floor(F.col("volume") + F.lit(0.5)).cast("long")
    wc = _w().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vbs = b.select(
        "symbol", "t", "close", "high", "low", qv.alias("qv")
    ).select(
        "symbol", "t", "close", "high", "low", "qv",
        F.sum("qv").over(wc).alias("cumv"),
    )
    vbi = vbs.select(
        "symbol", "t", "close", "high", "low", "qv",
        F.expr("(cumv - 1) DIV 50000").alias("bar_id"),
    )
    qp = F.floor(F.col("close") * 1e6 + F.lit(0.5)).cast("long")
    return (
        vbi.groupBy("symbol", "bar_id")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_ticks"),
            r6(F.min_by("close", "t")).alias("open"),
            r6(F.max("high")).alias("high"),
            r6(F.min("low")).alias("low"),
            r6(F.max_by("close", "t")).alias("close"),
            F.sum("qv").cast("long").alias("volume"),
            r6(
                F.sum(qp * F.col("qv").cast("decimal(38,0)")).cast("double")
                / 1e6
                / F.sum("qv")
            ).alias("vwap"),
        )
        .orderBy("symbol", "bar_id")
    )


@q(
    "bars_roll_spread",
    BARS_CTE
    + """,
rsd AS (
  SELECT symbol, t,
         CAST(FLOOR(close * 100.0 + 0.5) AS BIGINT)
           - LAG(CAST(FLOOR(close * 100.0 + 0.5) AS BIGINT))
             OVER (PARTITION BY symbol ORDER BY t) AS dp
  FROM bars
),
rsl AS (
  SELECT symbol, dp,
         LAG(dp) OVER (PARTITION BY symbol ORDER BY t) AS dpl
  FROM rsd WHERE dp IS NOT NULL
),
rss AS (
  SELECT symbol, COUNT(*) AS n, SUM(dp) AS s1, SUM(dpl) AS s2,
         SUM(CAST(dp AS HUGEINT) * dpl) AS s12
  FROM rsl WHERE dpl IS NOT NULL GROUP BY symbol
)
SELECT symbol,
       ROUND((CAST(s12 AS DOUBLE) / n
              - (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n)) / 10000.0, 6)
         AS serial_cov,
       ROUND(CASE WHEN CAST(s12 AS DOUBLE) / n
                       - (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n) < 0 THEN
         2.0 * sqrt(-(CAST(s12 AS DOUBLE) / n
                      - (CAST(s1 AS DOUBLE) / n) * (CAST(s2 AS DOUBLE) / n))) / 100.0
       END, 6) AS roll_spread
FROM rss
ORDER BY symbol
""",
)
def bars_roll_spread(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Roll's implied bid–ask spread per symbol: 2√(−cov(Δpₜ, Δpₜ₋₁)) —
    bounce between bid and ask induces negative serial covariance in price
    changes, and its magnitude IS the spread (NULL when the covariance is
    positive, i.e. no bounce signal). Price changes in exact cents; one
    window pass, one aggregate."""
    b = bars(spark, sf_dir)
    o = _w()
    qc = F.floor(F.col("close") * 100.0 + F.lit(0.5)).cast("long")
    dp = (qc - F.lag(qc).over(o)).alias("dp")
    rsd = b.select("symbol", "t", dp).where(F.col("dp").isNotNull())
    rsl = rsd.select(
        "symbol", "dp", F.lag("dp").over(o).alias("dpl")
    ).where(F.col("dpl").isNotNull())
    dec = "decimal(38,0)"
    s = rsl.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("dp").alias("s1"),
        F.sum("dpl").alias("s2"),
        F.sum(F.col("dp").cast(dec) * F.col("dpl")).alias("s12"),
    )
    n = F.col("n")
    cov = F.col("s12").cast("double") / n - (F.col("s1").cast("double") / n) * (
        F.col("s2").cast("double") / n
    )
    return s.select(
        "symbol",
        r6(cov / 10000.0).alias("serial_cov"),
        r6(F.when(cov < 0, 2.0 * F.sqrt(-cov) / 100.0)).alias("roll_spread"),
    ).orderBy("symbol")


@q(
    "events_hill_tail",
    """
WITH hu AS (
  SELECT user_id, COUNT(*) AS activity FROM events GROUP BY user_id
),
hrk AS (
  SELECT activity,
         ROW_NUMBER() OVER (ORDER BY activity DESC, user_id) AS r,
         COUNT(*) OVER () AS n
  FROM hu
),
hk AS (
  SELECT GREATEST(CAST(MAX(n) * 0.1 AS BIGINT), 5) AS k FROM hrk
),
htop AS (
  SELECT r, activity FROM hrk WHERE r <= (SELECT k FROM hk) + 1
),
hxk AS (
  SELECT activity AS xk FROM htop WHERE r = (SELECT k FROM hk) + 1
),
hsum AS (
  SELECT SUM(CAST(FLOOR(ln(CAST(t.activity AS DOUBLE) / (SELECT xk FROM hxk))
                        * 1000000000.0 + 0.5) AS BIGINT)) AS qs,
         COUNT(*) AS kk
  FROM htop t WHERE t.r <= (SELECT k FROM hk)
)
SELECT CAST(kk AS BIGINT) AS k_top,
       CAST((SELECT xk FROM hxk) AS BIGINT) AS threshold_activity,
       ROUND(CASE WHEN qs > 0 THEN
         CAST(kk AS DOUBLE) / (CAST(qs AS DOUBLE) / 1000000000.0) END, 6)
         AS hill_alpha
FROM hsum
""",
)
def events_hill_tail(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hill tail-index of the user-activity distribution (top 10% order
    statistics): α̂ = k / Σ ln(xᵢ/x₍ₖ₊₁₎) — small α = heavy Zipf tail
    (a few power users dominate; sampling and quota designs must account
    for it). Per-user activity collapses first; the log terms
    nano-quantize before the sum. The heavy-tail twin of the Gini
    concentration report."""
    from polars_quant_spark.sources.bars import load_table

    ev = load_table(spark, sf_dir, "events")
    hu = ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("activity"))
    wr = Window.orderBy(F.col("activity").desc(), F.col("user_id"))
    wall = Window.partitionBy()
    hrk = hu.select(
        "activity",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    hk = hrk.agg(
        F.greatest((F.max("n") * 0.1).cast("long"), F.lit(5).cast("long")).alias("k")
    )
    htop = hrk.crossJoin(F.broadcast(hk)).where(F.col("r") <= F.col("k") + 1)
    hxk = htop.where(F.col("r") == F.col("k") + 1).select(
        F.col("activity").alias("xk")
    )
    hs = (
        htop.where(F.col("r") <= F.col("k"))
        .crossJoin(F.broadcast(hxk))
        .agg(
            F.sum(
                F.floor(
                    F.log(F.col("activity").cast("double") / F.col("xk")) * 1e9
                    + F.lit(0.5)
                ).cast("long")
            ).alias("qs"),
            F.count(F.lit(1)).alias("kk"),
        )
    )
    return hs.crossJoin(F.broadcast(hxk)).select(
        F.col("kk").cast("long").alias("k_top"),
        F.col("xk").cast("long").alias("threshold_activity"),
        r6(
            F.when(
                F.col("qs") > 0, F.col("kk").cast("double") / (F.col("qs").cast("double") / 1e9)
            )
        ).alias("hill_alpha"),
    )


@q(
    "ind_parkinson_20",
    BARS_CTE
    + f""",
pkt AS (
  SELECT symbol, t,
         CAST(FLOOR(ln(high / low) * ln(high / low) * 1000000000000.0 + 0.5)
              AS BIGINT) AS qp
  FROM bars WHERE high > 0 AND low > 0
)
SELECT symbol, t,
       ROUND(CASE WHEN COUNT(qp) OVER w = 20 THEN
         sqrt(CAST(SUM(qp) OVER w AS DOUBLE) / 20.0 / 1000000000000.0
              / (4.0 * {_LN2})) END, 6) AS parkinson_20
FROM pkt
WINDOW w AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 19 PRECEDING AND CURRENT ROW)
""",
)
def ind_parkinson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 20-bar Parkinson volatility as an indicator column — the
    range-based sibling of the close-to-close rolling σ, ~5× more
    efficient per observation. Same pico-quantized log-range terms as the
    full-sample estimator, windowed."""
    b = bars(spark, sf_dir).where((F.col("high") > 0) & (F.col("low") > 0))
    lhl = F.log(F.col("high") / F.col("low"))
    qp = F.floor(lhl * lhl * 1e12 + F.lit(0.5)).cast("long")
    src = b.select("symbol", "t", qp.alias("qp"))
    w = _w().rowsBetween(-19, 0)
    pk = F.when(
        F.count("qp").over(w) == 20,
        F.sqrt(F.sum("qp").over(w).cast("double") / 20.0 / 1e12 / (4.0 * _LN2)),
    )
    return src.select("symbol", "t", r6(pk).alias("parkinson_20"))


@q(
    "ind_breakout_efficacy",
    BARS_CTE
    + """,
bke AS (
  SELECT symbol, t, close,
         CASE WHEN COUNT(high) OVER wp = 20
               AND high > MAX(high) OVER wp THEN 1 ELSE 0 END AS brk,
         CAST(FLOOR((LEAD(close, 5) OVER o / close - 1.0) * 1000000.0 + 0.5) AS BIGINT)
           AS fwd5
  FROM bars
  WINDOW wp AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 20 PRECEDING AND 1 PRECEDING),
         o AS (PARTITION BY symbol ORDER BY t)
)
SELECT symbol,
       CAST(SUM(brk) AS BIGINT) AS n_breakouts,
       ROUND(CAST(SUM(CASE WHEN brk = 1 THEN fwd5 ELSE 0 END) AS DOUBLE)
             / 1000000.0 / NULLIF(SUM(CASE WHEN brk = 1 THEN 1 ELSE 0 END), 0), 6)
         AS avg_fwd5_after_break,
       ROUND(CAST(SUM(CASE WHEN brk = 0 THEN fwd5 ELSE 0 END) AS DOUBLE)
             / 1000000.0 / NULLIF(SUM(CASE WHEN brk = 0 THEN 1 ELSE 0 END), 0), 6)
         AS avg_fwd5_baseline,
       ROUND(CAST(SUM(CASE WHEN brk = 1 AND fwd5 > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / NULLIF(SUM(CASE WHEN brk = 1 THEN 1 ELSE 0 END), 0), 6)
         AS win_rate_after_break
FROM bke WHERE fwd5 IS NOT NULL
GROUP BY symbol
ORDER BY symbol
""",
)
def ind_breakout_efficacy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Donchian-breakout efficacy: average forward 5-bar return and win
    rate after a close above the prior 20-bar high, vs the unconditional
    baseline — does the breakout actually carry? (The signal-validation
    twin of cdl_efficacy, for channel breaks.) One window pass, exact
    micro forward returns."""
    b = bars(spark, sf_dir)
    o = _w()
    wp = _w().rowsBetween(-20, -1)
    brk = F.when(
        (F.count("high").over(wp) == 20) & (F.col("high") > F.max("high").over(wp)), 1
    ).otherwise(0)
    fwd5 = F.floor(
        (F.lead("close", 5).over(o) / F.col("close") - 1.0) * 1e6 + F.lit(0.5)
    ).cast("long")
    e = b.select("symbol", brk.alias("brk"), fwd5.alias("fwd5")).where(
        F.col("fwd5").isNotNull()
    )
    nb = F.sum(F.when(F.col("brk") == 1, 1).otherwise(0))
    n0 = F.sum(F.when(F.col("brk") == 0, 1).otherwise(0))
    sb = F.sum(F.when(F.col("brk") == 1, F.col("fwd5")).otherwise(0))
    s0 = F.sum(F.when(F.col("brk") == 0, F.col("fwd5")).otherwise(0))
    wins = F.sum(F.when((F.col("brk") == 1) & (F.col("fwd5") > 0), 1).otherwise(0))
    return (
        e.groupBy("symbol")
        .agg(
            nb.cast("long").alias("n_breakouts"),
            r6(sb.cast("double") / 1e6 / F.nullif(nb, F.lit(0))).alias(
                "avg_fwd5_after_break"
            ),
            r6(s0.cast("double") / 1e6 / F.nullif(n0, F.lit(0))).alias(
                "avg_fwd5_baseline"
            ),
            r6(wins.cast("double") / F.nullif(nb, F.lit(0))).alias(
                "win_rate_after_break"
            ),
        )
        .orderBy("symbol")
    )


@q(
    "bars_gap_fill",
    BARS_CTE
    + """,
gfd AS (
  SELECT symbol, t, open, high, low,
         LAG(close) OVER (PARTITION BY symbol ORDER BY t) AS pc
  FROM bars
),
gfl AS (
  SELECT symbol,
         CASE WHEN open > pc THEN 1 WHEN open < pc THEN -1 ELSE 0 END AS gap_dir,
         CASE WHEN open > pc AND low <= pc THEN 1
              WHEN open < pc AND high >= pc THEN 1 ELSE 0 END AS filled
  FROM gfd WHERE pc IS NOT NULL
)
SELECT symbol,
       CAST(SUM(CASE WHEN gap_dir = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps_up,
       ROUND(CAST(SUM(CASE WHEN gap_dir = 1 THEN filled ELSE 0 END) AS DOUBLE)
             / NULLIF(SUM(CASE WHEN gap_dir = 1 THEN 1 ELSE 0 END), 0), 6)
         AS fill_rate_up,
       CAST(SUM(CASE WHEN gap_dir = -1 THEN 1 ELSE 0 END) AS BIGINT) AS n_gaps_down,
       ROUND(CAST(SUM(CASE WHEN gap_dir = -1 THEN filled ELSE 0 END) AS DOUBLE)
             / NULLIF(SUM(CASE WHEN gap_dir = -1 THEN 1 ELSE 0 END), 0), 6)
         AS fill_rate_down
FROM gfl
GROUP BY symbol
ORDER BY symbol
""",
)
def bars_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill statistics per symbol: how often an open gap (open above/
    below the prior close) trades back to the prior close within the same
    bar — the fade-the-gap base rate. Pure lag + conditional counts, one
    window pass."""
    b = bars(spark, sf_dir)
    o = _w()
    pc = F.lag("close").over(o)
    d = b.select(
        "symbol",
        F.when(F.col("open") > pc, 1).when(F.col("open") < pc, -1).otherwise(0).alias("gap_dir"),
        F.when((F.col("open") > pc) & (F.col("low") <= pc), 1)
        .when((F.col("open") < pc) & (F.col("high") >= pc), 1)
        .otherwise(0)
        .alias("filled"),
        pc.alias("pc"),
    ).where(F.col("pc").isNotNull())
    up = F.sum(F.when(F.col("gap_dir") == 1, 1).otherwise(0))
    upf = F.sum(F.when(F.col("gap_dir") == 1, F.col("filled")).otherwise(0))
    dn = F.sum(F.when(F.col("gap_dir") == -1, 1).otherwise(0))
    dnf = F.sum(F.when(F.col("gap_dir") == -1, F.col("filled")).otherwise(0))
    return (
        d.groupBy("symbol")
        .agg(
            up.cast("long").alias("n_gaps_up"),
            r6(upf.cast("double") / F.nullif(up, F.lit(0))).alias("fill_rate_up"),
            dn.cast("long").alias("n_gaps_down"),
            r6(dnf.cast("double") / F.nullif(dn, F.lit(0))).alias("fill_rate_down"),
        )
        .orderBy("symbol")
    )


@q(
    "bars_weekday_effect",
    BARS_CTE
    + """,
wde AS (
  SELECT symbol, ts_us // 86400000000 AS day,
         arg_max(close, ts_us) AS c
  FROM bars GROUP BY 1, 2
),
wdr AS (
  SELECT CAST((day + 4) % 7 AS INTEGER) AS dow,
         CAST(FLOOR((c / LAG(c) OVER (PARTITION BY symbol ORDER BY day) - 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS qr
  FROM wde
)
SELECT dow AS weekday,
       CAST(COUNT(qr) AS BIGINT) AS n_obs,
       ROUND(CAST(SUM(qr) AS DOUBLE) / 1000000.0 / COUNT(qr), 6) AS avg_daily_ret,
       ROUND(CAST(SUM(CASE WHEN qr > 0 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(qr), 6) AS up_share
FROM wdr WHERE qr IS NOT NULL
GROUP BY dow
ORDER BY weekday
""",
)
def bars_weekday_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-anomaly screen: average daily close-to-close return and
    up-day share by weekday across the universe (the Monday-effect /
    turn-of-week check). Daily closes come from arg_max by time; returns
    micro-quantize; weekday is integer epoch-day arithmetic (no timezone
    functions to disagree on)."""
    b = bars(spark, sf_dir)
    wde = (
        b.select("symbol", F.expr("ts_us DIV 86400000000").alias("day"), "close", "ts_us")
        .groupBy("symbol", "day")
        .agg(F.max_by("close", "ts_us").alias("c"))
    )
    wd = Window.partitionBy("symbol").orderBy("day")
    wdr = wde.select(
        F.expr("CAST((day + 4) % 7 AS INT)").alias("weekday"),
        F.floor((F.col("c") / F.lag("c").over(wd) - 1.0) * 1e6 + F.lit(0.5))
        .cast("long")
        .alias("qr"),
    ).where(F.col("qr").isNotNull())
    return (
        wdr.groupBy("weekday")
        .agg(
            F.count("qr").cast("long").alias("n_obs"),
            r6(F.sum("qr").cast("double") / 1e6 / F.count("qr")).alias(
                "avg_daily_ret"
            ),
            r6(
                F.sum(F.when(F.col("qr") > 0, 1).otherwise(0)).cast("double")
                / F.count("qr")
            ).alias("up_share"),
        )
        .orderBy("weekday")
    )


@q(
    "factor_turnover",
    BARS_CTE
    + """,
ftm AS (
  SELECT symbol, t,
         CAST(FLOOR((close / LAG(close, 10) OVER (PARTITION BY symbol ORDER BY t) - 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS mom
  FROM bars
),
ftr AS (
  SELECT symbol, t,
         ROW_NUMBER() OVER (PARTITION BY t ORDER BY mom DESC, symbol) AS rk,
         COUNT(*) OVER (PARTITION BY t) AS n
  FROM ftm WHERE mom IS NOT NULL
),
ftp AS (
  SELECT a.t, a.n,
         SUM(CAST(a.rk - b.rk AS HUGEINT) * (a.rk - b.rk)) AS d2,
         COUNT(*) AS np
  FROM ftr a JOIN ftr b ON b.symbol = a.symbol AND b.t = a.t - 1 AND b.n = a.n
  GROUP BY a.t, a.n
),
fts AS (
  SELECT CAST(FLOOR((1.0 - 6.0 * CAST(d2 AS DOUBLE)
                     / (CAST(n AS DOUBLE) * (CAST(n AS DOUBLE) * n - 1.0)))
                    * 1000000.0 + 0.5) AS BIGINT) AS qrho
  FROM ftp WHERE np = n AND n > 1
)
SELECT CAST(COUNT(*) AS BIGINT) AS n_periods,
       ROUND(CAST(SUM(qrho) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
         AS avg_rank_autocorr,
       ROUND(1.0 - CAST(SUM(qrho) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
         AS avg_turnover
FROM fts
""",
)
def factor_turnover(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Factor turnover of the 10-bar momentum signal: average Spearman
    autocorrelation of the cross-sectional ranks between consecutive bars
    (1 − 6Σd²/n(n²−1) — exact integers until the final ratio) and its
    complement, the turnover a rebalancing strategy pays. Low
    autocorrelation = the signal churns and transaction costs eat the IC.
    Complements the factor IC kit with the cost axis."""
    b = bars(spark, sf_dir)
    o = _w()
    mom = F.floor(
        (F.col("close") / F.lag("close", 10).over(o) - 1.0) * 1e6 + F.lit(0.5)
    ).cast("long")
    m = b.select("symbol", "t", mom.alias("mom")).where(F.col("mom").isNotNull())
    wt = Window.partitionBy("t").orderBy(F.col("mom").desc(), F.col("symbol"))
    wn = Window.partitionBy("t")
    r = m.select(
        "symbol",
        "t",
        F.row_number().over(wt).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )
    a = r.select("symbol", "t", "rk", "n")
    bb = r.select(
        F.col("symbol").alias("s2"),
        F.col("t").alias("t2"),
        F.col("rk").alias("rk2"),
        F.col("n").alias("n2"),
    )
    dec = "decimal(38,0)"
    p = (
        a.join(
            bb,
            (F.col("s2") == F.col("symbol"))
            & (F.col("t2") == F.col("t") - 1)
            & (F.col("n2") == F.col("n")),
        )
        .groupBy("t", "n")
        .agg(
            F.sum(
                (F.col("rk") - F.col("rk2")).cast(dec) * (F.col("rk") - F.col("rk2"))
            ).alias("d2"),
            F.count(F.lit(1)).alias("np"),
        )
        .where((F.col("np") == F.col("n")) & (F.col("n") > 1))
    )
    nn = F.col("n").cast("double")
    qrho = F.floor(
        (1.0 - 6.0 * F.col("d2").cast("double") / (nn * (nn * F.col("n") - 1.0))) * 1e6
        + F.lit(0.5)
    ).cast("long")
    s = p.select(qrho.alias("qrho"))
    return s.agg(
        F.count(F.lit(1)).cast("long").alias("n_periods"),
        r6(F.sum("qrho").cast("double") / 1e6 / F.count(F.lit(1))).alias(
            "avg_rank_autocorr"
        ),
        r6(1.0 - F.sum("qrho").cast("double") / 1e6 / F.count(F.lit(1))).alias(
            "avg_turnover"
        ),
    )


@q(
    "bars_vpin",
    BARS_CTE
    + """,
vpb AS (
  SELECT symbol, t, close, volume,
         CAST(FLOOR(volume + 0.5) AS BIGINT) AS qv,
         CASE WHEN close > LAG(close) OVER (PARTITION BY symbol ORDER BY t) THEN 1
              WHEN close < LAG(close) OVER (PARTITION BY symbol ORDER BY t) THEN -1
              ELSE 0 END AS sgn
  FROM bars
),
vpc AS (
  SELECT symbol, t, qv, sgn,
         SUM(qv) OVER (PARTITION BY symbol ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cumv
  FROM vpb
),
vpk AS (
  SELECT symbol, (cumv - 1) // 50000 AS bucket, qv, sgn FROM vpc
),
vpg AS (
  SELECT symbol, bucket,
         SUM(qv) AS vol,
         ABS(SUM(sgn * qv)) AS imb
  FROM vpk GROUP BY symbol, bucket
)
SELECT symbol,
       CAST(COUNT(*) AS BIGINT) AS n_buckets,
       ROUND(CAST(SUM(imb) AS DOUBLE) / SUM(vol), 6) AS vpin
FROM vpg
GROUP BY symbol
ORDER BY symbol
""",
)
def bars_vpin(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VPIN (volume-synchronized probability of informed trading) per
    symbol: tick-rule-signed volume imbalance per 50k-unit volume bucket,
    averaged as Σ|imbalance|/Σvolume — the flow-toxicity gauge that
    spiked before the flash crash. Builds on the volume-clock bucketing
    (bars_volume_bars); every quantity is an exact integer until the
    final ratio."""
    b = bars(spark, sf_dir)
    o = _w()
    sgn = (
        F.when(F.col("close") > F.lag("close").over(o), 1)
        .when(F.col("close") < F.lag("close").over(o), -1)
        .otherwise(0)
    )
    qv = F.floor(F.col("volume") + F.lit(0.5)).cast("long")
    wc = _w().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    vpc = b.select("symbol", "t", qv.alias("qv"), sgn.alias("sgn")).select(
        "symbol", "t", "qv", "sgn", F.sum("qv").over(wc).alias("cumv")
    )
    vpk = vpc.select(
        "symbol", F.expr("(cumv - 1) DIV 50000").alias("bucket"), "qv", "sgn"
    )
    vpg = vpk.groupBy("symbol", "bucket").agg(
        F.sum("qv").alias("vol"), F.abs(F.sum(F.col("sgn") * F.col("qv"))).alias("imb")
    )
    return (
        vpg.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_buckets"),
            r6(F.sum("imb").cast("double") / F.sum("vol")).alias("vpin"),
        )
        .orderBy("symbol")
    )


@q(
    "bars_relative_strength",
    BARS_CTE
    + """,
rsq AS (
  SELECT symbol, t,
         CAST(FLOOR(ln(close / LAG(close) OVER (PARTITION BY symbol ORDER BY t))
                    * 1000000.0 + 0.5) AS BIGINT) AS qlr
  FROM bars WHERE close > 0
),
rsc AS (
  SELECT symbol, t, qlr,
         SUM(qlr) OVER (PARTITION BY symbol ORDER BY t
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM rsq WHERE qlr IS NOT NULL
),
rsm AS (
  SELECT t, CAST(FLOOR(CAST(SUM(cum) AS DOUBLE) / COUNT(*) + 0.5) AS BIGINT) AS mcum,
         COUNT(*) AS ns
  FROM rsc GROUP BY t
),
rsj AS (
  SELECT c.symbol, c.t, c.cum - m.mcum AS rs
  FROM rsc c JOIN rsm m ON m.t = c.t AND m.ns > 1
),
rsl AS (
  SELECT symbol, t, rs,
         ROW_NUMBER() OVER (PARTITION BY t ORDER BY rs DESC, symbol) AS rnk
  FROM rsj
)
SELECT symbol, t,
       ROUND(CAST(rs AS DOUBLE) / 1000000.0, 6) AS rs_line,
       CAST(rnk AS INTEGER) AS rs_rank
FROM rsl
ORDER BY symbol, t
""",
)
def bars_relative_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-strength line and rank per symbol: cumulative log return
    minus the cross-sectional mean cumulative log return (the IBD-style
    'is it beating the market' line), plus the per-bar RS rank — the
    rotation signal. Exact integer cum sums; the market line is the
    per-t mean of those integers. One symbol window + one t-collapse —
    the same two-exchange shape as the breadth queries."""
    b = bars(spark, sf_dir).where(F.col("close") > 0)
    o = _w()
    qlr = F.floor(
        F.log(F.col("close") / F.lag("close").over(o)) * 1e6 + F.lit(0.5)
    ).cast("long")
    wc = _w().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    rsc = b.select("symbol", "t", qlr.alias("qlr")).where(
        F.col("qlr").isNotNull()
    ).select("symbol", "t", F.sum("qlr").over(wc).alias("cum"))
    rsm = rsc.groupBy("t").agg(
        F.floor(F.sum("cum").cast("double") / F.count(F.lit(1)) + F.lit(0.5))
        .cast("long")
        .alias("mcum"),
        F.count(F.lit(1)).alias("ns"),
    ).where(F.col("ns") > 1)
    # rsm is one row per t (scales with history) — no forced broadcast;
    # AQE decides from the agg's real runtime size (VERDICT r7 #1)
    rsj = rsc.join(rsm, "t").select(
        "symbol", "t", (F.col("cum") - F.col("mcum")).alias("rs")
    )
    wr = Window.partitionBy("t").orderBy(F.col("rs").desc(), F.col("symbol"))
    return (
        rsj.select("symbol", "t", "rs", F.row_number().over(wr).alias("rnk"))
        .select(
            "symbol",
            "t",
            r6(F.col("rs").cast("double") / 1e6).alias("rs_line"),
            F.col("rnk").cast("int").alias("rs_rank"),
        )
        .orderBy("symbol", "t")
    )


@q(
    "bars_capacity",
    BARS_CTE
    + """,
cpd AS (
  SELECT symbol, ts_us // 86400000000 AS day,
         SUM(CAST(FLOOR(volume + 0.5) AS BIGINT)) AS dvol,
         SUM(CAST(FLOOR(close * 1000000.0 + 0.5) AS BIGINT)
             * CAST(FLOOR(volume + 0.5) AS HUGEINT)) AS dnotional
  FROM bars GROUP BY 1, 2
)
SELECT symbol,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(CAST(SUM(dvol) AS DOUBLE) / COUNT(*), 6) AS adv_units,
       ROUND(CAST(SUM(dnotional) AS DOUBLE) / 1000000.0 / COUNT(*), 6)
         AS adv_notional,
       ROUND(CAST(SUM(dnotional) AS DOUBLE) / 1000000.0 / COUNT(*) * 0.05, 6)
         AS capacity_5pct
FROM cpd
GROUP BY symbol
ORDER BY symbol
""",
)
def bars_capacity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strategy capacity per symbol: average daily volume, average daily
    notional (Σ price×volume, exact integer micro-cents), and the
    deployable notional at the standard 5%-of-ADV participation cap —
    the number that says whether a signal is tradable at size. Pairs
    with bars_position_sizing (how much you WANT) by bounding how much
    the market lets you have."""
    b = bars(spark, sf_dir)
    qv = F.floor(F.col("volume") + F.lit(0.5)).cast("long")
    qp = F.floor(F.col("close") * 1e6 + F.lit(0.5)).cast("long")
    d = (
        b.select(
            "symbol",
            F.expr("ts_us DIV 86400000000").alias("day"),
            qv.alias("qv"),
            (qp * qv.cast("decimal(38,0)")).alias("qn"),
        )
        .groupBy("symbol", "day")
        .agg(F.sum("qv").alias("dvol"), F.sum("qn").alias("dnotional"))
    )
    n = F.count(F.lit(1))
    return (
        d.groupBy("symbol")
        .agg(
            n.cast("long").alias("n_days"),
            r6(F.sum("dvol").cast("double") / n).alias("adv_units"),
            r6(F.sum("dnotional").cast("double") / 1e6 / n).alias("adv_notional"),
            r6(F.sum("dnotional").cast("double") / 1e6 / n * 0.05).alias(
                "capacity_5pct"
            ),
        )
        .orderBy("symbol")
    )


@q(
    "rel_price_dispersion",
    """
WITH pdu AS (
  SELECT l_partkey AS pk,
         CAST(FLOOR(l_extendedprice / l_quantity * 100.0 + 0.5) AS BIGINT) AS unit_cents
  FROM lineitem WHERE l_quantity > 0
),
pds AS (
  SELECT pk, COUNT(*) AS n, SUM(unit_cents) AS s1,
         SUM(CAST(unit_cents AS HUGEINT) * unit_cents) AS s2,
         MIN(unit_cents) AS mn, MAX(unit_cents) AS mx
  FROM pdu GROUP BY pk HAVING COUNT(*) >= 3
)
SELECT pk AS partkey, CAST(n AS BIGINT) AS n_sales,
       ROUND(CAST(s1 AS DOUBLE) / 100.0 / n, 6) AS mean_unit_price,
       ROUND(CASE WHEN CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) > 0
                   AND s1 > 0 THEN
         sqrt(CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
         / (CAST(s1 AS DOUBLE) / n) END, 6) AS cv,
       ROUND(CAST(mx - mn AS DOUBLE) / 100.0, 6) AS price_range
FROM pds
ORDER BY cv DESC NULLS LAST, partkey
LIMIT 25
""",
)
def rel_price_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Law-of-one-price audit: the 25 parts with the highest unit-price
    coefficient of variation across their sales (≥3 observations) —
    dispersion that persists after quantity normalization signals pricing
    leakage or data errors. Unit prices in exact cents; one aggregate +
    top-k."""
    from polars_quant_spark.sources.bars import load_table

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity") > 0)
    pdu = li.select(
        F.col("l_partkey").alias("pk"),
        F.floor(F.col("l_extendedprice") / F.col("l_quantity") * 100.0 + F.lit(0.5))
        .cast("long")
        .alias("unit_cents"),
    )
    dec = "decimal(38,0)"
    s = (
        pdu.groupBy("pk")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("unit_cents").alias("s1"),
            F.sum(F.col("unit_cents").cast(dec) * F.col("unit_cents")).alias("s2"),
            F.min("unit_cents").alias("mn"),
            F.max("unit_cents").alias("mx"),
        )
        .where(F.col("n") >= 3)
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    var = F.col("s2").cast("double") / n - mu * mu
    cv = F.when((var > 0) & (F.col("s1") > 0), F.sqrt(var) / mu)
    return (
        s.select(
            F.col("pk").alias("partkey"),
            n.cast("long").alias("n_sales"),
            r6(F.col("s1").cast("double") / 100.0 / n).alias("mean_unit_price"),
            r6(cv).alias("cv"),
            r6((F.col("mx") - F.col("mn")).cast("double") / 100.0).alias("price_range"),
        )
        .orderBy(F.col("cv").desc_nulls_last(), F.col("partkey"))
        .limit(25)
    )


@q(
    "rel_duplicate_orders",
    """
WITH dob AS (
  SELECT o_orderkey, o_custkey,
         CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT) AS cents,
         epoch_us(o_orderdate) // 86400000000 AS day
  FROM orders
),
dop AS (
  SELECT a.o_orderkey AS order_a, b.o_orderkey AS order_b,
         a.o_custkey AS custkey,
         ROUND(CAST(a.cents AS DOUBLE) / 100.0, 6) AS amount,
         b.day - a.day AS day_gap
  FROM dob a JOIN dob b
    ON b.o_custkey = a.o_custkey AND b.cents = a.cents
   AND b.o_orderkey > a.o_orderkey
   AND b.day - a.day BETWEEN 0 AND 7
)
SELECT order_a, order_b, custkey, amount, CAST(day_gap AS BIGINT) AS day_gap
FROM dop
ORDER BY order_a, order_b
""",
)
def rel_duplicate_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Double-charge / duplicate-order detection: pairs of orders from the
    same customer with the IDENTICAL amount within 7 days — the record-
    linkage blocking pattern (join only within (customer, exact-cents)
    blocks, never all-pairs; the 7-day band bounds each block's fan-out).
    The billing-audit staple."""
    from polars_quant_spark.sources.bars import load_table

    o = load_table(spark, sf_dir, "orders")
    dob = o.select(
        "o_orderkey",
        "o_custkey",
        F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long").alias("cents"),
        F.expr(
            "unix_micros(to_utc_timestamp(o_orderdate, 'UTC')) DIV 86400000000"
        ).alias("day"),
    )
    a = dob.select(
        F.col("o_orderkey").alias("order_a"),
        F.col("o_custkey").alias("custkey"),
        "cents",
        F.col("day").alias("day_a"),
    )
    b = dob.select(
        F.col("o_orderkey").alias("order_b"),
        F.col("o_custkey").alias("ck2"),
        F.col("cents").alias("c2"),
        F.col("day").alias("day_b"),
    )
    return (
        a.join(
            b,
            (F.col("ck2") == F.col("custkey"))
            & (F.col("c2") == F.col("cents"))
            & (F.col("order_b") > F.col("order_a"))
            & ((F.col("day_b") - F.col("day_a")).between(0, 7)),
        )
        .select(
            "order_a",
            "order_b",
            "custkey",
            r6(F.col("cents").cast("double") / 100.0).alias("amount"),
            (F.col("day_b") - F.col("day_a")).cast("long").alias("day_gap"),
        )
        .orderBy("order_a", "order_b")
    )


@q(
    "bars_underwater",
    BARS_CTE
    + """,
uw AS (
  SELECT symbol, t, close,
         MAX(close) OVER (PARTITION BY symbol ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM bars
)
SELECT symbol, t,
       ROUND(close / peak - 1.0, 6) AS underwater,
       ROUND(peak, 6) AS peak
FROM uw
ORDER BY symbol, t
""",
)
def bars_underwater(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The underwater curve: every bar's drawdown from the running peak
    (0 at new highs, negative below) plus the peak itself — the series
    behind the drawdown-episode and Ulcer summaries, exposed directly for
    charting/monitoring. One running-max window."""
    b = bars(spark, sf_dir)
    wc = _w().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    peak = F.max("close").over(wc)
    return b.select(
        "symbol",
        "t",
        r6(F.col("close") / peak - 1.0).alias("underwater"),
        r6(peak).alias("peak"),
    ).orderBy("symbol", "t")


@q(
    "ind_efficiency_ratio",
    BARS_CTE
    + """,
erq AS (
  SELECT symbol, t,
         CAST(FLOOR(close * 100.0 + 0.5) AS BIGINT) AS qc,
         ABS(CAST(FLOOR(close * 100.0 + 0.5) AS BIGINT)
             - LAG(CAST(FLOOR(close * 100.0 + 0.5) AS BIGINT))
               OVER (PARTITION BY symbol ORDER BY t)) AS adp
  FROM bars
)
SELECT symbol, t,
       ROUND(CASE WHEN COUNT(adp) OVER w = 10 AND SUM(adp) OVER w > 0 THEN
         CAST(ABS(qc - LAG(qc, 10) OVER (PARTITION BY symbol ORDER BY t)) AS DOUBLE)
         / SUM(adp) OVER w END, 6) AS er_10
FROM erq
WINDOW w AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 9 PRECEDING AND CURRENT ROW)
""",
)
def ind_efficiency_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaufman efficiency ratio (10): |net 10-bar move| over the sum of
    absolute bar moves — 1 = perfect trend, →0 = churn. The regime input
    KAMA uses internally, exposed as its own column (and a cheap
    trendiness filter before paying for heavier indicators). Exact cent
    arithmetic; one window pass."""
    b = bars(spark, sf_dir)
    o = _w()
    qc = F.floor(F.col("close") * 100.0 + F.lit(0.5)).cast("long")
    adp = F.abs(qc - F.lag(qc).over(o))
    src = b.select("symbol", "t", qc.alias("qc"), adp.alias("adp"))
    w = _w().rowsBetween(-9, 0)
    ok = (F.count("adp").over(w) == 10) & (F.sum("adp").over(w) > 0)
    er = F.when(
        ok,
        F.abs(F.col("qc") - F.lag("qc", 10).over(o)).cast("double")
        / F.sum("adp").over(w),
    )
    return src.select("symbol", "t", r6(er).alias("er_10"))


@q(
    "rel_revenue_bridge",
    """
WITH rb0 AS (
  SELECT l_returnflag AS grp,
         epoch_us(l_shipdate) // 86400000000 AS day,
         CAST(FLOOR(l_quantity + 0.5) AS BIGINT) AS qty,
         CAST(FLOOR(l_extendedprice * 100.0 + 0.5) AS BIGINT) AS cents
  FROM lineitem WHERE l_shipdate IS NOT NULL
),
rbm AS (SELECT (MIN(day) + MAX(day) + 1) // 2 AS m FROM rb0),
rba AS (
  SELECT grp,
         SUM(CASE WHEN day < (SELECT m FROM rbm) THEN qty ELSE 0 END) AS q1,
         SUM(CASE WHEN day < (SELECT m FROM rbm) THEN cents ELSE 0 END) AS r1,
         SUM(CASE WHEN day >= (SELECT m FROM rbm) THEN qty ELSE 0 END) AS q2,
         SUM(CASE WHEN day >= (SELECT m FROM rbm) THEN cents ELSE 0 END) AS r2
  FROM rb0 GROUP BY grp
)
SELECT grp AS returnflag,
       ROUND(CAST(r1 AS DOUBLE) / 100.0, 6) AS revenue_before,
       ROUND(CAST(r2 AS DOUBLE) / 100.0, 6) AS revenue_after,
       ROUND(CASE WHEN q1 > 0 THEN
         (CAST(q2 AS DOUBLE) - q1) * (CAST(r1 AS DOUBLE) / q1) / 100.0 END, 6)
         AS volume_effect,
       ROUND(CASE WHEN q1 > 0 AND q2 > 0 THEN
         (CAST(r2 AS DOUBLE) / q2 - CAST(r1 AS DOUBLE) / q1) * q2 / 100.0 END, 6)
         AS price_effect
FROM rba
ORDER BY returnflag
""",
)
def rel_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue bridge (waterfall) between period halves per return flag:
    ΔRevenue decomposed into the volume effect (Δqty at old unit price)
    and the price effect (Δunit-price at new qty) — the finance-review
    'why did revenue move' decomposition (volume + price sums exactly to
    the delta). Exact integer quantity/cents sums; one conditional
    aggregate."""
    from polars_quant_spark.sources.bars import load_table

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_shipdate").isNotNull())
    r0 = li.select(
        F.col("l_returnflag").alias("grp"),
        F.expr(
            "unix_micros(to_utc_timestamp(l_shipdate, 'UTC')) DIV 86400000000"
        ).alias("day"),
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("qty"),
        F.floor(F.col("l_extendedprice") * 100.0 + F.lit(0.5)).cast("long").alias("cents"),
    )
    m = r0.agg(F.expr("(MIN(day) + MAX(day) + 1) DIV 2").alias("m"))
    a = (
        r0.crossJoin(F.broadcast(m))
        .groupBy("grp")
        .agg(
            F.sum(F.when(F.col("day") < F.col("m"), F.col("qty")).otherwise(0)).alias("q1"),
            F.sum(F.when(F.col("day") < F.col("m"), F.col("cents")).otherwise(0)).alias("r1"),
            F.sum(F.when(F.col("day") >= F.col("m"), F.col("qty")).otherwise(0)).alias("q2"),
            F.sum(F.when(F.col("day") >= F.col("m"), F.col("cents")).otherwise(0)).alias("r2"),
        )
    )
    q1 = F.col("q1")
    q2 = F.col("q2")
    r1 = F.col("r1").cast("double")
    r2 = F.col("r2").cast("double")
    vol = F.when(q1 > 0, (q2.cast("double") - q1) * (r1 / q1) / 100.0)
    pr = F.when((q1 > 0) & (q2 > 0), (r2 / q2 - r1 / q1) * q2 / 100.0)
    return a.select(
        F.col("grp").alias("returnflag"),
        r6(r1 / 100.0).alias("revenue_before"),
        r6(r2 / 100.0).alias("revenue_after"),
        r6(vol).alias("volume_effect"),
        r6(pr).alias("price_effect"),
    ).orderBy("returnflag")


@q(
    "rel_customer_concentration",
    """
WITH cc0 AS (
  SELECT o_custkey,
         SUM(CAST(FLOOR(o_totalprice * 100.0 + 0.5) AS BIGINT)) AS rev
  FROM orders GROUP BY o_custkey
),
ccr AS (
  SELECT rev,
         ROW_NUMBER() OVER (ORDER BY rev DESC, o_custkey) AS r,
         SUM(rev) OVER () AS tot,
         COUNT(*) OVER () AS n
  FROM cc0
)
SELECT CAST(MAX(n) AS BIGINT) AS n_customers,
       ROUND(CAST(SUM(CASE WHEN r <= 10 THEN rev ELSE 0 END) AS DOUBLE)
             / MAX(tot), 6) AS top10_share,
       ROUND(CAST(SUM(CASE WHEN r * 100 <= n THEN rev ELSE 0 END) AS DOUBLE)
             / MAX(tot), 6) AS top1pct_share,
       ROUND(CAST(SUM(CAST(rev AS HUGEINT) * rev) AS DOUBLE)
             / (CAST(MAX(tot) AS DOUBLE) * MAX(tot)), 6) AS hhi
FROM ccr
""",
)
def rel_customer_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer revenue concentration: top-10 and top-1% revenue shares
    plus the customer HHI — the key-account-risk companion to the
    supplier HHI (losing one whale shouldn't sink the book). Exact cents;
    the top-1% cut is the integer cross-multiplication r·100 ≤ n."""
    from polars_quant_spark.sources.bars import load_table

    o = load_table(spark, sf_dir, "orders")
    c0 = o.groupBy("o_custkey").agg(
        F.sum(
            F.floor(F.col("o_totalprice") * 100.0 + F.lit(0.5)).cast("long")
        ).alias("rev")
    )
    wr = Window.orderBy(F.col("rev").desc(), F.col("o_custkey"))
    wall = Window.partitionBy()
    r = c0.select(
        "rev",
        F.row_number().over(wr).alias("r"),
        F.sum("rev").over(wall).alias("tot"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    dec = "decimal(38,0)"
    return r.agg(
        F.max("n").cast("long").alias("n_customers"),
        r6(
            F.sum(F.when(F.col("r") <= 10, F.col("rev")).otherwise(0)).cast("double")
            / F.max("tot")
        ).alias("top10_share"),
        r6(
            F.sum(
                F.when(F.col("r") * 100 <= F.col("n"), F.col("rev")).otherwise(0)
            ).cast("double")
            / F.max("tot")
        ).alias("top1pct_share"),
        r6(
            F.sum(F.col("rev").cast(dec) * F.col("rev")).cast("double")
            / (F.max("tot").cast("double") * F.max("tot"))
        ).alias("hhi"),
    )


@q(
    "bt_recovery_times",
    BARS_CTE
    + """,
rcu AS (
  SELECT symbol, t, close,
         MAX(close) OVER (PARTITION BY symbol ORDER BY t
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS peak
  FROM bars
),
rcf AS (
  SELECT symbol, t,
         CASE WHEN close < peak THEN 1 ELSE 0 END AS under,
         CASE WHEN close < peak
               AND COALESCE(LAG(CASE WHEN close < peak THEN 1 ELSE 0 END)
                            OVER (PARTITION BY symbol ORDER BY t), 0) = 0
              THEN 1 ELSE 0 END AS new_ep
  FROM rcu
),
rce AS (
  SELECT symbol, t, under,
         SUM(new_ep) OVER (PARTITION BY symbol ORDER BY t
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS ep
  FROM rcf
),
rcl AS (
  SELECT symbol, ep, COUNT(*) AS dur,
         MAX(t) AS last_t
  FROM rce WHERE under = 1 GROUP BY symbol, ep
),
rcmx AS (SELECT symbol, MAX(t) AS tmax FROM rce GROUP BY symbol),
rcc AS (
  SELECT l.symbol, l.dur,
         CASE WHEN l.last_t < m.tmax THEN 1 ELSE 0 END AS recovered
  FROM rcl l JOIN rcmx m ON m.symbol = l.symbol
),
rcr AS (
  SELECT symbol, dur,
         ROW_NUMBER() OVER (PARTITION BY symbol ORDER BY dur) AS r,
         COUNT(*) OVER (PARTITION BY symbol) AS n
  FROM rcc WHERE recovered = 1
)
SELECT symbol, CAST(MAX(n) AS BIGINT) AS n_recovered_episodes,
       MAX(CASE WHEN r = CAST(CEIL(0.50 * n) AS BIGINT) THEN dur END) AS p50_bars,
       MAX(CASE WHEN r = CAST(CEIL(0.90 * n) AS BIGINT) THEN dur END) AS p90_bars,
       MAX(dur) AS max_bars
FROM rcr GROUP BY symbol
ORDER BY symbol
""",
)
def bt_recovery_times(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Drawdown recovery-time distribution per symbol: exact p50/p90/max
    duration (in bars) of COMPLETED underwater episodes — the 'how long
    until a new high' number investors actually feel (episodes still open
    at the data edge are excluded, the same censoring discipline as the
    Kaplan–Meier query). Run-id segmentation + rank percentiles, all on
    the shared symbol partitioning."""
    b = bars(spark, sf_dir)
    o = _w()
    wc = _w().rowsBetween(Window.unboundedPreceding, Window.currentRow)
    peak = F.max("close").over(wc)
    u = b.select("symbol", "t", F.when(F.col("close") < peak, 1).otherwise(0).alias("under"))
    new_ep = F.when(
        (F.col("under") == 1)
        & (F.coalesce(F.lag("under").over(o), F.lit(0)) == 0),
        1,
    ).otherwise(0)
    e = u.select("symbol", "t", "under", new_ep.alias("new_ep")).select(
        "symbol", "t", "under", F.sum("new_ep").over(wc).alias("ep")
    )
    le = (
        e.where(F.col("under") == 1)
        .groupBy("symbol", "ep")
        .agg(F.count(F.lit(1)).alias("dur"), F.max("t").alias("last_t"))
    )
    mx = e.groupBy("symbol").agg(F.max("t").alias("tmax"))
    cc = le.join(F.broadcast(mx), "symbol").where(F.col("last_t") < F.col("tmax"))
    wr = Window.partitionBy("symbol").orderBy("dur")
    wn = Window.partitionBy("symbol")
    r = cc.select(
        "symbol",
        "dur",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wn).alias("n"),
    )

    def pct(p):
        return F.max(
            F.when(
                F.col("r") == F.ceil(F.lit(p) * F.col("n")).cast("long"), F.col("dur")
            )
        )

    return (
        r.groupBy("symbol")
        .agg(
            F.max("n").cast("long").alias("n_recovered_episodes"),
            pct(0.50).alias("p50_bars"),
            pct(0.90).alias("p90_bars"),
            F.max("dur").alias("max_bars"),
        )
        .orderBy("symbol")
    )


@q(
    "bars_tail_dependence",
    BARS_CTE
    + """,
tdp AS (
  SELECT t,
         CAST(FLOOR((MAX(CASE WHEN symbol = 'click' THEN close END)
                     / LAG(MAX(CASE WHEN symbol = 'click' THEN close END)) OVER (ORDER BY t)
                     - 1.0) * 1000000.0 + 0.5) AS BIGINT) AS ra,
         CAST(FLOOR((MAX(CASE WHEN symbol = 'view' THEN close END)
                     / LAG(MAX(CASE WHEN symbol = 'view' THEN close END)) OVER (ORDER BY t)
                     - 1.0) * 1000000.0 + 0.5) AS BIGINT) AS rb
  FROM bars WHERE symbol IN ('click', 'view') GROUP BY t
  HAVING COUNT(DISTINCT symbol) = 2
),
tdr AS (
  SELECT ra, rb,
         ROW_NUMBER() OVER (ORDER BY ra, t_rn) AS rka,
         ROW_NUMBER() OVER (ORDER BY rb, t_rn) AS rkb,
         COUNT(*) OVER () AS n
  FROM (SELECT ra, rb, ROW_NUMBER() OVER (ORDER BY ra) AS t_rn FROM tdp
        WHERE ra IS NOT NULL AND rb IS NOT NULL)
)
SELECT CAST(MAX(n) AS BIGINT) AS n_obs,
       CAST(SUM(CASE WHEN rka * 10 <= n AND rkb * 10 <= n THEN 1 ELSE 0 END) AS BIGINT)
         AS joint_crashes,
       ROUND(CAST(SUM(CASE WHEN rka * 10 <= n AND rkb * 10 <= n THEN 1 ELSE 0 END)
                  AS DOUBLE) / (MAX(n) / 10.0), 6) AS lower_tail_dep,
       ROUND(CAST(SUM(CASE WHEN rka * 10 > n * 9 AND rkb * 10 > n * 9 THEN 1 ELSE 0 END)
                  AS DOUBLE) / (MAX(n) / 10.0), 6) AS upper_tail_dep
FROM tdr
""",
)
def bars_tail_dependence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical tail dependence for the (click, view) pair: the share of
    each asset's bottom-decile days on which the OTHER is also in its
    bottom decile (and the upper-tail mirror) — the crash-together
    coefficient that linear correlation hides (λ → 1 means
    diversification dies exactly when needed). Decile cuts are integer
    cross-multiplied ranks (deterministic tie-break) — no float
    quantiles."""
    b = bars(spark, sf_dir).where(F.col("symbol").isin("click", "view"))
    px = (
        b.groupBy("t")
        .agg(
            F.max(F.when(F.col("symbol") == "click", F.col("close"))).alias("ca"),
            F.max(F.when(F.col("symbol") == "view", F.col("close"))).alias("cb"),
            F.count_distinct("symbol").alias("_ns"),
        )
        .where(F.col("_ns") == 2)
    )
    wo = Window.orderBy("t")

    def qret(c):
        return F.floor(
            (F.col(c) / F.lag(c).over(wo) - 1.0) * 1e6 + F.lit(0.5)
        ).cast("long")

    r = px.select("t", qret("ca").alias("ra"), qret("cb").alias("rb")).where(
        F.col("ra").isNotNull() & F.col("rb").isNotNull()
    )
    base = r.select("ra", "rb", F.row_number().over(Window.orderBy("ra")).alias("t_rn"))
    wall = Window.partitionBy()
    t = base.select(
        F.row_number().over(Window.orderBy("ra", "t_rn")).alias("rka"),
        F.row_number().over(Window.orderBy("rb", "t_rn")).alias("rkb"),
        F.count(F.lit(1)).over(wall).alias("n"),
    )
    lo = F.sum(
        F.when((F.col("rka") * 10 <= F.col("n")) & (F.col("rkb") * 10 <= F.col("n")), 1).otherwise(0)
    )
    hi = F.sum(
        F.when(
            (F.col("rka") * 10 > F.col("n") * 9) & (F.col("rkb") * 10 > F.col("n") * 9), 1
        ).otherwise(0)
    )
    return t.agg(
        F.max("n").cast("long").alias("n_obs"),
        lo.cast("long").alias("joint_crashes"),
        r6(lo.cast("double") / (F.max("n") / 10.0)).alias("lower_tail_dep"),
        r6(hi.cast("double") / (F.max("n") / 10.0)).alias("upper_tail_dep"),
    )


# Kupiec proof-of-failure test constants: the VaR threshold is "worst
# return of the PRIOR 60 bars", whose exceedance probability under
# exchangeability is exactly 1/61.
_KP_P = repr(1.0 / 61.0)
_KP_1P = repr(1.0 - 1.0 / 61.0)


@q(
    "bars_var_backtest",
    BARS_CTE
    + f""",
vbr AS (
  SELECT symbol, t,
         CAST(FLOOR((close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS qr
  FROM bars
),
vbm AS (
  SELECT symbol, t, qr,
         MIN(qr) OVER (PARTITION BY symbol ORDER BY t
                       ROWS BETWEEN 60 PRECEDING AND 1 PRECEDING) AS var_q,
         COUNT(qr) OVER (PARTITION BY symbol ORDER BY t
                         ROWS BETWEEN 60 PRECEDING AND 1 PRECEDING) AS nw
  FROM vbr WHERE qr IS NOT NULL
),
vbs AS (
  SELECT symbol, COUNT(*) AS n,
         SUM(CASE WHEN qr < var_q THEN 1 ELSE 0 END) AS x
  FROM vbm WHERE nw = 60 GROUP BY symbol
)
SELECT symbol, CAST(n AS BIGINT) AS n_obs, CAST(x AS BIGINT) AS n_exceedances,
       ROUND(CAST(x AS DOUBLE) / n, 6) AS exceed_rate,
       ROUND({_KP_P}, 6) AS expected_rate,
       ROUND(CASE WHEN x > 0 AND x < n THEN
         -2.0 * ((n - x) * ln({_KP_1P}) + x * ln({_KP_P})
                 - ((n - x) * ln(1.0 - CAST(x AS DOUBLE) / n)
                    + x * ln(CAST(x AS DOUBLE) / n))) END, 6) AS kupiec_lr
FROM vbs
ORDER BY symbol
""",
)
def bars_var_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """VaR exceedance backtest: the threshold is the worst return of the
    PRIOR 60 bars (a historical-simulation VaR whose exceedance
    probability is EXACTLY 1/61 under exchangeability — no estimation
    error in the null), and Kupiec's proportion-of-failures LR tests
    whether the realized breach count is consistent (χ²₁; >3.84 rejects
    the model). Exact integer window mins and counts; constants as
    shared repr literals."""
    b = bars(spark, sf_dir)
    o = _w()
    qr = F.floor(
        (F.col("close") / F.lag("close").over(o) - 1.0) * 1e6 + F.lit(0.5)
    ).cast("long")
    r = b.select("symbol", "t", qr.alias("qr")).where(F.col("qr").isNotNull())
    wp = _w().rowsBetween(-60, -1)
    m = r.select(
        "symbol",
        "qr",
        F.min("qr").over(wp).alias("var_q"),
        F.count("qr").over(wp).alias("nw"),
    ).where(F.col("nw") == 60)
    s = m.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.when(F.col("qr") < F.col("var_q"), 1).otherwise(0)).alias("x"),
    )
    n = F.col("n")
    x = F.col("x")
    p = float(_KP_P)
    p1 = float(_KP_1P)
    import math as _math

    lnp = _math.log(p)
    ln1p = _math.log(p1)
    xr = x.cast("double") / n
    lr = F.when(
        (x > 0) & (x < n),
        -2.0
        * (
            (n - x) * ln1p
            + x * lnp
            - ((n - x) * F.log(1.0 - xr) + x * F.log(xr))
        ),
    )
    return s.select(
        "symbol",
        n.cast("long").alias("n_obs"),
        x.cast("long").alias("n_exceedances"),
        r6(xr).alias("exceed_rate"),
        r6(F.lit(p)).alias("expected_rate"),
        r6(lr).alias("kupiec_lr"),
    ).orderBy("symbol")


# Klinger-style volume force oscillator: EMA34 − EMA55 of tick-signed
# volume force (simplified trend rule: sign of typical-price change).
ORACLES_KVO = (
    recursive_with(
        """
kvf AS MATERIALIZED (
  SELECT symbol, t,
         CAST(FLOOR(volume + 0.5) AS BIGINT)
           * CASE WHEN (high + low + close)
                       > LAG(high + low + close) OVER (PARTITION BY symbol ORDER BY t)
                  THEN 1
                  WHEN (high + low + close)
                       < LAG(high + low + close) OVER (PARTITION BY symbol ORDER BY t)
                  THEN -1 ELSE 0 END AS vf
  FROM bars
)""",
        ema_ctes("kv34", "kvf", "vf", 34),
        ema_ctes("kv55", "kvf", "vf", 55),
    )
    + """
SELECT a.symbol, a.t, ROUND(a.kv34 - b.kv55, 6) AS kvo
FROM kv34 a JOIN kv55 b ON b.symbol = a.symbol AND b.t = a.t
WHERE a.kv34 IS NOT NULL AND b.kv55 IS NOT NULL
ORDER BY a.symbol, a.t
"""
)


def ind_klinger(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Klinger-style volume oscillator: EMA34 − EMA55 of trend-signed
    volume force (typical-price direction × volume) — routed through the
    library entry point ``functions.volume.klinger`` (the long/short EMA
    pair runs in ONE recurrence pass; same chained-EMA contract as
    MACD/ADOSC)."""
    from polars_quant_spark.functions.volume import klinger

    b = bars(spark, sf_dir)
    out = klinger(b, fast=34, slow=55)
    return (
        out.where(F.col("kvo").isNotNull())
        .select("symbol", "t", r6(F.col("kvo")).alias("kvo"))
        .orderBy("symbol", "t")
    )


QUERIES["ind_klinger"] = ind_klinger
ORACLES["ind_klinger"] = ORACLES_KVO


@q(
    "bars_arch_test",
    BARS_CTE
    + """,
atr2 AS (
  SELECT symbol, t,
         CAST(FLOOR((close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS qr
  FROM bars
),
ats AS (
  SELECT symbol,
         CAST(qr AS HUGEINT) * qr AS s2,
         LAG(CAST(qr AS HUGEINT) * qr) OVER (PARTITION BY symbol ORDER BY t) AS s2l
  FROM atr2 WHERE qr IS NOT NULL
),
atm AS (
  SELECT symbol, COUNT(*) AS n,
         SUM(s2) AS sy, SUM(s2l) AS sx,
         SUM(s2 * s2l) AS sxy,
         SUM(s2l * s2l) AS sxx,
         SUM(s2 * s2) AS syy
  FROM ats WHERE s2l IS NOT NULL GROUP BY symbol
)
SELECT symbol, CAST(n AS BIGINT) AS n_obs,
       ROUND(CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                   AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0 THEN
         (CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
          - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
         / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                 - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                   - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
       END, 6) AS rho_sq,
       ROUND(CASE WHEN (CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)) > 0
                   AND (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                        - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)) > 0 THEN
         CAST(n AS DOUBLE)
         * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
         * ((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
             - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
            / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                    - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                   * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                      - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))))
       END, 6) AS arch_lm
FROM atm
ORDER BY symbol
""",
)
def bars_arch_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Engle's ARCH-LM test (1 lag) per symbol: the autocorrelation of
    SQUARED returns and the n·R² statistic (χ²₁; >3.84 = volatility
    clusters, so a GARCH filter like ind_garch_vol is warranted — this is
    the test that justifies that model). Squared micro returns are exact
    HUGEINT/decimal products; the ρ and LM tails are mirrored literally."""
    b = bars(spark, sf_dir)
    o = _w()
    qr = F.floor(
        (F.col("close") / F.lag("close").over(o) - 1.0) * 1e6 + F.lit(0.5)
    ).cast("long")
    dec = "decimal(38,0)"
    r = b.select("symbol", "t", qr.alias("qr")).where(F.col("qr").isNotNull())
    s2 = (F.col("qr").cast(dec) * F.col("qr")).alias("s2")
    a = r.select("symbol", "t", s2).select(
        "symbol", "s2", F.lag("s2").over(o).alias("s2l")
    ).where(F.col("s2l").isNotNull())
    m = a.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("s2").alias("sy"),
        F.sum("s2l").alias("sx"),
        F.sum(F.col("s2") * F.col("s2l")).alias("sxy"),
        F.sum(F.col("s2l") * F.col("s2l")).alias("sxx"),
        F.sum(F.col("s2") * F.col("s2")).alias("syy"),
    )
    nd = F.col("n").cast("double")
    dxy = nd * F.col("sxy").cast("double") - F.col("sx").cast("double") * F.col("sy").cast("double")
    dxx = nd * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx").cast("double")
    dyy = nd * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy").cast("double")
    ok = (dxx > 0) & (dyy > 0)
    rho = dxy / F.sqrt(dxx * dyy)
    return m.select(
        "symbol",
        F.col("n").cast("long").alias("n_obs"),
        r6(F.when(ok, rho)).alias("rho_sq"),
        r6(F.when(ok, nd * rho * rho)).alias("arch_lm"),
    ).orderBy("symbol")


@q(
    "bars_leverage_effect",
    BARS_CTE
    + """,
lvr AS (
  SELECT symbol, t,
         CAST(FLOOR((close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS qr
  FROM bars
),
lvp AS (
  SELECT symbol, qr,
         ABS(LEAD(qr) OVER (PARTITION BY symbol ORDER BY t)) AS nav
  FROM lvr WHERE qr IS NOT NULL
),
lvm AS (
  SELECT symbol, COUNT(*) AS n, SUM(qr) AS sx, SUM(nav) AS sy,
         SUM(CAST(qr AS HUGEINT) * nav) AS sxy,
         SUM(CAST(qr AS HUGEINT) * qr) AS sxx,
         SUM(CAST(nav AS HUGEINT) * nav) AS syy
  FROM lvp WHERE nav IS NOT NULL GROUP BY symbol
)
SELECT symbol, CAST(n AS BIGINT) AS n_obs,
       ROUND(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         CAST(n * sxy - sx * sy AS DOUBLE)
         / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
       END, 6) AS leverage_corr
FROM lvm
ORDER BY symbol
""",
)
def bars_leverage_effect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leverage effect per symbol: correlation of today's signed return
    with TOMORROW'S absolute return — reliably negative in equities (down
    moves raise future volatility more than up moves), the asymmetry an
    EGARCH would model and plain GARCH can't. Exact integer moments; one
    window pass."""
    b = bars(spark, sf_dir)
    o = _w()
    qr = F.floor(
        (F.col("close") / F.lag("close").over(o) - 1.0) * 1e6 + F.lit(0.5)
    ).cast("long")
    r = b.select("symbol", "t", qr.alias("qr")).where(F.col("qr").isNotNull())
    p = r.select(
        "symbol", "qr", F.abs(F.lead("qr").over(o)).alias("nav")
    ).where(F.col("nav").isNotNull())
    dec = "decimal(38,0)"
    m = p.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("qr").alias("sx"),
        F.sum("nav").alias("sy"),
        F.sum(F.col("qr").cast(dec) * F.col("nav")).alias("sxy"),
        F.sum(F.col("qr").cast(dec) * F.col("qr")).alias("sxx"),
        F.sum(F.col("nav").cast(dec) * F.col("nav")).alias("syy"),
    )
    n = F.col("n").cast(dec)
    dxy = n * F.col("sxy") - F.col("sx").cast(dec) * F.col("sy")
    dxx = n * F.col("sxx") - F.col("sx").cast(dec) * F.col("sx")
    dyy = n * F.col("syy") - F.col("sy").cast(dec) * F.col("sy")
    corr = F.when(
        (dxx > 0) & (dyy > 0),
        dxy.cast("double") / F.sqrt(dxx.cast("double") * dyy.cast("double")),
    )
    return m.select(
        "symbol", F.col("n").cast("long").alias("n_obs"), r6(corr).alias("leverage_corr")
    ).orderBy("symbol")


@q(
    "bars_stress_correlation",
    BARS_CTE
    + """,
scr AS (
  SELECT symbol, t,
         CAST(FLOOR((close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0)
                    * 1000000.0 + 0.5) AS BIGINT) AS qr
  FROM bars
),
scm AS (
  SELECT t, CAST(FLOOR(CAST(SUM(qr) AS DOUBLE) / COUNT(qr) + 0.5) AS BIGINT) AS qm
  FROM scr WHERE qr IS NOT NULL GROUP BY t
),
scd AS (
  SELECT t, qm, ROW_NUMBER() OVER (ORDER BY qm, t) AS rk, COUNT(*) OVER () AS n
  FROM scm
),
scp AS (
  SELECT a.t,
         MAX(CASE WHEN a.symbol = 'click' THEN a.qr END) AS ra,
         MAX(CASE WHEN a.symbol = 'view' THEN a.qr END) AS rb,
         MAX(CASE WHEN d.rk * 10 <= d.n THEN 1 ELSE 0 END) AS stress
  FROM scr a JOIN scd d ON d.t = a.t
  WHERE a.symbol IN ('click', 'view') AND a.qr IS NOT NULL
  GROUP BY a.t HAVING COUNT(DISTINCT a.symbol) = 2
),
scs AS (
  SELECT stress, COUNT(*) AS n, SUM(ra) AS sa, SUM(rb) AS sb,
         SUM(CAST(ra AS HUGEINT) * rb) AS sab,
         SUM(CAST(ra AS HUGEINT) * ra) AS saa,
         SUM(CAST(rb AS HUGEINT) * rb) AS sbb
  FROM scp GROUP BY stress
)
SELECT CAST(stress AS INTEGER) AS market_stress,
       CAST(n AS BIGINT) AS n_obs,
       ROUND(CASE WHEN n * saa - sa * sa > 0 AND n * sbb - sb * sb > 0 THEN
         CAST(n * sab - sa * sb AS DOUBLE)
         / sqrt(CAST(n * saa - sa * sa AS DOUBLE) * CAST(n * sbb - sb * sb AS DOUBLE))
       END, 6) AS pair_corr
FROM scs
ORDER BY market_stress
""",
)
def bars_stress_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stress-conditional correlation: the (click, view) pair correlation
    on the market's worst-decile bars vs all other bars — the
    'correlations go to one in a crash' diagnostic that the full-sample
    matrix averages away (pairs with bars_tail_dependence: that counts
    joint crashes, this measures co-movement strength within them).
    Stress days come from exact integer ranks of the cross-sectional
    mean return."""
    b = bars(spark, sf_dir)
    o = _w()
    qr = F.floor(
        (F.col("close") / F.lag("close").over(o) - 1.0) * 1e6 + F.lit(0.5)
    ).cast("long")
    r = b.select("symbol", "t", qr.alias("qr")).where(F.col("qr").isNotNull())
    m = r.groupBy("t").agg(
        F.floor(F.sum("qr").cast("double") / F.count("qr") + F.lit(0.5))
        .cast("long")
        .alias("qm")
    )
    d = m.select(
        "t",
        F.row_number().over(Window.orderBy("qm", "t")).alias("rk"),
        F.count(F.lit(1)).over(Window.partitionBy()).alias("n"),
    )
    p = (
        r.where(F.col("symbol").isin("click", "view"))
        # d is one row per t (scales with history) — hint-free, AQE decides
        .join(d, "t")
        .groupBy("t")
        .agg(
            F.max(F.when(F.col("symbol") == "click", F.col("qr"))).alias("ra"),
            F.max(F.when(F.col("symbol") == "view", F.col("qr"))).alias("rb"),
            F.max(
                F.when(F.col("rk") * 10 <= F.col("n"), 1).otherwise(0)
            ).alias("stress"),
            F.count_distinct("symbol").alias("_ns"),
        )
        .where(F.col("_ns") == 2)
    )
    dec = "decimal(38,0)"
    s = p.groupBy("stress").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("ra").alias("sa"),
        F.sum("rb").alias("sb"),
        F.sum(F.col("ra").cast(dec) * F.col("rb")).alias("sab"),
        F.sum(F.col("ra").cast(dec) * F.col("ra")).alias("saa"),
        F.sum(F.col("rb").cast(dec) * F.col("rb")).alias("sbb"),
    )
    n = F.col("n").cast(dec)
    dxy = n * F.col("sab") - F.col("sa").cast(dec) * F.col("sb")
    dxx = n * F.col("saa") - F.col("sa").cast(dec) * F.col("sa")
    dyy = n * F.col("sbb") - F.col("sb").cast(dec) * F.col("sb")
    corr = F.when(
        (dxx > 0) & (dyy > 0),
        dxy.cast("double") / F.sqrt(dxx.cast("double") * dyy.cast("double")),
    )
    return s.select(
        F.col("stress").cast("int").alias("market_stress"),
        F.col("n").cast("long").alias("n_obs"),
        r6(corr).alias("pair_corr"),
    ).orderBy("market_stress")


@q(
    "rel_replenishment_cycle",
    """
WITH rpg AS (
  SELECT o_custkey,
         epoch_us(o_orderdate) // 86400000000
           - LAG(epoch_us(o_orderdate) // 86400000000)
             OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey) AS gap_days
  FROM orders
),
rpc AS (
  SELECT o_custkey, COUNT(gap_days) AS n, SUM(gap_days) AS s1,
         SUM(CAST(gap_days AS HUGEINT) * gap_days) AS s2
  FROM rpg WHERE gap_days IS NOT NULL GROUP BY o_custkey HAVING COUNT(gap_days) >= 2
),
rpm AS (
  SELECT o_custkey, CAST(FLOOR(CAST(s1 AS DOUBLE) / n * 1000000.0 + 0.5) AS BIGINT)
           AS qmean,
         CASE WHEN CAST(s2 AS DOUBLE) / n - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n) > 0
               AND s1 > 0 THEN
           CASE WHEN sqrt(CAST(s2 AS DOUBLE) / n
                          - (CAST(s1 AS DOUBLE) / n) * (CAST(s1 AS DOUBLE) / n))
                     / (CAST(s1 AS DOUBLE) / n) < 0.5 THEN 1 ELSE 0 END
           ELSE 0 END AS regular
  FROM rpc
),
rpr AS (
  SELECT qmean, ROW_NUMBER() OVER (ORDER BY qmean) AS r, COUNT(*) OVER () AS n
  FROM rpm
)
SELECT CAST((SELECT COUNT(*) FROM rpm) AS BIGINT) AS n_repeat_customers,
       ROUND(CAST((SELECT MAX(CASE WHEN r = CAST(CEIL(0.5 * n) AS BIGINT)
                                   THEN qmean END) FROM rpr) AS DOUBLE)
             / 1000000.0, 6) AS median_cycle_days,
       ROUND(CAST((SELECT SUM(regular) FROM rpm) AS DOUBLE)
             / (SELECT COUNT(*) FROM rpm), 6) AS regular_cadence_share
""",
)
def rel_replenishment_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Replenishment cadence: the median per-customer mean inter-order gap
    (the reorder cycle that sets inventory and win-back timing) and the
    share of customers with REGULAR cadence (gap CV < 0.5 — the
    subscription-like segment). Per-customer gap moments are exact
    integers; the median is the usual rank-select over micro-quantized
    means."""
    from polars_quant_spark.sources.bars import load_table

    o = load_table(spark, sf_dir, "orders")
    day = F.expr(
        "unix_micros(to_utc_timestamp(o_orderdate, 'UTC')) DIV 86400000000"
    )
    wg = Window.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    g = o.select(
        "o_custkey", (day - F.lag(day).over(wg)).alias("gap_days")
    ).where(F.col("gap_days").isNotNull())
    dec = "decimal(38,0)"
    c = (
        g.groupBy("o_custkey")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("gap_days").alias("s1"),
            F.sum(F.col("gap_days").cast(dec) * F.col("gap_days")).alias("s2"),
        )
        .where(F.col("n") >= 2)
    )
    n = F.col("n")
    mu = F.col("s1").cast("double") / n
    var = F.col("s2").cast("double") / n - mu * mu
    m = c.select(
        F.floor(mu * 1e6 + F.lit(0.5)).cast("long").alias("qmean"),
        F.when(
            (var > 0) & (F.col("s1") > 0),
            F.when(F.sqrt(var) / mu < 0.5, 1).otherwise(0),
        )
        .otherwise(0)
        .alias("regular"),
    )
    wr = Window.orderBy("qmean")
    wall = Window.partitionBy()
    r = m.select(
        "qmean",
        "regular",
        F.row_number().over(wr).alias("r"),
        F.count(F.lit(1)).over(wall).alias("nn"),
    )
    return r.agg(
        F.count(F.lit(1)).cast("long").alias("n_repeat_customers"),
        r6(
            F.max(
                F.when(
                    F.col("r") == F.ceil(F.lit(0.5) * F.col("nn")).cast("long"),
                    F.col("qmean"),
                )
            ).cast("double")
            / 1e6
        ).alias("median_cycle_days"),
        r6(F.sum("regular").cast("double") / F.count(F.lit(1))).alias(
            "regular_cadence_share"
        ),
    )


@q(
    "ind_nr7_wr7",
    BARS_CTE
    + """,
nrq AS (
  SELECT symbol, t,
         CAST(FLOOR((high - low) * 1000000.0 + 0.5) AS BIGINT) AS qrange
  FROM bars
)
SELECT symbol, t,
       ROUND(CAST(qrange AS DOUBLE) / 1000000.0, 6) AS bar_range,
       CAST(CASE WHEN COUNT(qrange) OVER w = 7
                  AND qrange < MIN(qrange) OVER wp THEN 1 ELSE 0 END AS INTEGER) AS nr7,
       CAST(CASE WHEN COUNT(qrange) OVER w = 7
                  AND qrange > MAX(qrange) OVER wp THEN 1 ELSE 0 END AS INTEGER) AS wr7
FROM nrq
WINDOW w AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 6 PRECEDING AND CURRENT ROW),
       wp AS (PARTITION BY symbol ORDER BY t ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)
ORDER BY symbol, t
""",
)
def ind_nr7_wr7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NR7 / WR7 flags: the bar whose range is strictly the narrowest
    (coiling — breakout setup) or widest (climax) of the trailing seven —
    Crabel's classic volatility-cycle markers. Ranges micro-quantize so
    the strict comparisons are exact; two frames on one window pass."""
    b = bars(spark, sf_dir)
    qrange = F.floor((F.col("high") - F.col("low")) * 1e6 + F.lit(0.5)).cast("long")
    src = b.select("symbol", "t", qrange.alias("qrange"))
    w = _w().rowsBetween(-6, 0)
    wp = _w().rowsBetween(-6, -1)
    full = F.count("qrange").over(w) == 7
    nr7 = F.when(full & (F.col("qrange") < F.min("qrange").over(wp)), 1).otherwise(0)
    wr7 = F.when(full & (F.col("qrange") > F.max("qrange").over(wp)), 1).otherwise(0)
    return src.select(
        "symbol",
        "t",
        r6(F.col("qrange").cast("double") / 1e6).alias("bar_range"),
        nr7.cast("int").alias("nr7"),
        wr7.cast("int").alias("wr7"),
    ).orderBy("symbol", "t")


@q(
    "bars_extreme_timing",
    BARS_CTE
    + """,
etd AS (
  SELECT symbol, ts_us // 86400000000 AS day,
         arg_max(ts_us % 86400000000, high * 4096 + (ts_us % 4096) / 4096.0) AS hi_tod,
         arg_min(ts_us % 86400000000, low * 4096 + (ts_us % 4096) / 4096.0) AS lo_tod,
         COUNT(*) AS n_bars
  FROM bars GROUP BY 1, 2 HAVING COUNT(*) >= 6
)
SELECT symbol,
       CAST(COUNT(*) AS BIGINT) AS n_days,
       ROUND(CAST(SUM(CASE WHEN hi_tod * 3 < 86400000000 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS high_in_first_third,
       ROUND(CAST(SUM(CASE WHEN hi_tod * 3 >= 2 * 86400000000 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS high_in_last_third,
       ROUND(CAST(SUM(CASE WHEN lo_tod * 3 < 86400000000 THEN 1 ELSE 0 END) AS DOUBLE)
             / COUNT(*), 6) AS low_in_first_third
FROM etd
GROUP BY symbol
ORDER BY symbol
""",
)
def bars_extreme_timing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intraday extreme timing: on what fraction of days does the HIGH
    print in the first vs last third of the session (and the low in the
    first) — the open-drive vs late-day-ramp fingerprint that intraday
    execution schedules key off. Daily extremes pick by a composite
    (price·4096 + time tie-break) so both engines choose the same bar on
    equal prices."""
    b = bars(spark, sf_dir)
    tod = F.col("ts_us") % 86400000000
    hikey = F.col("high") * 4096 + (F.col("ts_us") % 4096) / 4096.0
    lokey = F.col("low") * 4096 + (F.col("ts_us") % 4096) / 4096.0
    d = (
        b.select(
            "symbol",
            F.expr("ts_us DIV 86400000000").alias("day"),
            tod.alias("tod"),
            hikey.alias("hk"),
            lokey.alias("lk"),
        )
        .groupBy("symbol", "day")
        .agg(
            F.max_by("tod", "hk").alias("hi_tod"),
            F.min_by("tod", "lk").alias("lo_tod"),
            F.count(F.lit(1)).alias("n_bars"),
        )
        .where(F.col("n_bars") >= 6)
    )
    third = 86400000000
    return (
        d.groupBy("symbol")
        .agg(
            F.count(F.lit(1)).cast("long").alias("n_days"),
            r6(
                F.sum(F.when(F.col("hi_tod") * 3 < third, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("high_in_first_third"),
            r6(
                F.sum(F.when(F.col("hi_tod") * 3 >= 2 * third, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count(F.lit(1))
            ).alias("high_in_last_third"),
            r6(
                F.sum(F.when(F.col("lo_tod") * 3 < third, 1).otherwise(0)).cast("double")
                / F.count(F.lit(1))
            ).alias("low_in_first_third"),
        )
        .orderBy("symbol")
    )


@q(
    "bars_volume_volatility",
    BARS_CTE
    + """,
vvr AS (
  SELECT symbol, t,
         ABS(CAST(FLOOR((close / LAG(close) OVER (PARTITION BY symbol ORDER BY t) - 1.0)
                        * 1000000.0 + 0.5) AS BIGINT)) AS aq,
         CAST(FLOOR(volume + 0.5) AS BIGINT) AS qv
  FROM bars
),
vvm AS (
  SELECT symbol, COUNT(*) AS n, SUM(aq) AS sx, SUM(qv) AS sy,
         SUM(CAST(aq AS HUGEINT) * qv) AS sxy,
         SUM(CAST(aq AS HUGEINT) * aq) AS sxx,
         SUM(CAST(qv AS HUGEINT) * qv) AS syy
  FROM vvr WHERE aq IS NOT NULL GROUP BY symbol
)
SELECT symbol, CAST(n AS BIGINT) AS n_obs,
       ROUND(CASE WHEN n * sxx - sx * sx > 0 AND n * syy - sy * sy > 0 THEN
         CAST(n * sxy - sx * sy AS DOUBLE)
         / sqrt(CAST(n * sxx - sx * sx AS DOUBLE) * CAST(n * syy - sy * sy AS DOUBLE))
       END, 6) AS vol_volume_corr
FROM vvm
ORDER BY symbol
""",
)
def bars_volume_volatility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Volume–volatility correlation per symbol (|return| vs volume) — the
    mixture-of-distributions stylized fact: positive means big moves ride
    on big volume (information), near zero means volume is noise here —
    the sanity check behind every volume-confirmation trading rule and
    the Amihud/Kyle impact measures. Exact integer moments."""
    b = bars(spark, sf_dir)
    o = _w()
    aq = F.abs(
        F.floor(
            (F.col("close") / F.lag("close").over(o) - 1.0) * 1e6 + F.lit(0.5)
        ).cast("long")
    )
    qv = F.floor(F.col("volume") + F.lit(0.5)).cast("long")
    r = b.select("symbol", aq.alias("aq"), qv.alias("qv")).where(
        F.col("aq").isNotNull()
    )
    dec = "decimal(38,0)"
    m = r.groupBy("symbol").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("aq").alias("sx"),
        F.sum("qv").alias("sy"),
        F.sum(F.col("aq").cast(dec) * F.col("qv")).alias("sxy"),
        F.sum(F.col("aq").cast(dec) * F.col("aq")).alias("sxx"),
        F.sum(F.col("qv").cast(dec) * F.col("qv")).alias("syy"),
    )
    n = F.col("n").cast(dec)
    dxy = n * F.col("sxy") - F.col("sx").cast(dec) * F.col("sy")
    dxx = n * F.col("sxx") - F.col("sx").cast(dec) * F.col("sx")
    dyy = n * F.col("syy") - F.col("sy").cast(dec) * F.col("sy")
    corr = F.when(
        (dxx > 0) & (dyy > 0),
        dxy.cast("double") / F.sqrt(dxx.cast("double") * dyy.cast("double")),
    )
    return m.select(
        "symbol",
        F.col("n").cast("long").alias("n_obs"),
        r6(corr).alias("vol_volume_corr"),
    ).orderBy("symbol")


# Keep the driver's 50-slot capture window intact regardless of which query
# module was the import entry point (see queries.reorder_registration).
from polars_quant_spark.queries import reorder_registration as _ro  # noqa: E402

_ro()
