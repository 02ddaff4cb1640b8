"""Time series, part 26 (round 11): adaptive / multi-line / eval
indicators the timeseries13-15 suite did not yet cover — KAMA
(Kaufman's Adaptive Moving Average, *Smarter Trading*, 1995),
Ichimoku Kinkō Hyō lines (Hosoda 1969 — window-extrema midpoints at
three spans), the True Strength Index (Blau, *Momentum, Direction
and Divergence*, 1995 — double-smoothed momentum ratio), seasonal
strength (the Hyndman & Athanasopoulos *FPP* §STL measure as an
hour-of-day variance decomposition), and Theil's U₂ forecast-quality
ratio (Theil 1966) scoring the seasonal-naive forecast against the
naive one — the forecast-eval analog of retrieval6's ranking eval.

Exactness: daily/hourly levels and their diffs stay exact (DECIMAL
levels, INTEGER counts); Ichimoku midpoints double the exact extrema
sum and divide once; KAMA precomputes the efficiency ratio from
decimal change/volatility sums (one double division per row), then
walks the q_macd carry-state contract with BINARY-EXACT smoothing
constants; TSI's two EMA stages use binary-exact gains 0.125/0.25
and the identical IEEE walk in the recursive-CTE oracle; seasonal
strength is a flat composition of exact integer power sums; Theil's
U₂ quantizes each squared relative error to DECIMAL(24,12) (the
q_dunning_keyness order-independence trick) before summing.

Scale shape: one map-side-combined (type, day|hour) reduce does the
corpus-sized work; windows and walks run on bounded aggregate series
with O(1) state per series.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from timestream_travel_spark.operators.analytics8 import _daily
from timestream_travel_spark.registry import query
from timestream_travel_spark.tables import load_table

KAMA_N = 10  # KAMA efficiency-ratio span (diffs)
KAMA_FAST = 0.5  # 2/(3+1) — binary-exact
KAMA_SLOW = 0.0625  # 2/(31+1) — binary-exact

# Ichimoku spans scaled to the 30-day fixture (the 9/26/52 daily
# originals assume ~9 months of sessions; ratios preserved ≈1:3:5)
ICHI_T = 5  # tenkan (conversion) span
ICHI_K = 15  # kijun (base) span
ICHI_S = 25  # senkou B span

TSI_A1 = 0.125  # first smoothing gain (N=15) — binary-exact
TSI_A2 = 0.25  # second smoothing gain (N=7) — binary-exact

_DAILY_DEC_SQL = """
      SELECT event_type AS t, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             SUM(CAST(value AS DECIMAL(20,4))) AS v
      FROM events GROUP BY 1, 2
"""


def _daily_dec(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The shared analytics8._daily spine with `day` as 'yyyy-MM-dd'."""
    return _daily(spark, sf_dir).select(
        "t", F.date_format("day", "yyyy-MM-dd").alias("day"), "v"
    )


# ------------------------------------------------------------- KAMA
_KAMA_SCHEMA = "event_type string, day string, er double, kama double"


def _kama_partition(batches):
    """KAMA walk over (event_type, day, x, er) rows sorted by
    (type, day): the first full-window row seeds kama = x; afterwards
    kama += sc·(x − kama) with sc = (er·(fast−slow) + slow)²."""
    cur, kama = None, 0.0
    for pdf in batches:
        types = pdf["event_type"].to_list()
        xs = pdf["x"].to_list()
        ers = pdf["er"].to_list()
        out = []
        for t, x, er in zip(types, xs, ers):
            if t != cur:
                cur, kama = t, x
            else:
                sc = (er * (KAMA_FAST - KAMA_SLOW) + KAMA_SLOW) ** 2
                kama = kama + sc * (x - kama)
            out.append(kama)
        yield pd.DataFrame(
            {"event_type": types, "day": pdf["day"], "er": ers, "kama": out}
        )


@query(
    "q_kama",
    oracle=f"""
    WITH RECURSIVE daily AS ({_DAILY_DEC_SQL}
    ), lagd AS (
      SELECT t, day, v,
             abs(v - lag(v, {KAMA_N}) OVER w) AS chg,
             abs(v - lag(v) OVER w) AS ad,
             row_number() OVER w AS rn0
      FROM daily
      WINDOW w AS (PARTITION BY t ORDER BY day)
    ), base AS (
      SELECT t, day, v, chg, rn0,
             SUM(ad) OVER (PARTITION BY t ORDER BY day
                ROWS BETWEEN {KAMA_N - 1} PRECEDING AND CURRENT ROW) AS vol
      FROM lagd
    ), er AS (
      SELECT t, day, CAST(CAST(v AS VARCHAR) AS DOUBLE) AS x,
             CASE WHEN CAST(CAST(vol AS VARCHAR) AS DOUBLE) = 0.0 THEN 0.0
                  ELSE CAST(CAST(chg AS VARCHAR) AS DOUBLE)
                       / CAST(CAST(vol AS VARCHAR) AS DOUBLE) END AS er,
             row_number() OVER (PARTITION BY t ORDER BY day) AS rn
      FROM base WHERE rn0 > {KAMA_N}
    ), r AS (
      SELECT t, day, x, er, rn, x AS kama FROM er WHERE rn = 1
      UNION ALL
      SELECT e.t, e.day, e.x, e.er, e.rn,
             r.kama + (e.er * {KAMA_FAST - KAMA_SLOW} + {KAMA_SLOW})
                      * (e.er * {KAMA_FAST - KAMA_SLOW} + {KAMA_SLOW})
                      * (e.x - r.kama)
      FROM er e JOIN r ON e.t = r.t AND e.rn = r.rn + 1
    )
    SELECT t AS event_type, day, er, kama FROM r
    """,
)
def q_kama(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaufman's Adaptive Moving Average on the daily level: the
    efficiency ratio er = |x_t − x_(t−{KAMA_N})| / Σ|Δx| (both sums
    exact DECIMAL, one double division) gates the smoothing constant
    sc = (er·(fast−slow)+slow)² between fast {KAMA_FAST} and slow
    {KAMA_SLOW} (binary-exact), and kama += sc·(x − kama) walks with
    the q_macd carry-state contract. Emitted from the first
    full-window row (seeded kama = x there); compared unrounded."""
    wl = Window.partitionBy("t").orderBy("day")
    wv = (
        Window.partitionBy("t")
        .orderBy("day")
        .rowsBetween(-(KAMA_N - 1), Window.currentRow)
    )
    base = _daily_dec(spark, sf_dir).select(
        "t",
        "day",
        "v",
        F.abs(F.col("v") - F.lag("v", KAMA_N).over(wl)).alias("chg"),
        F.sum(F.abs(F.col("v") - F.lag("v").over(wl))).over(wv).alias("vol"),
        F.row_number().over(wl).alias("rn"),
    )
    er = base.filter(F.col("rn") > KAMA_N).select(
        F.col("t").alias("event_type"),
        "day",
        F.col("v").cast("double").alias("x"),
        F.when(F.col("vol").cast("double") == 0.0, F.lit(0.0))
        .otherwise(F.col("chg").cast("double") / F.col("vol").cast("double"))
        .alias("er"),
    )
    return (
        er.repartition("event_type")
        .sortWithinPartitions("event_type", "day")
        .mapInPandas(_kama_partition, _KAMA_SCHEMA)
    )


# --------------------------------------------------------- Ichimoku
@query(
    "q_ichimoku_lines",
    oracle=f"""
    WITH daily AS ({_DAILY_DEC_SQL}
    ), win AS (
      SELECT t, day,
             MAX(v) OVER wt AS ht, MIN(v) OVER wt AS lt,
             MAX(v) OVER wk AS hk, MIN(v) OVER wk AS lk,
             MAX(v) OVER ws AS hs, MIN(v) OVER ws AS ls,
             COUNT(*) OVER ws AS nw
      FROM daily
      WINDOW wt AS (PARTITION BY t ORDER BY day
                    ROWS BETWEEN {ICHI_T - 1} PRECEDING AND CURRENT ROW),
             wk AS (PARTITION BY t ORDER BY day
                    ROWS BETWEEN {ICHI_K - 1} PRECEDING AND CURRENT ROW),
             ws AS (PARTITION BY t ORDER BY day
                    ROWS BETWEEN {ICHI_S - 1} PRECEDING AND CURRENT ROW)
    )
    SELECT t AS event_type, day,
           CAST(CAST(ht + lt AS VARCHAR) AS DOUBLE) / 2.0 AS tenkan,
           CAST(CAST(hk + lk AS VARCHAR) AS DOUBLE) / 2.0 AS kijun,
           (CAST(CAST(ht + lt AS VARCHAR) AS DOUBLE) / 2.0
            + CAST(CAST(hk + lk AS VARCHAR) AS DOUBLE) / 2.0) / 2.0
             AS senkou_a,
           CAST(CAST(hs + ls AS VARCHAR) AS DOUBLE) / 2.0 AS senkou_b
    FROM win WHERE nw = {ICHI_S}
    """,
)
def q_ichimoku_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ichimoku lines per type/day at fixture-scaled spans
    {ICHI_T}/{ICHI_K}/{ICHI_S}: tenkan and kijun are window-extrema
    midpoints, senkou A their mean, senkou B the long-span midpoint
    (values computed AT each day; the chart's 26-period forward
    displacement is presentation, not computation). Extrema sums stay
    exact DECIMAL and bridge once; the /2s are exact powers of two.
    Rows emit once the longest window is full."""
    d = _daily_dec(spark, sf_dir)
    mk = lambda span: (  # noqa: E731
        Window.partitionBy("t")
        .orderBy("day")
        .rowsBetween(-(span - 1), Window.currentRow)
    )
    wt, wk, ws = mk(ICHI_T), mk(ICHI_K), mk(ICHI_S)
    win = d.select(
        "t",
        "day",
        F.max("v").over(wt).alias("ht"),
        F.min("v").over(wt).alias("lt"),
        F.max("v").over(wk).alias("hk"),
        F.min("v").over(wk).alias("lk"),
        F.max("v").over(ws).alias("hs"),
        F.min("v").over(ws).alias("ls"),
        F.count("*").over(ws).alias("nw"),
    )
    half = lambda h, l: (F.col(h) + F.col(l)).cast("double") / F.lit(2.0)  # noqa: E731
    return win.filter(F.col("nw") == ICHI_S).select(
        F.col("t").alias("event_type"),
        "day",
        half("ht", "lt").alias("tenkan"),
        half("hk", "lk").alias("kijun"),
        ((half("ht", "lt") + half("hk", "lk")) / F.lit(2.0)).alias("senkou_a"),
        half("hs", "ls").alias("senkou_b"),
    )


# --------------------------------------------------------------- TSI
_TSI_SCHEMA = "event_type string, day string, tsi double"


def _tsi_partition(batches):
    """Double-smoothed momentum walk: EMA({TSI_A2}) of EMA({TSI_A1})
    of m and |m|; seeds all four states to the first momentum."""
    cur = None
    e1m = e2m = e1a = e2a = 0.0
    for pdf in batches:
        types = pdf["event_type"].to_list()
        ms = pdf["m"].to_list()
        out = []
        for t, m in zip(types, ms):
            am = abs(m)
            if t != cur:
                cur = t
                e1m, e2m, e1a, e2a = m, m, am, am
            else:
                e1m = (1 - TSI_A1) * e1m + TSI_A1 * m
                e2m = (1 - TSI_A2) * e2m + TSI_A2 * e1m
                e1a = (1 - TSI_A1) * e1a + TSI_A1 * am
                e2a = (1 - TSI_A2) * e2a + TSI_A2 * e1a
            out.append(100.0 * e2m / e2a if e2a != 0.0 else None)
        yield pd.DataFrame({"event_type": types, "day": pdf["day"], "tsi": out})


@query(
    "q_tsi",
    oracle=f"""
    WITH RECURSIVE daily AS ({_DAILY_DEC_SQL}
    ), mom AS (
      SELECT t, day,
             CAST(CAST(v - lag(v) OVER (PARTITION BY t ORDER BY day)
                  AS VARCHAR) AS DOUBLE) AS m
      FROM daily
    ), s AS (
      SELECT t, day, m,
             row_number() OVER (PARTITION BY t ORDER BY day) AS rn
      FROM mom WHERE m IS NOT NULL
    ), r AS (
      SELECT t, day, m, rn,
             m AS e1m, m AS e2m, abs(m) AS e1a, abs(m) AS e2a
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.t, s.day, s.m, s.rn,
             {1 - TSI_A1} * r.e1m + {TSI_A1} * s.m,
             {1 - TSI_A2} * r.e2m
               + {TSI_A2} * ({1 - TSI_A1} * r.e1m + {TSI_A1} * s.m),
             {1 - TSI_A1} * r.e1a + {TSI_A1} * abs(s.m),
             {1 - TSI_A2} * r.e2a
               + {TSI_A2} * ({1 - TSI_A1} * r.e1a + {TSI_A1} * abs(s.m))
      FROM s JOIN r ON s.t = r.t AND s.rn = r.rn + 1
    )
    SELECT t AS event_type, day,
           CASE WHEN e2a <> 0.0 THEN 100.0 * e2m / e2a END AS tsi
    FROM r
    """,
)
def q_tsi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """True Strength Index: 100 · EMA₂(momentum) / EMA₂(|momentum|)
    with binary-exact gains {TSI_A1}/{TSI_A2} — double smoothing
    filters daily noise while the |m| denominator normalizes to
    [−100, 100]. Momentum is the exact DECIMAL daily diff bridged to
    double once; the four-state walk follows the q_macd contract and
    compares unrounded."""
    wl = Window.partitionBy("t").orderBy("day")
    mom = (
        _daily_dec(spark, sf_dir)
        .select(
            F.col("t").alias("event_type"),
            "day",
            (F.col("v") - F.lag("v").over(wl)).cast("double").alias("m"),
        )
        .filter(F.col("m").isNotNull())
    )
    return (
        mom.repartition("event_type")
        .sortWithinPartitions("event_type", "day")
        .mapInPandas(_tsi_partition, _TSI_SCHEMA)
    )


# ------------------------------------------------- seasonal strength
@query(
    "q_seasonal_strength",
    oracle="""
    WITH hourly AS (
      SELECT event_type AS t, date_trunc('hour', ts) AS hour,
             CAST(extract(hour FROM ts) AS INT) AS hod,
             CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2, 3
    ), per_h AS (
      SELECT t, hod, CAST(SUM(x) AS BIGINT) AS sh,
             CAST(SUM(x * x) AS BIGINT) AS qh,
             CAST(COUNT(*) AS BIGINT) AS nh
      FROM hourly GROUP BY t, hod
    ), tot AS (
      SELECT t, CAST(SUM(sh) AS BIGINT) AS s, CAST(SUM(qh) AS BIGINT) AS q,
             CAST(SUM(nh) AS BIGINT) AS n,
             SUM(CAST(sh AS DOUBLE) * sh / nh) AS within_exp
      FROM per_h GROUP BY t
    )
    SELECT t AS event_type, n AS n_hours,
           round(1.0 - (q - within_exp)
                       / (q - CAST(s AS DOUBLE) * s / n), 6)
             AS seasonal_strength
    FROM tot
    """,
)
def q_seasonal_strength(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal strength of the hourly count series per type (FPP
    §STL measure with hour-of-day means as the seasonal component):
    1 − SSE_within / SST = the variance fraction the hour-of-day
    profile explains. Assembled from exact INTEGER power sums
    (Σx, Σx², per-hour-of-day subtotals); the Σ S_h²/n_h bridge is a
    24-term double sum over per-group exact integers, identically
    grouped on both engines; one flat composition per output row."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type").alias("t"),
        F.date_trunc("hour", "ts").alias("hour"),
        F.hour("ts").cast("int").alias("hod"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    per_h = hourly.groupBy("t", "hod").agg(
        F.sum("x").cast("bigint").alias("sh"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("qh"),
        F.count(F.lit(1)).cast("bigint").alias("nh"),
    )
    tot = per_h.groupBy("t").agg(
        F.sum("sh").cast("bigint").alias("s"),
        F.sum("qh").cast("bigint").alias("q"),
        F.sum("nh").cast("bigint").alias("n"),
        F.sum(F.col("sh").cast("double") * F.col("sh") / F.col("nh")).alias(
            "within_exp"
        ),
    )
    return tot.select(
        F.col("t").alias("event_type"),
        F.col("n").alias("n_hours"),
        F.round(
            F.lit(1.0)
            - (F.col("q") - F.col("within_exp"))
            / (F.col("q") - F.col("s").cast("double") * F.col("s") / F.col("n")),
            6,
        ).alias("seasonal_strength"),
    )


# ------------------------------------------------ Theil U2 (naive²)
@query(
    "q_theil_u_forecast",
    oracle="""
    WITH hourly AS (
      SELECT event_type AS t, strftime(date_trunc('hour', ts),
             '%Y-%m-%d %H:%M:%S') AS hour, CAST(COUNT(*) AS BIGINT) AS x
      FROM events GROUP BY 1, 2
    ), lagged AS (
      SELECT t, hour, x,
             lag(x) OVER w AS x1,
             lag(x, 24) OVER w AS x24
      FROM hourly WINDOW w AS (PARTITION BY t ORDER BY hour)
    ), terms AS (
      SELECT t,
             CAST((CAST(x - x24 AS DOUBLE) / x1)
                  * (CAST(x - x24 AS DOUBLE) / x1) AS DECIMAL(24,12)) AS fs,
             CAST((CAST(x - x1 AS DOUBLE) / x1)
                  * (CAST(x - x1 AS DOUBLE) / x1) AS DECIMAL(24,12)) AS ns
      FROM lagged WHERE x24 IS NOT NULL AND x1 > 0
    )
    SELECT t AS event_type, CAST(COUNT(*) AS BIGINT) AS n_terms,
           round(sqrt(CAST(CAST(SUM(fs) AS VARCHAR) AS DOUBLE)
                      / CAST(CAST(SUM(ns) AS VARCHAR) AS DOUBLE)), 6)
             AS theil_u2
    FROM terms GROUP BY t
    """,
)
def q_theil_u_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil's U₂ scoring the SEASONAL-naive hourly forecast
    (f_t = x_{t−24}) against the naive one (f_t = x_{t−1}):
    U₂ = √(Σ((x_t−x_{t−24})/x_{t−1})² / Σ((x_t−x_{t−1})/x_{t−1})²) —
    below 1 means the daily profile genuinely forecasts. Each squared
    relative error quantizes to DECIMAL(24,12) before the sum (the
    q_dunning_keyness order-independence trick), so the aggregation
    is partitioning-independent; one division + sqrt at the end."""
    ev = load_table(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.col("event_type").alias("t"),
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss").alias(
            "hour"
        ),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    wl = Window.partitionBy("t").orderBy("hour")
    lagged = hourly.select(
        "t",
        "x",
        F.lag("x").over(wl).alias("x1"),
        F.lag("x", 24).over(wl).alias("x24"),
    ).filter(F.col("x24").isNotNull() & (F.col("x1") > 0))
    fe = (F.col("x") - F.col("x24")).cast("double") / F.col("x1")
    ne = (F.col("x") - F.col("x1")).cast("double") / F.col("x1")
    terms = lagged.select(
        "t",
        (fe * fe).cast("decimal(24,12)").alias("fs"),
        (ne * ne).cast("decimal(24,12)").alias("ns"),
    )
    return terms.groupBy(F.col("t").alias("event_type")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_terms"),
        F.round(
            F.sqrt(
                F.sum("fs").cast("double") / F.sum("ns").cast("double")
            ),
            6,
        ).alias("theil_u2"),
    )
