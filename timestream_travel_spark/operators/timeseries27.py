"""Time series, part 27 (promoted into load_all()'s round-11 tail):
DEMA/TEMA (Mulloy, Technical Analysis of S&C 1994 — lag-compensated
EMA composites), the Calmar ratio (Young, Futures 1991 — annualized
return over maximum drawdown), and a rolling-origin one-step
forecast backtest (Tashman, IJF 2000 — the standard out-of-sample
evaluation protocol) scoring naive vs seasonal-naive on the daily
level.

Exactness: DEMA/TEMA reuse q_trix's walk contract exactly — one
binary-exact-gain (α=0.25) triple-EMA carry-state walk, composites
2e1−e2 and 3e1−3e2+e3 as flat per-row expressions, recursive-CTE
oracle, compared unrounded. Calmar composes the q_sharpe_sortino
return discipline (returns quantized DECIMAL(20,10) at birth) with
the running-DECIMAL-peak drawdown; one flat division. The backtest
keeps absolute errors in exact DECIMAL (MAE exact until one
division) and quantizes squared errors to DECIMAL(24,12) before the
RMSE sum (order-independence).

Scale shape: one (type, day) reduce; walks and windows on the
bounded aggregate series.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from timestream_travel_spark.operators.timeseries26 import _daily_dec as _daily27
from timestream_travel_spark.registry import query

DT_A = 0.25  # EMA gain (N=7) — binary-exact, same as TRIX
CAL_ANN = 252  # annualization factor (trading-day convention)
BT_SEASON = 7  # seasonal-naive lag for the daily backtest (weekly)

_DAILY_SQL27 = """
      SELECT event_type AS t, strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
             SUM(CAST(value AS DECIMAL(20,4))) AS v
      FROM events GROUP BY 1, 2
"""


# -------------------------------------------------------- DEMA/TEMA
_DT_SCHEMA = "event_type string, day string, dema double, tema double"


def _dt_partition(batches):
    """Triple-EMA walk (q_trix contract); emits the DEMA/TEMA
    composites per row."""
    cur, e1, e2, e3 = None, 0.0, 0.0, 0.0
    for pdf in batches:
        types = pdf["event_type"].to_list()
        vals = pdf["x"].to_list()
        demas, temas = [], []
        for t, x in zip(types, vals):
            if t != cur:
                cur, e1, e2, e3 = t, x, x, x
            else:
                e1 = (1 - DT_A) * e1 + DT_A * x
                e2 = (1 - DT_A) * e2 + DT_A * e1
                e3 = (1 - DT_A) * e3 + DT_A * e2
            demas.append(2.0 * e1 - e2)
            temas.append(3.0 * e1 - 3.0 * e2 + e3)
        yield pd.DataFrame(
            {"event_type": types, "day": pdf["day"], "dema": demas, "tema": temas}
        )


@query(
    "q_dema_tema",
    oracle=f"""
    WITH RECURSIVE daily AS ({_DAILY_SQL27}
    ), s AS (
      SELECT t, day, CAST(CAST(v AS VARCHAR) AS DOUBLE) AS x,
             row_number() OVER (PARTITION BY t ORDER BY day) AS rn
      FROM daily
    ), r AS (
      SELECT t, day, x, rn, x AS e1, x AS e2, x AS e3
      FROM s WHERE rn = 1
      UNION ALL
      SELECT s.t, s.day, s.x, s.rn,
             {1 - DT_A} * r.e1 + {DT_A} * s.x,
             {1 - DT_A} * r.e2
               + {DT_A} * ({1 - DT_A} * r.e1 + {DT_A} * s.x),
             {1 - DT_A} * r.e3
               + {DT_A} * ({1 - DT_A} * r.e2
                 + {DT_A} * ({1 - DT_A} * r.e1 + {DT_A} * s.x))
      FROM s JOIN r ON s.t = r.t AND s.rn = r.rn + 1
    )
    SELECT t AS event_type, day,
           2.0 * e1 - e2 AS dema,
           3.0 * e1 - 3.0 * e2 + e3 AS tema
    FROM r
    """,
)
def q_dema_tema(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DEMA = 2·E1 − E2 and TEMA = 3·E1 − 3·E2 + E3 on the daily
    level (α={DT_A}, binary-exact): lag-compensated smoothers — the
    composites cancel the EMA's first-order lag while keeping its
    noise rejection. Same IEEE walk both engines; unrounded."""
    daily = _daily27(spark, sf_dir).select(
        F.col("t").alias("event_type"), "day", F.col("v").cast("double").alias("x")
    )
    return (
        daily.repartition("event_type")
        .sortWithinPartitions("event_type", "day")
        .mapInPandas(_dt_partition, _DT_SCHEMA)
    )


# ----------------------------------------------------------- Calmar
@query(
    "q_calmar_ratio",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL27}
    ), ret AS (
      SELECT t, day, v,
             CAST(CAST(CAST(v AS VARCHAR) AS DOUBLE)
                  / CAST(CAST(lag(v) OVER w AS VARCHAR) AS DOUBLE) - 1.0
                  AS DECIMAL(20,10)) AS r,
             MAX(v) OVER (PARTITION BY t ORDER BY day
                          ROWS UNBOUNDED PRECEDING) AS peak
      FROM daily WINDOW w AS (PARTITION BY t ORDER BY day)
    ), agg AS (
      SELECT t, CAST(COUNT(r) AS BIGINT) AS n,
             CAST(CAST(SUM(r) AS VARCHAR) AS DOUBLE) AS sr,
             MAX(CAST(CAST(peak - v AS VARCHAR) AS DOUBLE)
                 / CAST(CAST(peak AS VARCHAR) AS DOUBLE)) AS max_dd
      FROM ret GROUP BY t
    )
    SELECT t AS event_type, n AS n_returns, round(max_dd, 6) AS max_drawdown,
           round((sr / n * {CAL_ANN}) / max_dd, 6) AS calmar
    FROM agg WHERE max_dd > 0
    """,
)
def q_calmar_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calmar ratio per type: annualized mean daily return (×
    {CAL_ANN}) over the maximum drawdown of the running-DECIMAL-peak
    level series. Returns quantize to DECIMAL(20,10) at birth (the
    q_sharpe_sortino discipline) so their mean is
    partitioning-independent; drawdown ratios are flat doubles under
    an order-independent MAX; one final division. Flat-peak types
    (max_dd = 0) are excluded on both engines."""
    wl = Window.partitionBy("t").orderBy("day")
    wp = (
        Window.partitionBy("t")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    ret = _daily27(spark, sf_dir).select(
        "t",
        "v",
        (
            F.col("v").cast("double") / F.lag("v").over(wl).cast("double")
            - F.lit(1.0)
        )
        .cast("decimal(20,10)")
        .alias("r"),
        F.max("v").over(wp).alias("peak"),
    )
    agg = ret.groupBy("t").agg(
        F.count("r").cast("bigint").alias("n"),
        F.sum("r").cast("double").alias("sr"),
        F.max(
            (F.col("peak") - F.col("v")).cast("double")
            / F.col("peak").cast("double")
        ).alias("max_dd"),
    )
    return agg.filter(F.col("max_dd") > 0).select(
        F.col("t").alias("event_type"),
        F.col("n").alias("n_returns"),
        F.round("max_dd", 6).alias("max_drawdown"),
        F.round(
            (F.col("sr") / F.col("n") * CAL_ANN) / F.col("max_dd"), 6
        ).alias("calmar"),
    )


# ------------------------------------------------ rolling backtest
@query(
    "q_forecast_backtest",
    oracle=f"""
    WITH daily AS ({_DAILY_SQL27}
    ), lagged AS (
      SELECT t, day, v,
             lag(v) OVER w AS f_naive,
             lag(v, {BT_SEASON}) OVER w AS f_snaive
      FROM daily WINDOW w AS (PARTITION BY t ORDER BY day)
    ), errs AS (
      SELECT t,
             abs(v - f_naive) AS ae_n, abs(v - f_snaive) AS ae_s,
             CAST(CAST(CAST(abs(v - f_naive) AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(abs(v - f_naive) AS VARCHAR) AS DOUBLE)
                  AS DECIMAL(24,8)) AS se_n,
             CAST(CAST(CAST(abs(v - f_snaive) AS VARCHAR) AS DOUBLE)
                  * CAST(CAST(abs(v - f_snaive) AS VARCHAR) AS DOUBLE)
                  AS DECIMAL(24,8)) AS se_s
      FROM lagged WHERE f_snaive IS NOT NULL
    )
    SELECT t AS event_type, CAST(COUNT(*) AS BIGINT) AS n_origins,
           round(CAST(CAST(SUM(ae_n) AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
             AS mae_naive,
           round(CAST(CAST(SUM(ae_s) AS VARCHAR) AS DOUBLE) / COUNT(*), 6)
             AS mae_snaive,
           round(sqrt(CAST(CAST(SUM(se_n) AS VARCHAR) AS DOUBLE) / COUNT(*)), 6)
             AS rmse_naive,
           round(sqrt(CAST(CAST(SUM(se_s) AS VARCHAR) AS DOUBLE) / COUNT(*)), 6)
             AS rmse_snaive
    FROM errs GROUP BY t
    """,
)
def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin one-step backtest on the daily level: every day
    with a full {BT_SEASON}-day history is an origin; naive
    (f = x_(t−1)) vs seasonal-naive (f = x_(t−{BT_SEASON})) scored by
    MAE and RMSE per type. Absolute errors stay exact DECIMAL (MAE
    exact until one division); squared errors quantize to
    DECIMAL(24,8) before the sum; both forecasts share the SAME
    origin set so the comparison is paired."""
    wl = Window.partitionBy("t").orderBy("day")
    lagged = _daily27(spark, sf_dir).select(
        "t",
        "v",
        F.lag("v").over(wl).alias("f_naive"),
        F.lag("v", BT_SEASON).over(wl).alias("f_snaive"),
    ).filter(F.col("f_snaive").isNotNull())
    ae_n = F.abs(F.col("v") - F.col("f_naive"))
    ae_s = F.abs(F.col("v") - F.col("f_snaive"))
    errs = lagged.select(
        "t",
        ae_n.alias("ae_n"),
        ae_s.alias("ae_s"),
        (ae_n.cast("double") * ae_n.cast("double"))
        .cast("decimal(24,8)")
        .alias("se_n"),
        (ae_s.cast("double") * ae_s.cast("double"))
        .cast("decimal(24,8)")
        .alias("se_s"),
    )
    n = F.count(F.lit(1))
    return errs.groupBy(F.col("t").alias("event_type")).agg(
        n.cast("bigint").alias("n_origins"),
        F.round(F.sum("ae_n").cast("double") / n, 6).alias("mae_naive"),
        F.round(F.sum("ae_s").cast("double") / n, 6).alias("mae_snaive"),
        F.round(F.sqrt(F.sum("se_n").cast("double") / n), 6).alias("rmse_naive"),
        F.round(F.sqrt(F.sum("se_s").cast("double") / n), 6).alias("rmse_snaive"),
    )
