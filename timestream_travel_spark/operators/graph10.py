"""Graph analytics, part 10 (promoted into load_all()'s round-11
tail): the community MIXING MATRIX (Newman,
Phys. Rev. E 67, 2003 §II — the e_ij fractions assortativity and
modularity are both built from) of the LPA partition on the trade
backbone: for every unordered community pair, how many backbone
edges run inside vs between them. The matrix is the diagnostic
UNDER q_lpa_modularity's single score — which specific community
pairs leak edges.

Exactness: pure integer edge censuses over the exact LPA labels
(graph7's unrolled-CTE determinism); the fraction is one flat
division per row.

Scale shape: graph3's persisted edge extraction + two broadcast
label joins + one census — the q_lpa_modularity plan with the
group-by widened from the diagonal to the full pair grid.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from timestream_travel_spark.operators.graph3 import (
    _TOP_EDGES_SQL,
    top_trade_edges,
)
from timestream_travel_spark.operators.graph7 import _lpa_labels, _lpa_sql
from timestream_travel_spark.registry import query


@query(
    "q_community_mixing",
    oracle=f"""
    WITH {_TOP_EDGES_SQL},
    {_lpa_sql("lfin")},
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM es),
    cells AS (
      SELECT least(la.lab, lb.lab) AS comm_a,
             greatest(la.lab, lb.lab) AS comm_b,
             CAST(COUNT(*) AS BIGINT) AS n_edges
      FROM es
      JOIN lfin la ON la.node = es.a
      JOIN lfin lb ON lb.node = es.b
      GROUP BY 1, 2
    )
    SELECT comm_a, comm_b, n_edges,
           CASE WHEN comm_a = comm_b THEN 1 ELSE 0 END AS intra,
           round(CAST(n_edges AS DOUBLE) / m.m, 6) AS edge_frac
    FROM cells CROSS JOIN m
    """,
)
def q_community_mixing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community mixing matrix of the LPA partition: per unordered
    community pair (canonicalized least/greatest), the backbone edge
    count, the intra flag, and the fraction of all edges — Newman's
    e_ij table; Σ_diagonal(edge_frac) is exactly q_lpa_modularity's
    intra_edges/m term."""
    e = top_trade_edges(spark, sf_dir)
    lab = _lpa_labels(spark, sf_dir)
    la = lab.select(F.col("node").alias("a"), F.col("lab").alias("lab_a"))
    lb = lab.select(F.col("node").alias("b"), F.col("lab").alias("lab_b"))
    m = e.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    cells = (
        e.join(F.broadcast(la), "a")
        .join(F.broadcast(lb), "b")
        .groupBy(
            F.least("lab_a", "lab_b").alias("comm_a"),
            F.greatest("lab_a", "lab_b").alias("comm_b"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_edges"))
    )
    return cells.crossJoin(F.broadcast(m)).select(
        "comm_a",
        "comm_b",
        "n_edges",
        F.when(F.col("comm_a") == F.col("comm_b"), 1).otherwise(0).alias("intra"),
        F.round(F.col("n_edges").cast("double") / F.col("m"), 6).alias(
            "edge_frac"
        ),
    )
