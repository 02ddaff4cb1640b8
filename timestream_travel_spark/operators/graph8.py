"""Graph analytics, part 8 (round 11): one synchronous Louvain
refinement sweep (Blondel, Guillaume, Lambiotte & Lefebvre, J. Stat.
Mech. 2008 §2) over the LPA partition of the top-revenue trade
backbone, scored with graph7's exact-integer Newman–Girvan
modularity — the r10 verdict's growth-wave candidate (b).

The paper's node-local move rule: take node i out of its community
c, and insert it into the neighbor community c' maximizing the
modularity gain. For an unweighted graph with m edges, 4m² times the
gain of moving i (degree k_i, k_{i,X} edges from i into community X)
from c to c' is the exact INTEGER

    gain4m2 = 4·m·(k_{i,c'} − k_{i,c}) − 2·k_i·(D_{c'} − D_c + k_i)

(D_X = degree sum of X, both taken BEFORE the move) — so the argmax,
the positivity test, and the tiebreak (gain DESC, then smaller
target label) are all integer-exact cross-engine. The sequential
visit order of the paper is replaced by ONE deterministic
synchronous sweep: every node picks its best move from the same
pre-sweep state and all positive moves apply at once (the same
determinism trade q_label_propagation makes); the refined partition
is then re-scored with the identical integer modularity census, and
both scores ship in the result so the sweep's effect is pinned.

Scale shape: the heavy stage stays graph3's fact-table edge
extraction (paid once, persisted); the sweep is two joins and two
censuses on the ≤2·TOP_EDGES-row symmetrized backbone — per
superstep exactly the Pregel shape of the LPA rounds it refines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from timestream_travel_spark.operators.graph3 import (
    _TOP_EDGES_SQL,
    top_trade_edges,
)
from timestream_travel_spark.operators.graph7 import (
    _lpa_labels_distributed,
    _lpa_sql,
)
from timestream_travel_spark.registry import query

# modularity census over a (node, lab) CTE named `{lab}`, emitting
# `{out}(intra BIGINT, d2 BIGINT, nc BIGINT)` — 4m²·Q = 4m·intra − d2
_MOD_SQL = """{out} AS (
      SELECT CAST(SUM(COALESCE(ec.e_in, 0)) AS BIGINT) AS intra,
             CAST(SUM(dc.dsum * dc.dsum) AS BIGINT) AS d2,
             CAST(COUNT(*) AS BIGINT) AS nc
      FROM (
        SELECT l.lab, CAST(SUM(deg.d) AS BIGINT) AS dsum
        FROM deg JOIN {lab} l ON l.node = deg.node GROUP BY l.lab
      ) dc LEFT JOIN (
        SELECT la.lab, CAST(COUNT(*) AS BIGINT) AS e_in
        FROM es
        JOIN {lab} la ON la.node = es.a
        JOIN {lab} lb ON lb.node = es.b
        WHERE la.lab = lb.lab GROUP BY la.lab
      ) ec ON ec.lab = dc.lab
    )"""


@query(
    "q_louvain_one_level",
    oracle=f"""
    WITH {_TOP_EDGES_SQL},
    {_lpa_sql("lfin")},
    m AS (SELECT CAST(COUNT(*) AS BIGINT) AS m FROM es),
    deg AS (
      SELECT u AS node, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY u
    ),
    dcsum AS (
      SELECT l.lab, CAST(SUM(deg.d) AS BIGINT) AS dsum
      FROM deg JOIN lfin l ON l.node = deg.node GROUP BY l.lab
    ),
    ki AS (
      SELECT s.u AS node, lv.lab, CAST(COUNT(*) AS BIGINT) AS k
      FROM sym s JOIN lfin lv ON lv.node = s.v
      GROUP BY s.u, lv.lab
    ),
    own AS (
      SELECT l.node, l.lab AS c_own, deg.d AS ki_deg,
             COALESCE(k.k, 0) AS k_own, dc.dsum AS d_own
      FROM lfin l
      JOIN deg ON deg.node = l.node
      JOIN dcsum dc ON dc.lab = l.lab
      LEFT JOIN ki k ON k.node = l.node AND k.lab = l.lab
    ),
    moves AS (
      SELECT node, lab AS target, gain4m2,
             row_number() OVER (PARTITION BY node
                                ORDER BY gain4m2 DESC, lab) AS rn
      FROM (
        SELECT o.node, ki.lab,
               4 * m.m * (ki.k - o.k_own)
                 - 2 * o.ki_deg * (dc.dsum - o.d_own + o.ki_deg) AS gain4m2
        FROM own o
        JOIN ki ON ki.node = o.node AND ki.lab <> o.c_own
        JOIN dcsum dc ON dc.lab = ki.lab
        CROSS JOIN m
      )
    ),
    lnew AS (
      SELECT o.node,
             CASE WHEN mv.gain4m2 > 0 THEN mv.target ELSE o.c_own END AS lab
      FROM own o LEFT JOIN moves mv ON mv.node = o.node AND mv.rn = 1
    ),
    {_MOD_SQL.format(out="p0", lab="lfin")},
    {_MOD_SQL.format(out="p1", lab="lnew")},
    nm AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_moved
      FROM lnew n JOIN lfin l ON l.node = n.node AND l.lab <> n.lab
    )
    SELECT m.m AS m_edges, nm.n_moved,
           p0.nc AS n_comm_before, p1.nc AS n_comm_after,
           round(CAST(4 * m.m * p0.intra - p0.d2 AS DOUBLE)
                 / (4.0 * m.m * m.m), 6) AS modularity_before,
           round(CAST(4 * m.m * p1.intra - p1.d2 AS DOUBLE)
                 / (4.0 * m.m * m.m), 6) AS modularity_after
    FROM m CROSS JOIN nm CROSS JOIN p0 CROSS JOIN p1
    """,
)
def q_louvain_one_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One deterministic synchronous Louvain sweep refining the LPA
    partition, with exact-integer gains and before/after modularity
    (see module docstring for the gain algebra).

    r15: the LPA labels, the gain sweep, and both modularity censuses
    run driver-side over the collected backbone (bounded driver
    state, all-integer — the q_kcore_trade pattern; the distributed
    plan below paid ~3.2 s of plan compilation + AQE at sf0.1 even
    after its r11 checkpoint fix). The two rounded double divisions
    stay Spark expressions over the exact integers."""
    from timestream_travel_spark.operators.graph7 import _lpa_driver
    from timestream_travel_spark.operators.graph_kit import collect_sym

    backbone = collect_sym(spark, sf_dir)
    nodes, adj, edges = backbone
    lab = _lpa_driver(spark, sf_dir, backbone)
    m = len(edges)
    deg = {u: len(adj[u]) for u in nodes}
    dsum: dict[int, int] = {}
    for u in nodes:
        dsum[lab[u]] = dsum.get(lab[u], 0) + deg[u]
    lnew: dict[int, int] = {}
    for u in nodes:
        c_own = lab[u]
        ki: dict[int, int] = {}
        for v in adj[u]:
            ki[lab[v]] = ki.get(lab[v], 0) + 1
        k_own = ki.get(c_own, 0)
        best = None  # (gain, target)
        for tgt, k in ki.items():
            if tgt == c_own:
                continue
            gain = 4 * m * (k - k_own) - 2 * deg[u] * (
                dsum[tgt] - dsum[c_own] + deg[u]
            )
            if best is None or (gain, -tgt) > (best[0], -best[1]):
                best = (gain, tgt)
        lnew[u] = best[1] if best is not None and best[0] > 0 else c_own

    def _mod_parts(labels: dict) -> tuple:
        dc: dict[int, int] = {}
        for u in nodes:
            dc[labels[u]] = dc.get(labels[u], 0) + deg[u]
        e_in: dict[int, int] = {}
        for a, b in edges:
            if labels[a] == labels[b]:
                e_in[labels[a]] = e_in.get(labels[a], 0) + 1
        return (
            sum(e_in.get(c, 0) for c in dc),
            sum(d * d for d in dc.values()),
            len(dc),
        )

    i0, q0d2, nc0 = _mod_parts(lab)
    i1, q1d2, nc1 = _mod_parts(lnew)
    n_moved = sum(1 for u in nodes if lab[u] != lnew[u])
    parts = spark.createDataFrame(
        [
            (
                int(m),
                int(n_moved),
                int(nc0),
                int(nc1),
                int(i0),
                int(q0d2),
                int(i1),
                int(q1d2),
            )
        ],
        "m bigint, n_moved bigint, n_comm_before bigint, n_comm_after bigint,"
        " i0 bigint, q0d2 bigint, i1 bigint, q1d2 bigint",
    )
    q_of = lambda intra, d2: F.round(  # noqa: E731
        (F.lit(4) * F.col("m") * intra - d2).cast("double")
        / (F.lit(4.0) * F.col("m") * F.col("m")),
        6,
    )
    return parts.select(
        F.col("m").alias("m_edges"),
        "n_moved",
        "n_comm_before",
        "n_comm_after",
        q_of(F.col("i0"), F.col("q0d2")).alias("modularity_before"),
        q_of(F.col("i1"), F.col("q1d2")).alias("modularity_after"),
    )


def q_louvain_one_level_distributed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-r15 distributed sweep — the documented unbounded-graph
    path (Pregel-shaped joins); parity with the driver-side query is
    pinned in test_r15_optimization."""
    e = top_trade_edges(spark, sf_dir)
    # localCheckpoint, not persist: the gain/census/modularity stages
    # reference the label table 5+ times, and each reference embeds
    # the 4-round LPA lineage into the plan — truncating it here cut
    # the measured sf0.1 wall 7.9 s → 3.2 s (the data is ≤|nodes|
    # rows; the cost was plan compilation + AQE, not execution)
    lab = _lpa_labels_distributed(spark, sf_dir).localCheckpoint(eager=True)
    sym = (
        e.select(F.col("a").alias("u"), F.col("b").alias("v"))
        .unionAll(e.select(F.col("b").alias("u"), F.col("a").alias("v")))
        .persist()
    )
    m = e.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    deg = sym.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).cast("bigint").alias("d")
    )
    dcsum = deg.join(lab, "node").groupBy("lab").agg(
        F.sum("d").cast("bigint").alias("dsum")
    )
    ki = (
        sym.alias("s")
        .join(lab.alias("lv"), F.col("lv.node") == F.col("s.v"))
        .groupBy(F.col("s.u").alias("node"), F.col("lv.lab").alias("lab"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("k"))
    )
    own = (
        lab.select("node", F.col("lab").alias("c_own"))
        .join(deg.withColumnRenamed("d", "ki_deg"), "node")
        .join(dcsum.select(F.col("lab").alias("c_own"), F.col("dsum").alias("d_own")), "c_own")
        .join(
            ki.select("node", F.col("lab").alias("c_own"), F.col("k").alias("k_own")),
            ["node", "c_own"],
            "left",
        )
        .select(
            "node",
            "c_own",
            "ki_deg",
            F.coalesce("k_own", F.lit(0)).alias("k_own"),
            "d_own",
        )
    )
    cand = (
        own.join(ki.filter(F.col("lab").isNotNull()), "node")
        .filter(F.col("lab") != F.col("c_own"))
        .join(F.broadcast(dcsum.withColumnRenamed("dsum", "d_tgt")), "lab")
        .crossJoin(F.broadcast(m))
        .select(
            "node",
            "lab",
            (
                F.lit(4) * F.col("m") * (F.col("k") - F.col("k_own"))
                - F.lit(2)
                * F.col("ki_deg")
                * (F.col("d_tgt") - F.col("d_own") + F.col("ki_deg"))
            ).alias("gain4m2"),
        )
    )
    w = Window.partitionBy("node").orderBy(F.desc("gain4m2"), F.asc("lab"))
    best = (
        cand.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("node", F.col("lab").alias("target"), "gain4m2")
    )
    lnew = (
        own.select("node", "c_own")
        .join(best, "node", "left")
        .select(
            "node",
            F.when(F.col("gain4m2") > 0, F.col("target"))
            .otherwise(F.col("c_own"))
            .alias("lab"),
        )
        .localCheckpoint(eager=True)
    )

    def mod_parts(lab_df: DataFrame) -> DataFrame:
        dc = deg.join(lab_df, "node").groupBy("lab").agg(
            F.sum("d").cast("bigint").alias("dsum")
        )
        la = lab_df.select(F.col("node").alias("a"), F.col("lab").alias("lab_a"))
        lb = lab_df.select(F.col("node").alias("b"), F.col("lab").alias("lab_b"))
        ec = (
            e.join(F.broadcast(la), "a")
            .join(F.broadcast(lb), "b")
            .filter(F.col("lab_a") == F.col("lab_b"))
            .groupBy(F.col("lab_a").alias("lab"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("e_in"))
        )
        return dc.join(ec, "lab", "left").agg(
            F.sum(F.coalesce("e_in", F.lit(0))).cast("bigint").alias("intra"),
            F.sum(F.col("dsum") * F.col("dsum")).cast("bigint").alias("d2"),
            F.count(F.lit(1)).cast("bigint").alias("nc"),
        )

    p0 = mod_parts(lab)
    p1 = mod_parts(lnew)
    nm = (
        lnew.alias("n")
        .join(lab.alias("l"), F.col("l.node") == F.col("n.node"))
        .filter(F.col("l.lab") != F.col("n.lab"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_moved"))
    )
    q_of = lambda intra, d2: F.round(  # noqa: E731
        (F.lit(4) * F.col("m") * intra - d2).cast("double")
        / (F.lit(4.0) * F.col("m") * F.col("m")),
        6,
    )
    return (
        m.crossJoin(F.broadcast(nm))
        .crossJoin(
            F.broadcast(
                p0.select(
                    F.col("intra").alias("i0"),
                    F.col("d2").alias("q0d2"),
                    F.col("nc").alias("n_comm_before"),
                )
            )
        )
        .crossJoin(
            F.broadcast(
                p1.select(
                    F.col("intra").alias("i1"),
                    F.col("d2").alias("q1d2"),
                    F.col("nc").alias("n_comm_after"),
                )
            )
        )
        .select(
            F.col("m").alias("m_edges"),
            "n_moved",
            "n_comm_before",
            "n_comm_after",
            q_of(F.col("i0"), F.col("q0d2")).alias("modularity_before"),
            q_of(F.col("i1"), F.col("q1d2")).alias("modularity_after"),
        )
    )
