"""Round-15 optimization parity tests.

Each r15 optimization that moved a bounded iteration driver-side (the
q_kcore_trade pattern) keeps the distributed implementation as the
documented unbounded-scale path; these tests pin driver ≡ distributed
on the fixture so the optimization provably changed the plan, not the
answer. The spread() fan-out helper is pinned to be row-set-neutral
and size-gated.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from timestream_travel_spark.tables import load_table, spread


def _rows(df, *cols):
    return sorted(tuple(r[c] for c in cols) for r in df.collect())


def test_bpe_driver_trainer_matches_distributed(spark, sf_dir):
    from timestream_travel_spark.operators.llm_text7 import (
        bpe_merge_table,
        bpe_merge_table_distributed,
    )

    docs = load_table(spark, sf_dir, "documents")
    for n, batch in ((4, 1), (4, 2), (12, 4)):
        assert bpe_merge_table(docs, n_merges=n, batch=batch) == (
            bpe_merge_table_distributed(docs, n_merges=n, batch=batch)
        ), f"n={n} batch={batch}"


def test_distances_driver_matches_distributed(spark, sf_dir):
    from timestream_travel_spark.operators.graph12 import (
        _distances,
        _distances_distributed,
    )

    got = _rows(_distances(spark, sf_dir), "src", "v", "d")
    want = _rows(_distances_distributed(spark, sf_dir), "src", "v", "d")
    assert got == want


def test_lpa_driver_matches_distributed(spark, sf_dir):
    from timestream_travel_spark.operators.graph7 import (
        _lpa_labels,
        _lpa_labels_distributed,
    )

    got = _rows(_lpa_labels(spark, sf_dir), "node", "lab")
    want = _rows(_lpa_labels_distributed(spark, sf_dir), "node", "lab")
    assert got == want


def test_louvain_driver_matches_distributed(spark, sf_dir):
    import __spark_entry__ as entrymod

    from timestream_travel_spark.operators.graph8 import (
        q_louvain_one_level_distributed,
    )

    cols = [
        "m_edges",
        "n_moved",
        "n_comm_before",
        "n_comm_after",
        "modularity_before",
        "modularity_after",
    ]
    got = _rows(entrymod.queries()["q_louvain_one_level"](spark, sf_dir), *cols)
    want = _rows(q_louvain_one_level_distributed(spark, sf_dir), *cols)
    assert got == want


def test_fertility_sweep_driver_matches_distributed(spark, sf_dir):
    import __spark_entry__ as entrymod

    from timestream_travel_spark.operators.llm_text27 import (
        fertility_sweep_distributed,
    )

    cols = ["n_merges", "lang", "n_words", "n_tokens", "fertility"]
    got = _rows(entrymod.queries()["q_bpe_fertility_sweep"](spark, sf_dir), *cols)
    want = _rows(fertility_sweep_distributed(spark, sf_dir), *cols)
    assert got == want


def test_nation_pagerank_driver_matches_distributed(spark, sf_dir):
    import __spark_entry__ as entrymod

    from timestream_travel_spark.operators.graph import (
        q_nation_pagerank_distributed,
    )

    got = _rows(
        entrymod.queries()["q_nation_pagerank"](spark, sf_dir), "nation", "pagerank"
    )
    want = _rows(q_nation_pagerank_distributed(spark, sf_dir), "nation", "pagerank")
    assert got == want


def test_cc_contraction_and_endgame_match_round_loop(spark):
    """connected_components_star's r15 partition-local contraction +
    single-task endgame must return the exact labels of (a) a python
    union-find ground truth and (b) the distributed round loop (forced
    by dropping the endgame gate to 0), across shapes that stress the
    contraction: a long chain split over many partitions, a random
    graph with duplicate/self-loop edges, and string node ids."""
    import random

    from timestream_travel_spark.operators import dedup2
    from timestream_travel_spark.operators.dedup2 import (
        connected_components_star,
    )

    def truth(pairs):
        parent = {}

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        for a, b in pairs:
            parent.setdefault(a, a)
            parent.setdefault(b, b)
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        return sorted((n, find(n)) for n in parent)

    rng = random.Random(15)
    chain = [(i, i + 1) for i in range(3000)]
    randg = [(rng.randrange(400), rng.randrange(400)) for _ in range(600)]
    strg = [(f"d{rng.randrange(300):04d}", f"d{rng.randrange(300):04d}") for _ in range(300)]
    for pairs, typ in ((chain, "src long, dst long"),
                       (randg, "src long, dst long"),
                       (strg, "src string, dst string")):
        edges = spark.createDataFrame(pairs, typ).repartition(16)
        st_end: dict = {}
        got = _rows(connected_components_star(edges, stats=st_end), "node", "cluster")
        assert got == truth(pairs)
        assert st_end["rounds"] == 0  # endgame finished without rounds
        old = dedup2._ENDGAME_EDGES
        dedup2._ENDGAME_EDGES = -1  # force the round loop
        try:
            st_loop: dict = {}
            loop = _rows(
                connected_components_star(edges, stats=st_loop), "node", "cluster"
            )
        finally:
            dedup2._ENDGAME_EDGES = old
        assert loop == got
        assert st_loop["rounds"] >= 1


def test_spread_preserves_rows_and_gates_on_size(spark, sf_dir):
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_quantity")
    sp = spread(li)
    # tiny fixture input → the gate fires → more partitions
    assert sp.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    # row multiset is unchanged
    a = li.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("s"))
    b = sp.groupBy("l_orderkey").agg(F.sum("l_quantity").alias("s"))
    assert _rows(a, "l_orderkey", "s") == _rows(b, "l_orderkey", "s")
    # non-file sources are never spread
    rng = spark.range(10)
    assert spread(rng) is rng


@pytest.mark.fast
def test_pair_grid_cache_matches_inline_build(spark, sf_dir):
    """The session-cached two-sample pair grid (analytics5._pair_grid)
    is row-identical to the inline merged build it replaced at ten
    call sites (exact integer columns, so equality is total)."""
    from timestream_travel_spark.operators.analytics5 import (
        _counts,
        _pair_grid,
        _pairs,
    )

    cnt = _counts(spark, sf_dir)
    pairs = _pairs(cnt)
    inline = (
        cnt.join(
            F.broadcast(pairs),
            (F.col("t") == F.col("ta")) | (F.col("t") == F.col("tb")),
        )
        .groupBy("ta", "tb", "n_a", "n_b", "v")
        .agg(
            F.sum(F.when(F.col("t") == F.col("ta"), F.col("c")).otherwise(0)).alias("ca"),
            F.sum(F.when(F.col("t") == F.col("tb"), F.col("c")).otherwise(0)).alias("cb"),
        )
    )
    cols = ("ta", "tb", "n_a", "n_b", "v", "ca", "cb")
    got = _rows(_pair_grid(spark, sf_dir), *cols)
    want = _rows(inline, *cols)
    assert got == want
    # second call returns the same persisted handle (session cache)
    assert _pair_grid(spark, sf_dir) is _pair_grid(spark, sf_dir)


@pytest.mark.fast
def test_retrieval_caches_match_uncached_builds(spark, sf_dir):
    """bm25_scores_cached / ql_scores_cached / relevant_docs_cached
    are row-identical to their uncached builders (the eval family
    consumes the caches; q_bm25_topk / q_ql_dirichlet_topk keep the
    from-scratch plans)."""
    from timestream_travel_spark.operators.retrieval import (
        bm25_scores,
        bm25_scores_cached,
    )
    from timestream_travel_spark.operators.retrieval3 import (
        ql_scores,
        ql_scores_cached,
    )
    from timestream_travel_spark.operators.retrieval8 import (
        _relevant_docs,
        relevant_docs_cached,
    )

    assert _rows(bm25_scores_cached(spark, sf_dir), "doc_id", "score") == _rows(
        bm25_scores(spark, sf_dir), "doc_id", "score"
    )
    assert _rows(ql_scores_cached(spark, sf_dir), "doc_id", "ql_score") == _rows(
        ql_scores(spark, sf_dir), "doc_id", "ql_score"
    )
    assert _rows(relevant_docs_cached(spark, sf_dir), "doc_id") == _rows(
        _relevant_docs(spark, sf_dir), "doc_id"
    )


def test_rollup_hwm_fast_path_matches_spark_read(spark, sf_dir, tmp_path):
    """rollup_hwm's driver-side partition-directory scan returns the
    same HWM as the Spark read it bypasses, and still reports None on
    a never-built destination."""
    from timestream_travel_spark.pipeline.rollup import (
        F as _rF,  # noqa: N811 — reuse the module's functions import
    )
    from timestream_travel_spark.pipeline.rollup import (
        build_rollup,
        read_rollup,
        rollup_hwm,
    )
    from timestream_travel_spark.tables import load_table

    dest = str(tmp_path / "rollup_store")
    assert rollup_hwm(spark, dest) is None
    ev = load_table(spark, sf_dir, "events")
    build_rollup(spark, ev, dest)
    fast = rollup_hwm(spark, dest)
    slow = (
        read_rollup(spark, dest).agg(_rF.max("__hour").alias("h")).collect()[0]["h"]
    )
    assert fast == slow and fast is not None


@pytest.mark.fast
def test_daily_and_ohlc_caches_match_uncached_builds(spark, sf_dir):
    """analytics8._daily and timeseries15._daily_ohlc session caches
    are row-identical to fresh inline builds of the same aggregates
    (exact DECIMAL columns, so equality is total)."""
    from timestream_travel_spark.operators.analytics8 import _daily
    from timestream_travel_spark.operators.timeseries15 import _daily_ohlc

    ev = load_table(spark, sf_dir, "events")
    daily_inline = ev.groupBy(
        F.col("event_type").alias("t"), F.date_trunc("day", "ts").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(20,4)")).alias("v"))
    assert _rows(_daily(spark, sf_dir), "t", "day", "v") == _rows(
        daily_inline, "t", "day", "v"
    )
    hourly = ev.groupBy(
        F.col("event_type").alias("t"),
        F.date_trunc("day", "ts").alias("day"),
        F.date_trunc("hour", "ts").alias("hr"),
    ).agg(F.sum(F.col("value").cast("decimal(20,4)")).alias("hv"))
    ohlc_inline = hourly.groupBy("t", "day").agg(
        F.max("hv").alias("hi"),
        F.min("hv").alias("lo"),
        F.max(F.struct(F.col("hr").alias("h"), F.col("hv").alias("v")))["v"].alias("cl"),
        F.min(F.struct(F.col("hr").alias("h"), F.col("hv").alias("v")))["v"].alias("op"),
    )
    cols = ("t", "day", "hi", "lo", "cl", "op")
    assert _rows(_daily_ohlc(spark, sf_dir), *cols) == _rows(ohlc_inline, *cols)
    assert _daily_ohlc(spark, sf_dir) is _daily_ohlc(spark, sf_dir)


@pytest.mark.fast
def test_per_dim_stats_cache_matches_inline_build(spark, sf_dir):
    """clusterqual._per_dim_stats (the shared DB/Dunn sufficient-
    statistic table) is row-identical to a fresh inline build."""
    from timestream_travel_spark.operators.clusterqual import _per_dim_stats
    from timestream_travel_spark.functions.vectors import to_double_array

    e = load_table(spark, sf_dir, "embeddings")
    x = e.select(
        "label",
        F.posexplode(to_double_array(F.col("embedding"))).alias("pos0", "v"),
    ).select("label", (F.col("pos0") + 1).cast("int").alias("pos"), "v")
    inline = x.groupBy("label", "pos").agg(
        F.sum(F.col("v").cast("decimal(14,9)")).alias("s"),
        F.sum((F.col("v") * F.col("v")).cast("decimal(20,12)")).alias("q2"),
        F.count("*").alias("n"),
    )
    cols = ("label", "pos", "s", "q2", "n")
    assert _rows(_per_dim_stats(spark, sf_dir), *cols) == _rows(inline, *cols)
    assert _per_dim_stats(spark, sf_dir) is _per_dim_stats(spark, sf_dir)
