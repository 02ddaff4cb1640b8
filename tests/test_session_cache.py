"""The session cache (timestream_travel_spark.cache) serves the same
results as a fresh build when the fixture behind it is rewritten in
place, and after the executors lose every cached block."""

from __future__ import annotations

import shutil

import duckdb
import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from timestream_travel_spark import cache, registry
from timestream_travel_spark.tables import TABLES
from tools.oracle_check import normalize

pytestmark = pytest.mark.fast


def _spark_rows(spark, sf_dir, name):
    df = registry.QUERIES[name](spark, sf_dir)
    return normalize(df.collect(), df.columns)


def _oracle_rows(sf_dir, name):
    con = duckdb.connect()
    try:
        for t in TABLES:
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
        res = con.execute(registry.ORACLES[name])
        return normalize(res.fetchall(), [d[0] for d in res.description])
    finally:
        con.close()


def test_rewritten_fixture_invalidates_shared_entries(spark, sf_dir, tmp_path):
    """Rewriting events.parquet under the same path must not serve
    the counts/daily spines built from the old contents."""
    registry.load_all()
    names = ("q_ks_two_sample", "q_friedman")
    (tmp_path / "fx").mkdir()
    fx = str(tmp_path / "fx")
    for t in TABLES:
        shutil.copyfile(f"{sf_dir}/{t}.parquet", f"{fx}/{t}.parquet")
    try:
        before = {n: _spark_rows(spark, fx, n) for n in names}
        for n in names:
            assert before[n] == _oracle_rows(fx, n), n

        path = f"{fx}/events.parquet"
        t = pq.read_table(path)
        i = t.schema.get_field_index("value")
        t = t.set_column(i, t.schema.field(i), pa.array(t.column(i).to_pylist()[::-1]))
        pq.write_table(t, path)

        for n in names:
            after = _spark_rows(spark, fx, n)
            assert after == _oracle_rows(fx, n), n
            assert after != before[n], n
    finally:
        cache.clear()


def test_shared_entries_survive_block_loss(spark, sf_dir):
    """Shared entries are persisted, not localCheckpointed: after every
    cached block is removed, Spark recomputes them from lineage."""
    registry.load_all()
    names = ("q_nation_pagerank", "q_edit_distance_neardups")
    first = {n: _spark_rows(spark, sf_dir, n) for n in names}
    sc = spark.sparkContext
    master = sc._jsc.sc().env().blockManager().master()
    for rdd_id in list(sc._jsc.getPersistentRDDs().keySet()):
        master.removeRdd(rdd_id, True)
    for n in names:
        assert _spark_rows(spark, sf_dir, n) == first[n], n
