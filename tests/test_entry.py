from __future__ import annotations

import pytest

import __spark_entry__ as entrymod

pytestmark = pytest.mark.fast


def test_entry_runs_and_has_stable_schema(spark):
    df = entrymod.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert [f.name for f in df.schema.fields] == ["partition", "chunk", "min_ts", "max_ts", "row_count"]
    for r in rows:
        assert r["min_ts"] <= r["max_ts"]
        assert r["row_count"] > 0


def test_every_query_has_callable_and_oracle_keys_match(spark):
    qs = entrymod.queries()
    oracles = entrymod.oracle_sql()
    assert len(qs) >= 50
    assert set(oracles) <= set(qs)
    # SQL-expressible coverage should stay high (rows-only is the
    # exception, not the rule)
    assert len(oracles) / len(qs) > 0.85


def test_unverified_queries_lead_the_registry():
    """The driver checks a capped prefix of queries() per round, so
    every query WITHOUT a green CORRECTNESS row in any prior round
    must sort before every query that already has one — generated
    from the CORRECTNESS_r*.json files, not hand-maintained."""
    green = entrymod._driver_green_keys()
    names = list(entrymod.queries())
    assert green, "prior-round correctness files should yield green keys"
    seen_green = False
    for n in names:
        if n in green:
            seen_green = True
        else:
            assert not seen_green, f"unverified query {n} sorted after a verified one"
