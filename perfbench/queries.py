"""The census workload: registry queries run in seeded order, pass
after pass, and their results checked against the DuckDB oracle."""

from __future__ import annotations

import os
import time
from dataclasses import dataclass

from perfbench import stats

CENSUS = [
    "q_jonckheere_terpstra",
    "q_mood_median_test",
    "q_dunn_posthoc",
    "q_mood_scale_test",
    "q_mad_robust_z",
    "q_conover_squared_ranks",
    "q_cucconi_test",
    "q_welch_anova",
    "q_runs_two_sample",
    "q_siegel_tukey",
    "q_ks_two_sample",
    "q_mann_whitney_u",
    "q_brunner_munzel",
    "q_cramer_von_mises",
    "q_trimmed_winsorized_mean",
    "q_hoover_index",
    "q_palma_ratio",
    "q_quantile_ratio",
    "q_tukey_duckworth",
    "q_trimean_qcd",
    "q_wilson_interval",
    "q_friedman",
    "q_kendalls_w",
    "q_spearman_corr",
    "q_kendall_tau",
    "q_nation_pagerank",
    "q_edit_distance_neardups",
]

@dataclass
class Op:
    name: str
    pass_index: int
    traced: bool
    wall: float
    error: str | None = None
    result: tuple[list[str], list[tuple]] | None = None


def oracle_check_module(root: str):
    """tools/oracle_check, imported read-only for its normalizer and
    its cache reader; nothing here writes tools/oracle_cache."""
    import importlib.util

    spec = importlib.util.spec_from_file_location(
        "oracle_check", os.path.join(root, "tools", "oracle_check.py")
    )
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod


class QueryWorkload:
    def __init__(self, ctx) -> None:
        from timestream_travel_spark import registry

        self.ctx = ctx
        self.names = CENSUS
        self.min_warm = 2
        self.fns = {n: registry.QUERIES[n] for n in self.names}
        self.oracles = registry.ORACLES
        self.ops: list[Op] = []

    def run_pass(self, index: int, tracer) -> dict:
        ctx = self.ctx
        order = stats.pass_order(self.names, ctx.seed, index)
        with tracer.span(f"pass{index}", "pass") as prec:
            prec["cpu0"] = ctx.cpu.split()
            for name in order:
                op = Op(name, index, tracer.enabled, 0.0)
                t0 = time.perf_counter()
                with tracer.span(name, "op"):
                    try:
                        with tracer.span(name, "operators.build"):
                            df = self.fns[name](ctx.spark, ctx.sf_dir)
                        with tracer.span(name, "engine.execute"):
                            op.result = (df.columns, [tuple(r) for r in df.collect()])
                    except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                        op.error = f"{type(exc).__name__}: {exc}"[:300]
                op.wall = time.perf_counter() - t0
                tracer.after_op()
                self.ops.append(op)
            prec["cpu1"] = ctx.cpu.split()
        return prec

    def record(self) -> dict:
        return {}

    def trace_layers(self, tracer, pass_ids: list[str]) -> dict:
        return {}

    # ------------------------------------------------------------ checks

    def check(self) -> None:
        """Mark failed ops: a strict result digest that differs from the
        cold pass's, or a cold result that differs from the oracle. Runs
        after the passes, outside every timing."""
        ctx = self.ctx
        cold = {op.name: op for op in self.ops if op.pass_index == 0}
        digests = {}
        for op in self.ops:
            if op.error is None:
                cols, rows = op.result
                try:
                    digests[id(op)] = stats.digest(ctx.oc.normalize(rows, cols, strict=True))
                except Exception as exc:  # noqa: BLE001 — a failed check is counted, not fatal
                    op.error = f"digest: {type(exc).__name__}: {exc}"[:300]
        for op in self.ops:
            want = digests.get(id(cold[op.name]))
            if op.error is None and want is not None and digests[id(op)] != want:
                op.error = f"digest {digests[id(op)]} differs from the cold pass's {want}"
        con = None
        fingerprint = ctx.oc._fixture_fingerprint(ctx.sf_dir)
        for name in self.names:
            op = cold[name]
            if op.error is not None:
                continue
            cols, rows = op.result
            try:
                sql = self.oracles[name]
                cached = ctx.oc._cache_read(ctx.sf_dir, name, fingerprint, sql)
                if cached is not None:
                    d_cols, d_norm = cached
                else:
                    if con is None:
                        con = _duckdb(ctx)
                    res = con.execute(sql)
                    d_cols = [d[0] for d in res.description]
                    d_norm = ctx.oc.normalize(res.fetchall(), d_cols)
            except Exception as exc:  # noqa: BLE001 — a failed check is counted, not fatal
                op.error = f"oracle: {type(exc).__name__}: {exc}"[:300]
                continue
            if sorted(cols) != sorted(d_cols):
                op.error = f"columns {sorted(cols)} differ from the oracle's {sorted(d_cols)}"
            elif ctx.oc.normalize(rows, cols) != list(d_norm):
                op.error = f"{len(rows)} rows differ from the oracle's {len(d_norm)}"
        if con is not None:
            con.close()


def _duckdb(ctx):
    import duckdb

    from timestream_travel_spark.tables import TABLES

    con = duckdb.connect()
    for t in TABLES:
        path = os.path.join(ctx.sf_dir, f"{t}.parquet")
        if os.path.exists(path):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{path}'")
    return con
