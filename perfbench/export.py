"""The export workload: the paper's pipeline on seeded `events` rows.

One pass runs, in order: decode (Timestream-shaped pages through the
`timestream_like` source), backup (`backup()` plus the `_manifest`
write, as the CLI does), verify, layout (`backup_reference_layout`
into a fresh destination, then `verify_reference_layout`), restore
and replay (`read_events_stream` → `tumbling_counts` →
`write_gzip_json_stream`, availableNow). A phase checks what its own
call returns; the checks that read the output back run in `check()`,
after the passes and outside every timing."""

from __future__ import annotations

import json
import os
import shutil
import time
from datetime import timedelta

from perfbench import stats
from perfbench.queries import Op

PHASES = ("decode", "backup", "verify", "layout", "verify_layout", "restore", "replay")
# the per-layer name of each phase's wall time
PHASE_LAYER = {"decode": "sources.decode_s", "replay": "streaming.s"}
ROWS = 10_000
ROWS_PER_PAGE = 2_500
STREAM_FILES = 1
REPLAY_TIMEOUT_S = 90
WINDOW = (timedelta(hours=6), timedelta(hours=42))
FMT = "%Y-%m-%d %H:%M:%S"


def _dir_bytes(path: str, suffix: str) -> tuple[int, int]:
    files = size = 0
    for base, _, names in os.walk(path):
        for n in names:
            if n.endswith(suffix):
                files += 1
                size += os.path.getsize(os.path.join(base, n))
    return files, size


class ExportWorkload:
    def __init__(self, ctx) -> None:
        import pyarrow as pa
        import pyarrow.parquet as pq

        from timestream_travel_spark.sources.timestream_like import TimestreamLikeDataSource

        self.ctx = ctx
        self.min_warm = 2
        self.ops: list[Op] = []
        self.passes: list[dict] = []
        self.outputs: list[str] = []
        rows = stats.event_rows(ctx.seed, ROWS)
        self.n = ROWS
        lo = stats.EVENTS_START + WINDOW[0]
        hi = stats.EVENTS_START + WINDOW[1]
        self.window = (lo.strftime(FMT), hi.strftime(FMT))
        self.in_window = stats.count_in_window(rows["ts"], lo, hi)

        inp = os.path.join(ctx.work, "input")
        os.makedirs(os.path.join(inp, "pages"))
        os.makedirs(os.path.join(inp, "stream"))
        schema = pa.schema(
            [
                ("event_id", pa.int64()),
                ("ts", pa.timestamp("us", tz="UTC")),
                ("user_id", pa.int64()),
                ("event_type", pa.string()),
                ("value", pa.float64()),
                ("props", pa.string()),
            ]
        )
        table = pa.table(rows, schema=schema)
        self.source = os.path.join(inp, "events.parquet")
        pq.write_table(table, self.source)
        self.source_bytes = os.path.getsize(self.source)

        # wire-shape result pages, one file per NextToken page
        self.pages = os.path.join(inp, "pages")
        column_info = [{"Name": f.name, "Type": {"ScalarType": "VARCHAR"}} for f in schema]
        for p, start in enumerate(range(0, ROWS, ROWS_PER_PAGE)):
            page_rows = [
                {"Data": [{"ScalarValue": str(rows[f.name][i])} for f in schema]}
                for i in range(start, min(start + ROWS_PER_PAGE, ROWS))
            ]
            with open(os.path.join(self.pages, f"page-{p:05d}.json"), "w") as fh:
                json.dump({"ColumnInfo": column_info, "Rows": page_rows}, fh)
        self.n_pages = p + 1

        # time-ordered stream drops, then one flush row three hours
        # past the last event: it moves the watermark beyond every real
        # window, and its own window stays open, so it is never emitted
        self.stream = os.path.join(inp, "stream")
        step = -(-ROWS // STREAM_FILES)
        flush = {k: [v[-1]] for k, v in rows.items()}
        flush["ts"] = [rows["ts"][-1] + timedelta(hours=3)]
        parts = [table.slice(i, step) for i in range(0, ROWS, step)]
        parts.append(pa.table(flush, schema=schema))
        now = time.time()
        for k, part in enumerate(parts):
            path = os.path.join(self.stream, f"part-{k:05d}.parquet")
            pq.write_table(part, path)
            os.utime(path, (now - len(parts) + k, now - len(parts) + k))

        ctx.spark.dataSource.register(TimestreamLikeDataSource)

    def run_pass(self, index: int, tracer) -> dict:
        from pyspark.sql import functions as F

        from timestream_travel_spark.pipeline.backup import BackupConfig, backup
        from timestream_travel_spark.pipeline.reference_layout import backup_reference_layout
        from timestream_travel_spark.pipeline.restore import (
            restore_backup,
            verify_backup,
            verify_reference_layout,
        )
        from timestream_travel_spark.streaming.jobs import (
            read_events_stream,
            tumbling_counts,
            write_gzip_json_stream,
        )

        spark = self.ctx.spark
        out = os.path.join(self.ctx.work, f"pass{index}")
        shutil.rmtree(out, ignore_errors=True)
        dest = os.path.join(out, "backup")
        # a fresh layout destination every pass: rerunning
        # backup_reference_layout into a used one raises a
        # reference-key collision (NOTES.md, known defects)
        layout_dest = os.path.join(out, "layout")
        info: dict = {"index": index}
        state: dict = {}

        def decode(build, execute):
            with build:
                df = spark.read.format("timestream_like").option("path", self.pages).load()
            with execute:
                r = df.agg(F.count("*"), F.sum(F.col("event_id").cast("long"))).collect()[0]
            if (r[0], r[1]) != (self.n, self.n * (self.n - 1) // 2):
                return f"decoded {r[0]} rows (id sum {r[1]}), want {self.n}"

        def do_backup(build, execute):
            cfg = BackupConfig(
                dest=dest,
                time_from=self.window[0],
                time_to=self.window[1],
                tiebreak_col="event_id",
            )
            with build:
                manifest = backup(spark, spark.read.parquet(self.source), cfg)
            with execute:
                manifest.write.mode("overwrite").parquet(f"{dest}/_manifest")
            state["manifest"] = spark.read.parquet(f"{dest}/_manifest")

        def verify(build, execute):
            with build:
                report = verify_backup(spark, dest, state["manifest"])
            with execute:
                bad = [r for r in report.collect() if r["status"] != "ok"]
            if bad:
                return f"verify_backup: {bad[:3]}"

        def layout(build, execute):
            cfg = BackupConfig(
                dest=layout_dest,
                time_from=self.window[0],
                time_to=self.window[1],
                tiebreak_col="event_id",
            )
            with build:
                keys = backup_reference_layout(
                    spark, spark.read.parquet(self.source), cfg, "bench", "events"
                )
            with execute:
                state["objects"] = keys.count()
            info["layout.objects"] = state["objects"]

        def verify_layout(build, execute):
            with build:
                report = verify_reference_layout(spark, layout_dest)
            with execute:
                statuses = report.groupBy("status").count().collect()
            got = {r["status"]: r["count"] for r in statuses}
            if got != {"ok": state["objects"]}:
                return f"verify_reference_layout: {got}, want {state['objects']} ok"

        def restore(build, execute):
            with build:
                res = restore_backup(spark, dest, os.path.join(out, "restored"))
            info["restore.rows_out"] = res["rows_out"]
            if res["rows_out"] != self.in_window:
                return f"restored {res['rows_out']} rows, the window {self.in_window}"

        def replay(build, execute):
            sink = os.path.join(out, "replay")
            with build:
                counts = tumbling_counts(read_events_stream(spark, self.stream, 1))
                writer = write_gzip_json_stream(counts, sink, os.path.join(out, "ckpt"))
            with execute:
                q = writer.trigger(availableNow=True).start()
                if not q.awaitTermination(REPLAY_TIMEOUT_S):
                    q.stop()
                    return f"replay still running after {REPLAY_TIMEOUT_S} s"
                progress = q.recentProgress
            info.update(_stream_layers(progress))

        steps = dict(
            decode=decode,
            backup=do_backup,
            verify=verify,
            layout=layout,
            verify_layout=verify_layout,
            restore=restore,
            replay=replay,
        )
        with tracer.span(f"pass{index}", "pass") as prec:
            prec["cpu0"] = self.ctx.cpu.split()
            for name in PHASES:
                op = Op(name, index, tracer.enabled, 0.0)
                t0 = time.perf_counter()
                with tracer.span(name, "op"):
                    try:
                        op.error = steps[name](
                            tracer.span(name, "operators.build"),
                            tracer.span(name, "engine.execute"),
                        )
                    except Exception as exc:  # noqa: BLE001 — a failed op is counted, not fatal
                        op.error = f"{type(exc).__name__}: {exc}"[:300]
                op.wall = time.perf_counter() - t0
                tracer.after_op()
                self.ops.append(op)
                info[PHASE_LAYER.get(name, f"{name}.s")] = op.wall
            prec["cpu1"] = self.ctx.cpu.split()
        walls = {op.name: op.wall for op in self.ops if op.pass_index == index}
        info["decode_rows_per_s"] = self.n / walls["decode"]
        info["export_rows_per_s"] = self.in_window / walls["backup"]
        info["restore_rows_per_s"] = self.in_window / walls["restore"]
        info["replay_rows_per_s"] = self.n / walls["replay"]
        self.passes.append(info)
        self.outputs.append(out)
        return prec

    def check(self) -> None:
        """Read every pass's output back: the manifest must hold the rows
        in the window, and the replay's window counts must sum to the
        source rows. Also sizes the backup output."""
        from pyspark.sql import functions as F

        spark = self.ctx.spark
        for info, out in zip(self.passes, self.outputs):
            ops = {op.name: op for op in self.ops if op.pass_index == info["index"]}
            dest = os.path.join(out, "backup")
            op = ops["backup"]
            if op.error is None:
                try:
                    manifest = spark.read.parquet(f"{dest}/_manifest")
                    rows, chunks = manifest.agg(F.sum("row_count"), F.count("*")).collect()[0]
                    info["backup.chunks"] = chunks
                    info["backup.files"], written = _dir_bytes(dest, ".json.gz")
                    info["backup.written_mb"] = written / (1 << 20)
                    info["stored_bytes_per_source_byte"] = written / self.source_bytes
                    if rows != self.in_window:
                        op.error = f"manifest holds {rows} rows, the window {self.in_window}"
                except Exception as exc:  # noqa: BLE001 — a failed check is counted, not fatal
                    op.error = f"check: {type(exc).__name__}: {exc}"[:300]
            op = ops["replay"]
            if op.error is None:
                try:
                    sink = os.path.join(out, "replay")
                    total = spark.read.json(sink).agg(F.sum("n_events")).collect()[0][0]
                    if total != self.n:
                        op.error = f"replayed windows count {total} rows, want {self.n}"
                except Exception as exc:  # noqa: BLE001 — a failed check is counted, not fatal
                    op.error = f"check: {type(exc).__name__}: {exc}"[:300]
            shutil.rmtree(out, ignore_errors=True)

    def trace_layers(self, tracer, pass_ids: list[str]) -> dict:
        """Jobs and scans of the backup and restore phases, medians over
        the traced warm passes. A scan count is the bytes read divided
        by the bytes of the input (source parquet, or backup output)."""
        per_pass = [tracer.op_layers(pid) for pid in pass_ids]
        written = stats.median([p.get("backup.written_mb", 0.0) for p in self.passes[1:]])

        def med(op: str, key: str) -> float:
            return stats.median([p.get(op, {}).get(key, 0.0) for p in per_pass])

        return {
            "backup.jobs": med("backup", "jobs"),
            "backup.source_scans": med("backup", "input_mb") * (1 << 20) / self.source_bytes,
            "restore.jobs": med("restore", "jobs"),
            "restore.scans": med("restore", "input_mb") / written if written else None,
        }

    def record(self) -> dict:
        keys = [k for k in self.passes[0] if k != "index"]
        warm = self.passes[1:]
        export = {
            "rows": self.n,
            "rows_in_window": self.in_window,
            "sources.pages": self.n_pages,
            "source_bytes": self.source_bytes,
            "cold": {k: self.passes[0][k] for k in keys},
            # a phase that failed in some pass leaves its keys out
            "warm_median": {
                k: stats.median([p[k] for p in warm]) for k in keys if all(k in p for p in warm)
            },
        }
        return {"export": export}


def _stream_layers(progress: list[dict]) -> dict:
    batches = [p for p in progress if p.get("numInputRows", 0) > 0]
    dur = [p.get("durationMs", {}) for p in progress]
    state = [p["stateOperators"][0].get("numRowsTotal", 0) for p in progress if p.get("stateOperators")]
    return {
        "streaming.batches": len(batches),
        "streaming.batch_p50_s": stats.median([p["durationMs"]["triggerExecution"] / 1e3 for p in batches])
        if batches
        else 0.0,
        "streaming.add_batch_s": sum(d.get("addBatch", 0) for d in dur) / 1e3,
        "streaming.planning_s": sum(d.get("queryPlanning", 0) for d in dur) / 1e3,
        "streaming.commit_s": sum(d.get("commitOffsets", 0) + d.get("walCommit", 0) for d in dur) / 1e3,
        "streaming.state_rows": state[-1] if state else 0,
    }
