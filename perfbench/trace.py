"""Spans and Spark status-store harvesting for the traced run.

A span wraps one public call made by the benchmark. While it is the
innermost span, its id is the Spark job group, so every job the call
starts is attributed to it. After each span the jobs of its group are
read from the status store (`sc._jsc.sc().statusStore()`, which works
with the UI disabled); the store keeps only about 1000 jobs, so it is
read as the run goes. The listener bus fills the stores
asynchronously, so every harvest first waits until the bus is empty,
and a job or SQL execution that is still unfinished is read again
later (`finish`). Spans stay in memory until `write`.

The untraced run uses `Tracer(None)`, whose spans only cost a
timestamp pair and which sets no job group."""

from __future__ import annotations

import itertools
import json
import time
from collections import defaultdict
from contextlib import contextmanager

from perfbench import stats

PYTHON_METRICS = {
    "time to run Python workers": "python.run_s",
    "time to start Python workers": "python.start_s",
    "time to initialize Python workers": "python.init_s",
    "data sent to Python workers": "python.sent_mb",
    "data returned from Python workers": "python.returned_mb",
}
MB = 1 << 20
JOB_KEYS = (
    "stages",
    "tasks",
    "executor_run_s",
    "executor_cpu_s",
    "gc_s",
    "shuffle_read_mb",
    "shuffle_write_mb",
    "spill_mb",
    "input_mb",
    "output_mb",
)
LAYER_KEYS = (
    "engine.jobs",
    *(f"engine.{k}" for k in JOB_KEYS),
    "engine.job_span_s",
    "driver.only_s",
    "operators.build_s",
    "operators.build_jobs",
)


class Tracer:
    def __init__(self, spark, run_id: str = "run") -> None:
        self.spark = spark
        self.enabled = spark is not None
        self.run_id = run_id
        self.spans: list[dict] = []
        self.jobs: dict[int, dict] = {}
        self.sql: list[dict] = []
        self.heap_peak_mb = 0.0
        self._ids = itertools.count()
        self._stack: list[dict] = []
        self._sql_seen = 0

    @contextmanager
    def span(self, name: str, layer: str):
        rec = {
            "id": f"{self.run_id}.{next(self._ids)}",
            "name": name,
            "layer": layer,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "run": self.run_id,
            "start": time.time(),
        }
        if not self.enabled:
            try:
                yield rec
            finally:
                rec["end"] = time.time()
            return
        sc = self.spark.sparkContext
        self._stack.append(rec)
        sc.setJobGroup(rec["id"], name, False)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(self._stack[-1]["id"], self._stack[-1]["name"], False)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self._drain()
            self._harvest_jobs(rec["id"])
            self.spans.append(rec)

    def add_span(self, name: str, layer: str, start: float, end: float) -> None:
        """Record a finished top-level span, such as a set-up step."""
        if self.enabled:
            self.spans.append(
                {
                    "id": f"{self.run_id}.{next(self._ids)}",
                    "name": name,
                    "layer": layer,
                    "parent": None,
                    "run": self.run_id,
                    "start": start,
                    "end": end,
                }
            )

    def after_op(self) -> None:
        """Read the SQL store and the heap after one operation."""
        if not self.enabled:
            return
        self._drain()
        self._harvest_sql()
        rt = self.spark.sparkContext._jvm.java.lang.Runtime.getRuntime()
        self.heap_peak_mb = max(self.heap_peak_mb, (rt.totalMemory() - rt.freeMemory()) / MB)

    def finish(self) -> None:
        """Read again the jobs and SQL executions that were unfinished
        when their harvest ran."""
        if not self.enabled:
            return
        self._drain()
        for group in {job["span"] for job in self.jobs.values() if job["end"] is None}:
            self._harvest_jobs(group)
        self._harvest_sql()

    def _drain(self) -> None:
        """Wait until the listener bus has delivered every queued event
        to the status stores."""
        self.spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()

    def _harvest_jobs(self, group: str) -> None:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        for jid in sc.statusTracker().getJobIdsForGroup(group):
            if jid in self.jobs and self.jobs[jid]["end"] is not None:
                continue
            jd = store.job(jid)
            job = {
                "id": jid,
                "span": group,
                "start": jd.submissionTime().get().getTime() / 1000
                if jd.submissionTime().isDefined()
                else None,
                "end": jd.completionTime().get().getTime() / 1000
                if jd.completionTime().isDefined()
                else None,
                **{k: 0 for k in JOB_KEYS},
            }
            sids = [int(s) for s in jd.stageIds().mkString(",").split(",") if s]
            for sid in sids:
                it = store.stageData(sid, False, None, False, None).iterator()
                while it.hasNext():
                    sd = it.next()
                    if sd.status().toString() == "SKIPPED":
                        continue
                    job["stages"] += 1
                    job["tasks"] += sd.numTasks()
                    job["executor_run_s"] += sd.executorRunTime() / 1e3
                    job["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                    job["gc_s"] += sd.jvmGcTime() / 1e3
                    job["shuffle_read_mb"] += sd.shuffleReadBytes() / MB
                    job["shuffle_write_mb"] += sd.shuffleWriteBytes() / MB
                    job["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / MB
                    job["input_mb"] += sd.inputBytes() / MB
                    job["output_mb"] += sd.outputBytes() / MB
            self.jobs[jid] = job

    def _harvest_sql(self) -> None:
        store = self.spark._jsparkSession.sharedState().statusStore()
        count = store.executionsCount()
        if count <= self._sql_seen:
            return
        it = store.executionsList(self._sql_seen, count - self._sql_seen).iterator()
        while it.hasNext():
            ex = it.next()
            if not ex.completionTime().isDefined():
                break  # read it, and those after it, at the next harvest
            self._sql_seen += 1
            values = store.executionMetrics(ex.executionId())
            totals: dict[str, float] = defaultdict(float)
            seen_acc = set()
            ms = ex.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                key = PYTHON_METRICS.get(m.name())
                if key is None or m.accumulatorId() in seen_acc:
                    continue
                seen_acc.add(m.accumulatorId())
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    x = stats.parse_sql_metric(v.get())
                    totals[key] += x / MB if key.endswith("_mb") else x
            jobs = [int(j) for j in ex.jobs().keySet().mkString(",").split(",") if j]
            self.sql.append({"jobs": jobs, "metrics": dict(totals)})

    # ------------------------------------------------------- derivation

    def _ancestor(self, by_id: dict, span_id: str, layer: str) -> dict | None:
        cur = by_id.get(span_id)
        while cur is not None and cur["layer"] != layer:
            cur = by_id.get(cur["parent"])
        return cur

    def _jobs_of(self, by_id: dict, pass_id: str):
        for job in self.jobs.values():
            p = self._ancestor(by_id, job["span"], "pass")
            if p is not None and p["id"] == pass_id:
                yield job

    def pass_layers(self, pass_id: str) -> dict[str, float]:
        """Per-layer totals of one pass span."""
        by_id = {s["id"]: s for s in self.spans}
        p = by_id[pass_id]
        out: dict[str, float] = dict.fromkeys((*LAYER_KEYS, *PYTHON_METRICS.values()), 0.0)
        intervals = []
        job_ids = set()
        for job in self._jobs_of(by_id, pass_id):
            job_ids.add(job["id"])
            out["engine.jobs"] += 1
            for k in JOB_KEYS:
                out[f"engine.{k}"] += job[k]
            if by_id[job["span"]]["layer"] == "operators.build":
                out["operators.build_jobs"] += 1
            if job["start"] is not None and job["end"] is not None:
                intervals.append((job["start"], job["end"]))
        out["engine.job_span_s"] = stats.union_length(intervals)
        out["driver.only_s"] = stats.uncovered(p["start"], p["end"], intervals)
        for s in self.spans:
            if s["layer"] == "operators.build":
                anc = self._ancestor(by_id, s["id"], "pass")
                if anc is not None and anc["id"] == pass_id:
                    out["operators.build_s"] += s["end"] - s["start"]
        for ex in self.sql:
            if ex["jobs"] and ex["jobs"][0] in job_ids:
                for k, v in ex["metrics"].items():
                    out[k] += v
        return out

    def op_layers(self, pass_id: str) -> dict[str, dict[str, float]]:
        """Jobs and input bytes per operation of one pass."""
        by_id = {s["id"]: s for s in self.spans}
        out: dict[str, dict[str, float]] = {}
        for job in self._jobs_of(by_id, pass_id):
            op = self._ancestor(by_id, job["span"], "op")
            if op is None:
                continue
            rec = out.setdefault(op["name"], {"jobs": 0, "input_mb": 0.0})
            rec["jobs"] += 1
            rec["input_mb"] += job["input_mb"]
        return out

    def self_times(self) -> dict[str, float]:
        """Self time per layer: each span's duration minus the part its
        child spans cover, summed by layer."""
        children: dict[str, list] = defaultdict(list)
        for s in self.spans:
            if s["parent"]:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["layer"]] += stats.uncovered(s["start"], s["end"], children[s["id"]])
        return dict(out)

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "jobs": self.jobs, "sql": self.sql}, fh)
