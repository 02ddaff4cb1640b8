"""Layered benchmark of timestream_travel_spark.

Run from the repository root:

    python3 perfbench/run.py --workload census --seed 1 --seconds 10 --trace 0

One process, one client, closed loop on local[4]: set up a session,
run one cold pass, then warm passes until --seconds have passed and
the workload's minimum number of warm passes is done. With
--trace 0 the last stdout line carries the end-to-end metrics; with
--trace 1 it carries the per-layer metrics of BENCHMARK.json. The line
before it is the full record (every layer number, per pass and per
phase). Workloads, metrics and predictions: perfbench/NOTES.md.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import resource  # noqa: E402
import shutil  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("census", "export")
CORES = 4
REQUIRED = ("timestream_travel_spark/__init__.py", "tools/oracle_check.py")


class Context:
    """What a workload needs from the run: session, seed, time budget,
    fixture, oracle helpers, CPU clock and a private work directory
    inside the checkout."""

    def __init__(self, spark, args, work: str, sf_dir: str, oc) -> None:
        from pyspark import SparkContext

        self.spark = spark
        self.seed = args.seed
        self.seconds = args.seconds
        self.work = work
        self.sf_dir = sf_dir
        self.oc = oc
        self.cpu = CpuClock(SparkContext._gateway.proc.pid)


def parse_args(argv: list[str]) -> argparse.Namespace:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    return ap.parse_args(argv)


def session(work: str):
    """get_spark on local[4] with every scratch path inside `work`."""
    from timestream_travel_spark import get_spark

    return get_spark(
        "perfbench",
        cpus=CORES,
        shuffle_partitions=8,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.local.dir": os.path.join(work, "tmp"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        },
    )


class CpuClock:
    """CPU seconds used so far by the driver process, the JVM and the
    JVM's descendants (the Python worker daemon and its workers), read
    from the kernel's per-process accounting. Unlike wall time it leaves
    out time the host took the CPU away (steal)."""

    def __init__(self, jvm_pid: int) -> None:
        self.jvm_pid = jvm_pid
        self.tick = os.sysconf("SC_CLK_TCK")

    def split(self) -> tuple[float, float, float]:
        """(driver, JVM, JVM's descendants) CPU seconds. The JVM and its
        descendants count user + system time and that of the children
        they have reaped, so a worker that exits still counts."""
        procs = {}  # pid -> (ppid, ticks)
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as fh:
                    f = fh.read().rsplit(")", 1)[1].split()
            except OSError:  # the process has gone
                continue
            procs[int(name)] = (int(f[1]), sum(int(x) for x in f[11:15]))
        children: dict[int, list[int]] = {}
        for pid, (ppid, _) in procs.items():
            children.setdefault(ppid, []).append(pid)
        below = 0
        todo = list(children.get(self.jvm_pid, ()))
        while todo:
            pid = todo.pop()
            below += procs[pid][1]
            todo.extend(children.get(pid, ()))
        jvm = procs.get(self.jvm_pid, (0, 0))[1]
        return time.process_time(), jvm / self.tick, below / self.tick


def stop(spark) -> float:
    """Stop the session and the JVM, wait for the JVM to exit, and
    return the peak RSS of the largest child process (the JVM) in MB."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
    if proc is not None:
        if proc.stdin is not None:
            proc.stdin.close()
        proc.wait(timeout=60)
    return resource.getrusage(resource.RUSAGE_CHILDREN).ru_maxrss / 1024


def measure(wl, ctx, tracer) -> list[tuple[str, dict, bool]]:
    """Closed loop, one client: a cold pass, then warm passes until
    `ctx.seconds` have passed since the cold pass began and the
    workload's `min_warm` passes are done. In a traced run the warm
    passes alternate untraced and traced, at least one of each, so the
    tracing overhead is measured on the same session; the seed's parity
    picks which comes first, so the warm-up still going on in the first
    warm pass favours neither. Returns (kind, pass span, traced); a
    workload's pass span carries its CPU clock readings as `cpu0` and
    `cpu1`."""
    from perfbench.trace import Tracer

    plain = Tracer(None)
    t0 = time.perf_counter()
    passes = [("cold", wl.run_pass(0, tracer), tracer.enabled)]
    while True:
        index = len(passes)
        t = tracer if tracer.enabled and (index + ctx.seed) % 2 == 0 else plain
        passes.append(("warm", wl.run_pass(index, t), t.enabled))
        done = len(passes) > wl.min_warm
        if tracer.enabled:
            done = done and len({traced for _, _, traced in passes[1:]}) == 2
        if done and time.perf_counter() - t0 >= ctx.seconds:
            return passes


def main(argv: list[str]) -> int:
    args = parse_args(argv)
    missing = [p for p in REQUIRED if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a timestream_travel_spark checkout, missing {missing}", file=sys.stderr)
        return 2
    # Python workers unpickle operator code by module path; without
    # the repo root on their PYTHONPATH they fail with
    # ModuleNotFoundError: timestream_travel_spark
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
    )
    sys.path[:0] = [ROOT]
    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp)
    # both JVMs (spark-submit's launcher and the driver) keep their
    # temporary files in the checkout too
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    try:
        return _run(args, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, work: str) -> int:
    from perfbench.queries import QueryWorkload, oracle_check_module
    from perfbench.trace import Tracer

    steps = []  # (layer, start, end) of the set-up steps, wall clock
    t = time.time()
    spark = session(work)
    spark.sparkContext.setLogLevel("ERROR")
    steps.append(("session.get_spark", t, time.time()))
    t = time.time()
    from timestream_travel_spark import registry

    registry.load_all()
    steps.append(("registry.load", t, time.time()))
    sf_dir = os.path.join(HERE, "fixtures", "sf0.01")
    t = time.time()
    registry.QUERIES["q_partition_counts"](spark, sf_dir).count()
    steps.append(("session.warmup", t, time.time()))
    setup_s = time.perf_counter() - T_START

    ctx = Context(spark, args, work, sf_dir, oracle_check_module(ROOT))
    tracer = Tracer(spark if args.trace else None, run_id=f"s{args.seed}")
    for name, start, end in steps:
        tracer.add_span(name, "setup", start, end)
    if args.workload == "export":
        from perfbench.export import ExportWorkload

        wl = ExportWorkload(ctx)
    else:
        wl = QueryWorkload(ctx)
    passes = measure(wl, ctx, tracer)
    tracer.finish()
    storage = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    cache = {"cache.rdds": len(storage), "cache.mem_mb": sum(s.memSize() for s in storage) / (1 << 20)}
    wl.check()
    cache["jvm.peak_rss_mb"] = stop(spark)

    setup_layers = {f"{name}_s": end - start for name, start, end in steps}
    record, metrics = _report(args, wl, passes, setup_s, setup_layers)
    if args.trace:
        layers = {**setup_layers, **cache, **_traced_layers(wl, tracer, passes)}
        record["layers"] = layers
        record["self_s"] = tracer.self_times()
        os.makedirs(os.path.join(ROOT, ".perfbench_out"), exist_ok=True)
        tracer.write(os.path.join(ROOT, ".perfbench_out", f"trace-{args.workload}-{args.seed}.json"))
        with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
            declared = json.load(fh)["per_layer"]
        metrics = {d["name"]: {"value": layers[d["name"]], "unit": d["unit"]} for d in declared}
    failed = sum(op.error is not None for op in wl.ops)
    print(json.dumps({"record": record}, sort_keys=True, default=str))
    print(
        json.dumps(
            {"correct": not failed, "attempted": len(wl.ops), "failed": failed, "metrics": metrics}
        )
    )
    return 0


def _report(args, wl, passes, setup_s, setup_layers) -> tuple[dict, dict]:
    """The record line and the end-to-end metrics of a run. Both come
    from the untraced passes only."""
    from perfbench import stats

    cold = passes[0][1]
    warm = [p for _, p, traced in passes[1:] if not traced]
    cpu = {id(p): [b - a for a, b in zip(p["cpu0"], p["cpu1"])] for _, p, _ in passes}
    warm_ops = [op for op in wl.ops if op.pass_index > 0 and not op.traced]
    e2e = {
        "setup_s": setup_s,
        "cold_pass_cpu_s": sum(cpu[id(cold)]),
        "warm_pass_cpu_s": stats.median([sum(cpu[id(p)]) for p in warm]),
    }
    walls = [op.wall for op in warm_ops]
    try:
        tail = dict(zip(("percentile", "value_s"), stats.tail_percentile(walls)))
    except ValueError:
        tail = {"percentile": None, "value_s": None}
    failed = [op for op in wl.ops if op.error is not None]
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "trace": args.trace,
        "cores": CORES,
        "end_to_end": e2e,
        "wall": {
            "cold_pass_s": _wall(cold),
            "warm_pass_s": stats.median([_wall(p) for p in warm]),
            "op_p50_s": stats.median(walls),
            "op_tail": {**tail, "samples": len(walls)},
        },
        "failed_op_share": len(failed) / len(wl.ops),
        "errors": [f"pass{op.pass_index} {op.name}: {op.error}" for op in failed][:20],
        "passes": [
            {
                "kind": kind,
                "traced": traced,
                "wall_s": _wall(p),
                **dict(zip(("driver_cpu_s", "jvm_cpu_s", "workers_cpu_s"), cpu[id(p)])),
            }
            for kind, p, traced in passes
        ],
        "setup": setup_layers,
        **wl.record(),
    }
    return record, {k: {"value": v, "unit": "s"} for k, v in e2e.items()}


def _traced_layers(wl, tracer, passes) -> dict:
    """Layer numbers of a traced run: medians over the traced warm
    passes, cache build time from cold vs warm op walls, the peak heap,
    the tracing overhead, and the workload's own layers."""
    from perfbench import stats

    traced = [p for _, p, t in passes[1:] if t]
    per_pass = [tracer.pass_layers(p["id"]) for p in traced]
    out = {k: stats.median([w[k] for w in per_pass]) for k in per_pass[0]}
    cold = {op.name: op.wall for op in wl.ops if op.pass_index == 0}
    warm_walls: dict[str, list[float]] = {}
    for op in wl.ops:
        if op.pass_index > 0 and op.traced:
            warm_walls.setdefault(op.name, []).append(op.wall)
    out["cache.build_s"] = sum(cold[n] - stats.median(w) for n, w in warm_walls.items())
    out["jvm.heap_used_mb"] = tracer.heap_peak_mb
    walls = {True: [], False: []}
    for _, p, t in passes[1:]:
        walls[t].append(_wall(p))
    out["trace.overhead_s"] = stats.median(walls[True]) - stats.median(walls[False])
    out.update(wl.trace_layers(tracer, [p["id"] for p in traced]))
    return out


def _wall(span: dict) -> float:
    return span["end"] - span["start"]


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
