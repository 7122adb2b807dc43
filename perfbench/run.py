"""Repository benchmark: one workload per process.

    python3 perfbench/run.py --workload kg_batch|shacl_table \
        --seed N --seconds S --trace 0|1

Runs from the root of a checkout and reads and writes only inside it
(scratch under `.bench_work/`). Starts Spark on local[<cores>] with a
4 GiB driver heap, runs a warm pass, stages the seeded inputs, runs
whole rounds of the workload's operations while the next round is
expected to end within `--seconds` (at least one), checks every output
against the oracle, and prints as its last stdout line

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones. With --trace 1 the
Spark event log is on and the run makes two untraced rounds, then one
round with layer spans, and reports the per-layer metrics. A per-run
record (host probe, operations, spans) goes to `.bench_work/results/`.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import shutil
import statistics
import sys
import time

from spans import Tracer, attribute, layer_spans, read_event_log, totals

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DRIVER_HEAP = "4g"
WORK = os.path.join(ROOT, ".bench_work")


class Ctx:
    def __init__(self, args, work: str):
        self.seed = args.seed
        self.trace = bool(args.trace)
        self.cores = len(os.sched_getaffinity(0))
        self.work = work
        self.spark = None
        self.jvm_pid = None
        self.tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}")

    def cpu_s(self) -> float:
        """CPU seconds used so far by this process, the driver JVM and
        every process under it (the Python workers); time the host takes
        away from a runnable CPU (steal) is not in it."""
        t = os.times()
        return t.user + t.system + _tree_cpu_s(self.jvm_pid)


def _tree_cpu_s(root: int) -> float:
    """utime + stime + cutime + cstime of `root` and its descendants."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue  # exited while listing
        # fields[1] is ppid; fields[11:15] are utime stime cutime cstime
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    children: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        children.setdefault(ppid, []).append(pid)
    ticks, todo = 0, [root]
    while todo:
        pid = todo.pop()
        ticks += procs.get(pid, (0, 0))[1]
        todo += children.get(pid, [])
    return ticks / os.sysconf("SC_CLK_TCK")


def _isolate(work: str, evdir: str | None) -> None:
    """Keep Spark, the JVM and Python scratch inside the work dir; the
    settings reach the JVM at launch, whichever builder starts it."""
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    import tempfile

    tempfile.tempdir = tmp
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p])
    os.environ["PYSPARK_PYTHON"] = sys.executable
    # every JVM, the spark-submit launcher's too, skips its /tmp perf file
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    conf = {
        "spark.local.dir": os.path.join(work, "spark-local"),
        "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={tmp} -Dderby.system.home={work}",
    }
    if evdir:
        os.makedirs(evdir, exist_ok=True)
        conf.update({"spark.eventLog.enabled": "true", "spark.eventLog.dir": evdir,
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.rolling.enabled": "false"})
    args = ["--driver-memory", DRIVER_HEAP]
    for k, v in conf.items():
        args += ["--conf", f"{k}={v}"]
    import shlex

    os.environ["PYSPARK_SUBMIT_ARGS"] = shlex.join(args + ["pyspark-shell"])


def _warm(spark, work: str) -> None:
    """One pass over the engine paths both workloads use, so the measured
    operation does not pay their first-use costs: Python worker start and
    Arrow, a shuffle, and a parquet write and read."""
    from pyspark.sql import functions as F

    df = spark.range(0, 1 << 16, 1, 4)
    df.mapInPandas(lambda it: it, "id: long").count()
    path = os.path.join(work, "warm")
    (df.select((F.col("id") % 97).alias("k"), F.col("id").cast("string").alias("v"))
       .groupBy("k").agg(F.count(F.lit(1)).alias("n"),
                         F.sum(F.crc32(F.col("v").cast("binary"))).alias("f"))
       .write.mode("overwrite").parquet(path))
    spark.read.parquet(path).count()
    shutil.rmtree(path, ignore_errors=True)


def _cpu_ticks() -> list[int]:
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:9]]


def _probe(spark, cores: int) -> dict:
    """Fixed-work host probe: a constant 2x10^7-row aggregate whose time
    depends only on the host's momentary load, with the CPU steal share
    seen since the previous probe. Diagnostic only."""
    from pyspark.sql import functions as F

    t0 = time.time()
    spark.range(0, 20_000_000, 1, cores).select(
        (F.col("id") * 2654435761 % 1000003).alias("k")
    ).agg(F.sum("k"), F.count(F.lit(1))).collect()
    return {"probe_s": time.time() - t0, "cpu_ticks": _cpu_ticks()}


def _steal_share(a: list[int], b: list[int]) -> float:
    d = [y - x for x, y in zip(a, b)]
    return d[7] / sum(d) if sum(d) else 0.0


def _peak_rss_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError("no VmHWM for the driver JVM")


def _stop(spark) -> None:
    """Stop Spark and wait for the driver JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def _rounds(workload, ctx, rng, seconds: float) -> list[dict]:
    """Whole rounds while the next is expected to end within `seconds`
    (at least one)."""
    ops: list[dict] = []
    t0 = time.time()
    while True:
        r0 = time.time()
        ops += workload.round(ctx, rng)
        now = time.time()
        if now - t0 + (now - r0) > seconds:
            return ops


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not os.path.isdir(os.path.join(ROOT, "shacl_rust_spark")):
        print(f"no shacl_rust_spark package under {ROOT}", file=sys.stderr)
        return 2
    sys.path.insert(0, ROOT)
    from workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; one of {sorted(WORKLOADS)}",
              file=sys.stderr)
        return 2
    workload = WORKLOADS[args.workload]()

    work = os.path.join(WORK, f"{args.workload}-{args.seed}-{os.getpid()}")
    os.makedirs(work, exist_ok=True)
    try:
        return _run(args, workload, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, workload, work: str) -> int:
    evdir = os.path.join(work, "evlog") if args.trace else None
    _isolate(work, evdir)
    ctx = Ctx(args, work)
    rng = random.Random(args.seed)
    record: dict = {"workload": args.workload, "seed": args.seed,
                    "seconds": args.seconds, "trace": args.trace,
                    "cores": ctx.cores, "driver_heap": DRIVER_HEAP}
    first: list[dict] = []
    extra_ops: list[dict] = []
    try:
        c0, t0 = ctx.cpu_s(), time.time()
        ctx.spark = workload.start(ctx)
        ctx.spark.sparkContext.setLogLevel("ERROR")
        ctx.jvm_pid = ctx.spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        _warm(ctx.spark, work)
        start_and_warm = (time.time() - t0, ctx.cpu_s() - c0)
        stages = []
        for _ in range(3):
            c0, t0 = ctx.cpu_s(), time.time()
            workload.stage(ctx)
            stages.append((time.time() - t0, ctx.cpu_s() - c0))
        # (wall s, CPU s): session start + warm pass + median staging
        setup = [start_and_warm[i] + statistics.median(st[i] for st in stages)
                 for i in (0, 1)]
        record["setup"] = {"start_and_warm": start_and_warm, "stages": stages}

        probe_before = _probe(ctx.spark, ctx.cores)
        if not ctx.trace:
            ops = _rounds(workload, ctx, rng, args.seconds)
            traced = []
        else:
            # the first round takes the first-use costs, so the untraced
            # and the traced round compared below both run warm
            first = workload.round(ctx, rng)
            ops = workload.round(ctx, rng)
            with layer_spans(ctx.tracer):
                traced = workload.round(ctx, rng)
            if hasattr(workload, "trace_extra"):
                extra_ops, record["extra_metrics"] = workload.trace_extra(
                    ctx, rng, lambda: layer_spans(ctx.tracer))
        probe_after = _probe(ctx.spark, ctx.cores)
        record["probe"] = {
            "before_s": probe_before["probe_s"], "after_s": probe_after["probe_s"],
            "steal_share": _steal_share(probe_before["cpu_ticks"],
                                        probe_after["cpu_ticks"]),
        }
        record["peak_rss_mb"] = _peak_rss_mb(ctx.jvm_pid)
    finally:
        if ctx.spark is not None:
            _stop(ctx.spark)

    all_ops = first + ops + traced + extra_ops
    problems = [p for o in all_ops for p in o["problems"]]
    failed = sum(1 for o in all_ops if o["problems"])
    if not ctx.trace:
        metrics = {
            "cpu_s": (statistics.median(o["cpu_s"] for o in ops), "s"),
            "setup_s": (setup[1], "s"),
        }
    else:
        metrics = _layer_metrics(workload, ctx, evdir, ops, traced, record, setup)
    record.update(ops=all_ops, problems=problems, metrics=metrics)
    os.makedirs(os.path.join(WORK, "results"), exist_ok=True)
    ctx.tracer.dump(
        os.path.join(WORK, "results",
                     f"{args.workload}-seed{args.seed}-trace{args.trace}-{os.getpid()}.json"),
        record)

    correct = not problems
    for p in problems[:20]:
        print(f"check failed: {p}", file=sys.stderr)
    print(json.dumps({
        "correct": correct, "attempted": len(all_ops), "failed": failed,
        "metrics": ({k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}
                    if correct else {}),
    }))
    return 0 if correct else 1


# Per-layer metric names with their units: workloads report the layers
# they exercise; a layer a workload does not run reads 0.
LAYER_UNITS = {
    "wall.latency_ms": "ms", "wall.triples_per_sec": "1/s", "wall.setup_s": "s",
    "pipeline.extract.busy_s": "s", "pipeline.extract.pages_in": "count",
    "pipeline.extract.mentions_out": "count",
    "pipeline.link.busy_s": "s", "pipeline.link.linked_ratio": "ratio",
    "pipeline.link.exact": "count", "pipeline.link.fuzzy": "count",
    "pipeline.link.head_entity_share": "ratio",
    "pipeline.cc.busy_s": "s", "pipeline.cc.edges_in": "count",
    "pipeline.cc.components": "count",
    "pipeline.canonicalize.busy_s": "s", "pipeline.canonicalize.candidates_out": "count",
    "pipeline.emit.validate_s": "s", "pipeline.emit.violations": "count",
    "pipeline.emit.accept_ratio": "ratio", "pipeline.emit.write_s": "s",
    "pipeline.emit.bytes_written": "bytes", "pipeline.finalize_s": "s",
    "pipeline.resume_s": "s", "pipeline.resume.scratch_bytes_read": "bytes",
    "tabular.plan_s": "s", "engine.plan_s": "s",
    "engine.targets.busy_s": "s", "engine.targets.focus_nodes": "count",
    "engine.paths.busy_s": "s", "engine.paths.value_pairs": "count",
    "engine.constraints.busy_s": "s", "engine.sparql.busy_s": "s",
    "engine.sparql.solutions": "count", "engine.violations": "count",
    "rdf.parse_ms": "ms", "shapes.parse_ms": "ms", "engine.validate_ms": "ms",
    "server.render_ms": "ms", "spark.jobs_per_request": "count",
    "spark.tasks_per_request": "count",
    "spark.task_s": "s", "spark.gc_s": "s", "spark.shuffle_write_mb": "MB",
    "spark.shuffle_read_mb": "MB", "spark.stages": "count", "spark.cpu_util": "ratio",
    "trace.overhead_ratio": "ratio", "driver.peak_rss_mb": "MB",
    "slow_case.latency_ms": "ms", "slow_case.completed": "count", "slow_case.jobs": "count",
}


def _layer_metrics(workload, ctx, evdir, ops, traced, record, setup) -> dict:
    spans = ctx.tracer.with_self_times()
    values = dict.fromkeys(LAYER_UNITS, 0.0)
    values.update({
        "wall.latency_ms": statistics.median(o["latency_s"] for o in ops) * 1e3,
        "wall.triples_per_sec": workload.rate(ops),
        "wall.setup_s": setup[0],
    })
    values.update(workload.layers(spans, traced))
    values.update(record.get("extra_metrics", {}))

    evlog = read_event_log(evdir)
    wall = sum(o["end"] - o["start"] for o in ops)
    spark = totals(evlog, [(o["start"], o["end"]) for o in ops])
    values.update({f"spark.{k}": v for k, v in spark.items()})
    values["spark.cpu_util"] = spark["task_s"] / (wall * ctx.cores)
    values["driver.peak_rss_mb"] = record["peak_rss_mb"]
    values["trace.overhead_ratio"] = (
        sum(o["end"] - o["start"] for o in traced) / wall)
    # the trace file keeps every span with its attributed Spark work
    attribute(ctx.tracer.spans, evlog)
    return {k: (values[k], LAYER_UNITS[k]) for k in LAYER_UNITS}


if __name__ == "__main__":
    sys.exit(main())
