"""In-memory span tracer, layer wrappers and Spark event-log attribution.

Spans are recorded from outside the program: `install_layer_spans`
replaces the public functions of each layer with wrappers that open a
span, call the original, and force the layer's (lazy) output inside the
span, so the span's time is the layer's work rather than plan building.
Counters are taken in `trace.count` child spans, so they show up as
tracing overhead and not as layer self time. Everything stays in memory
until `Tracer.dump` writes it once at the end of the run.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import threading
import time


class Tracer:
    """Spans with name, start, end, parent and run id.

    Spans opened on a thread with no open span (the pipeline's driver
    thread pools) are parented to the innermost span opened with
    `root=True`, i.e. the current operation."""

    def __init__(self, run_id: str):
        self.run_id = run_id
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()
        self._roots: list[int] = []
        self._next_id = 0

    @contextlib.contextmanager
    def span(self, name: str, root: bool = False):
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sid = self._next_id
            self._next_id += 1
        parent = stack[-1] if stack else (self._roots[-1] if self._roots else None)
        rec = {"id": sid, "name": name, "parent": parent, "run": self.run_id,
               "start": time.time(), "end": None, "counts": {}}
        stack.append(sid)
        if root:
            self._roots.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            stack.pop()
            if root:
                self._roots.remove(sid)
            with self._lock:
                self.spans.append(rec)

    def count(self, fn):
        """Run a counting action in a `trace.count` child span."""
        with self.span("trace.count"):
            return fn()

    def with_self_times(self) -> list[dict]:
        """Spans sorted by start, each with `dur_s` and `self_s` (its
        duration minus the part of its interval its children cover)."""
        children: dict[int, list[dict]] = {}
        for s in self.spans:
            if s["parent"] is not None:
                children.setdefault(s["parent"], []).append(s)
        out = []
        for s in sorted(self.spans, key=lambda r: r["start"]):
            ivs = [(max(c["start"], s["start"]), min(c["end"], s["end"]))
                   for c in children.get(s["id"], [])]
            out.append({**s, "dur_s": s["end"] - s["start"],
                        "self_s": s["end"] - s["start"] - covered(ivs)})
        return out

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": self.with_self_times()}, f, indent=1)


def covered(intervals) -> float:
    """Length of the union of (start, end) intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(iv for iv in intervals if iv[1] > iv[0]):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


@contextlib.contextmanager
def layer_spans(tracer: Tracer):
    """Layer spans on for the duration of the block."""
    undo = _install(tracer)
    try:
        yield
    finally:
        for obj, attr, orig in reversed(undo):
            setattr(obj, attr, orig)


def _install(tracer: Tracer) -> list:
    """Wrap the layer entry points of the pipeline, the engine and the
    tool server; returns (object, attribute, original) triples."""
    from pyspark.sql import functions as F
    from pyspark.sql.readwriter import DataFrameWriter

    import shacl_rust_spark.rdf as rdf
    import shacl_rust_spark.server as server
    from shacl_rust_spark.engine import engine, sparql
    from shacl_rust_spark.pipeline import cc, emit, extract, link

    undo: list = []

    def patch(obj, attr, make):
        orig = getattr(obj, attr)
        undo.append((obj, attr, orig))
        setattr(obj, attr, make(orig))

    def forced(name, counter):
        """Span `name` around the call; `counter(result, rec)` forces
        the output inside the span and stores its counts."""
        def make(orig):
            def wrapper(*a, **kw):
                with tracer.span(name) as rec:
                    out = orig(*a, **kw)
                    counter(out, rec)
                return out
            return wrapper
        return make

    def timed(name):
        return forced(name, lambda out, rec: None)

    # --- pipeline ------------------------------------------------------
    def extract_in(orig):
        def wrapper(pages_df):
            with tracer.span("pipeline.extract") as rec:
                rec["counts"]["pages_in"] = tracer.count(pages_df.count)
                return orig(pages_df)
        return wrapper

    patch(extract, "extract_text", extract_in)
    patch(extract, "detect_mentions", forced(
        "pipeline.extract",
        lambda out, rec: rec["counts"].update(mentions_out=out.count())))

    def link_counts(out, rec):
        lives = F.col("kind") == "lives_in"
        row = out.agg(
            F.sum(lives.cast("long")).alias("linkable"),
            F.sum((lives & F.col("entity_id").isNotNull()).cast("long")).alias("linked"),
            F.sum((F.col("link_method") == "exact").cast("long")).alias("exact"),
            F.sum((F.col("link_method") == "fuzzy").cast("long")).alias("fuzzy"),
        ).collect()[0]
        rec["counts"].update({k: row[k] or 0 for k in row.asDict()})
        top = tracer.count(lambda: out.where(F.col("entity_id").isNotNull())
                           .groupBy("entity_id").count()
                           .orderBy(F.col("count").desc()).limit(1).collect())
        rec["counts"]["head_entity_mentions"] = top[0]["count"] if top else 0

    patch(link, "link_mentions", forced("pipeline.link", link_counts))

    def cc_in(orig):
        def wrapper(edges, *a, **kw):
            with tracer.span("pipeline.cc") as rec:
                rec["counts"]["edges_in"] = tracer.count(edges.count)
                out = orig(edges, *a, **kw)
                rec["counts"]["components"] = out.agg(
                    F.countDistinct("component")).collect()[0][0]
            return out
        return wrapper

    patch(cc, "connected_components", cc_in)
    patch(cc, "canonicalize", forced(
        "pipeline.canonicalize",
        lambda out, rec: rec["counts"].update(rows_out=out.count())))
    patch(emit, "validate_candidates", forced(
        "pipeline.emit.validate",
        lambda out, rec: rec["counts"].update(violations=out[1].count())))
    patch(emit, "partition_stats", timed("pipeline.finalize.stats"))
    patch(emit, "write_manifest", timed("pipeline.finalize.manifest"))

    def writer(orig):
        def wrapper(self, path, *a, **kw):
            p = str(path).rstrip("/")
            name = ("pipeline.emit.write" if p.endswith("/triples")
                    else "pipeline.finalize.nodes" if p.endswith("/nodes")
                    else "pipeline.scratch.write" if "/_scratch/" in p
                    else "io.write")
            with tracer.span(name):
                return orig(self, path, *a, **kw)
        return wrapper

    patch(DataFrameWriter, "parquet", writer)

    # --- engine --------------------------------------------------------
    patch(engine, "parse_shapes", timed("shapes.parse"))
    # validate_dataset is imported by name into the pipeline's emit
    # module, so both bindings are wrapped
    patch(engine, "validate_dataset", timed("engine.plan"))
    patch(emit, "validate_dataset", timed("engine.plan"))
    patch(engine, "resolve_targets", forced(
        "engine.targets",
        lambda out, rec: rec["counts"].update(focus_nodes=out.count())))
    patch(engine, "resolve_path", forced(
        "engine.paths",
        lambda out, rec: rec["counts"].update(value_pairs=out.count())))
    patch(engine, "constraint_violations", forced(
        "engine.constraints",
        lambda out, rec: rec["counts"].update(
            violations=sum(df.count() for df in out))))
    patch(sparql, "sparql_violations", forced(
        "engine.sparql",
        lambda out, rec: rec["counts"].update(
            solutions=sum(df.count() for df in out))))

    def force_report(report, rec):
        # collect once inside the span and serve the rows to the
        # renderer, so the report is not computed a second time
        rows = report.violations.collect()
        report._conforms = not rows
        report.results = lambda: rows
        rec["counts"]["violations"] = len(rows)

    patch(engine, "validate_graphs", forced("engine.validate", force_report))

    # --- tool server ---------------------------------------------------
    patch(rdf, "parse_rdf", timed("rdf.parse"))
    patch(server, "_render_report", timed("server.render"))
    return undo


# --- Spark event log -----------------------------------------------------

def read_event_log(evdir: str) -> list[dict]:
    """Task records from the application event log in `evdir`; times in
    epoch seconds."""
    tasks: list[dict] = []
    for path in glob.glob(os.path.join(evdir, "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                if ev.get("Event") != "SparkListenerTaskEnd":
                    continue
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                tasks.append({
                    "stage": ev["Stage ID"],
                    "end": info["Finish Time"] / 1e3,
                    "task_s": m.get("Executor Run Time", 0) / 1e3,
                    "gc_s": m.get("JVM GC Time", 0) / 1e3,
                    "shuffle_read_mb": (sr.get("Remote Bytes Read", 0)
                                        + sr.get("Local Bytes Read", 0)) / 2**20,
                    "shuffle_write_mb": sw.get("Shuffle Bytes Written", 0) / 2**20,
                })
    return tasks


_SUMMED = ("task_s", "gc_s", "shuffle_read_mb", "shuffle_write_mb")


def totals(tasks: list[dict], windows: list[tuple[float, float]]) -> dict:
    """Task time, GC, shuffle and stage count of the tasks that finished
    inside any of `windows`."""
    ts = [t for t in tasks if any(s <= t["end"] <= e for s, e in windows)]
    out = {k: sum(t[k] for t in ts) for k in _SUMMED}
    out["stages"] = len({t["stage"] for t in ts})
    return out


def attribute(spans: list[dict], tasks: list[dict]) -> None:
    """Add each task's metrics to the innermost span (latest start) whose
    interval holds the task's finish time, as the span's `spark` field."""
    ordered = sorted(spans, key=lambda s: s["start"])
    owned: dict[int, list[dict]] = {}
    for t in tasks:
        owner = None
        for s in ordered:
            if s["start"] > t["end"]:
                break
            if s["end"] >= t["end"]:
                owner = s
        if owner is not None:
            owned.setdefault(owner["id"], []).append(t)
    for s in ordered:
        s["spark"] = totals(owned.get(s["id"], []), [(float("-inf"), float("inf"))])
