"""The workloads, kg_batch and shacl_table, and the request probe.

Each workload has the same shape:
- `start(ctx)` starts the Spark session with the settings the program's
  own entry point for that use uses;
- `stage(ctx)` makes the inputs from the seed and the expected outputs;
- `round(ctx, rng)` runs one round of measured operations and returns
  one record per operation, each with its wall time, its CPU seconds,
  the triples it handled and the problems its output check found;
- `rate(ops)` is the triples per wall second of those operations;
- `layers(spans, traced)` turns the spans of a traced round into per-layer
  metrics.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import threading
import time

import gen
import oracle
from spans import covered

KG_SCALE = 0.005    # about 7,750 pages
TABLE_SCALE = 0.01  # about 251,000 triples

# The sessions below repeat the settings of the program's own entry
# points (pipeline/run.py main, bench.py), with the driver heap and the
# scratch directories set by run.py.


def _median(xs, default=0.0):
    xs = list(xs)
    return statistics.median(xs) if xs else default


def _spans_in(spans: list[dict], op: dict, name: str) -> list[dict]:
    return [s for s in spans
            if s["name"] == name and op["start"] <= s["start"] <= op["end"]]


def _busy(spans, op, *names) -> float:
    return sum(s["self_s"] for n in names for s in _spans_in(spans, op, n))


def _counted(spans, op, name, key) -> int:
    return sum(s["counts"].get(key, 0) for s in _spans_in(spans, op, name))


def _engine_layers(spans: list[dict], op: dict) -> dict:
    return {
        "engine.plan_s": _busy(spans, op, "engine.plan"),
        "engine.targets.busy_s": _busy(spans, op, "engine.targets"),
        "engine.targets.focus_nodes": _counted(spans, op, "engine.targets", "focus_nodes"),
        "engine.paths.busy_s": _busy(spans, op, "engine.paths"),
        "engine.paths.value_pairs": _counted(spans, op, "engine.paths", "value_pairs"),
        "engine.constraints.busy_s": _busy(spans, op, "engine.constraints"),
        "engine.sparql.busy_s": _busy(spans, op, "engine.sparql"),
        "engine.sparql.solutions": _counted(spans, op, "engine.sparql", "solutions"),
    }


class KgBatch:
    """pipeline.run.run_pipeline on seeded pages, then a restart that
    resumes from the committed `_scratch` stage snapshots. One operation
    is the fresh build plus the restart."""

    name = "kg_batch"

    def start(self, ctx):
        from pyspark.sql import SparkSession

        return (
            SparkSession.builder.master(f"local[{ctx.cores}]")
            .appName("kg-construct")
            .config("spark.sql.shuffle.partitions", str(max(ctx.cores, 8)))
            .config("spark.ui.enabled", "false")
            .config("spark.sql.adaptive.enabled", "true")
            .config("spark.sql.adaptive.coalescePartitions.enabled", "false")
            .config("spark.sql.files.maxPartitionBytes", "16m")
            .config("spark.sql.autoBroadcastJoinThreshold", "128m")
            .config("spark.rdd.compress", "true")
            .config("spark.locality.wait", "0s")
            .getOrCreate()
        )

    def stage(self, ctx):
        self.data_dir = gen.write(os.path.join(ctx.work, "input"), ctx.seed, KG_SCALE)
        self.expected = oracle.kg_expected(self.data_dir)

    def round(self, ctx, rng) -> list[dict]:
        from shacl_rust_spark.pipeline.emit import parquet_rows
        from shacl_rust_spark.pipeline.run import run_pipeline

        data_dir, exp = self.data_dir, self.expected
        out_dir = os.path.join(ctx.work, "kg_out")

        def partitions():
            with open(f"{out_dir}/_manifest/partitions.json") as f:
                return {r["p"]: {"rows": r["rows"],
                                 "content_fingerprint": r["content_fingerprint"]}
                        for r in json.load(f)}

        shutil.rmtree(out_dir, ignore_errors=True)
        c0 = ctx.cpu_s()
        t0 = time.time()
        with ctx.tracer.span("kg_batch.build", root=True):
            first = run_pipeline(ctx.spark, data_dir, out_dir)
        t1 = time.time()
        m = first["metrics"]
        problems = []
        if m["emitted_triples"] != exp["emitted"]:
            problems.append(f"emitted {m['emitted_triples']} != {exp['emitted']}")
        if m["violations"] != exp["violations"]:
            problems.append(f"violations {m['violations']} != {exp['violations']}")
        if partitions() != exp["partitions"]:
            problems.append("partitions.json differs from the oracle")
        written = _dir_bytes(f"{out_dir}/triples")
        scratch = {s: _dir_bytes(f"{out_dir}/_scratch/{s}")
                   for s in os.listdir(f"{out_dir}/_scratch")
                   if not s.endswith(".json")}
        for sub in ("_manifest", "triples", "nodes"):
            shutil.rmtree(f"{out_dir}/{sub}")
        t2 = time.time()
        with ctx.tracer.span("kg_batch.resume", root=True):
            again = run_pipeline(ctx.spark, data_dir, out_dir)
        t3 = time.time()
        cpu_s = ctx.cpu_s() - c0
        resumed = again["metrics"].get("resumed_stages") or []
        if not resumed:
            problems.append("restart reported no resumed_stages")
        if again["metrics"]["emitted_triples"] != exp["emitted"]:
            problems.append("restart emitted a different triple count")
        if partitions() != exp["partitions"]:
            problems.append("restart partitions.json differs from the oracle")
        return [{
            "start": t0, "end": t3,
            "latency_s": (t1 - t0) + (t3 - t2),
            "build_s": t1 - t0, "resume_s": t3 - t2, "cpu_s": cpu_s,
            "triples": m["emitted_triples"],
            "violations": m["violations"],
            "candidates": parquet_rows(f"{out_dir}/_scratch/candidates"),
            "bytes_written": written,
            "scratch_bytes_read": sum(scratch.get(s, 0) for s in resumed),
            "problems": problems,
        }]

    def rate(self, ops) -> float:
        return _median(o["triples"] / o["build_s"] for o in ops)

    def layers(self, spans, traced) -> dict:
        op = traced[0]
        build = next(s for s in spans if s["name"] == "kg_batch.build"
                     and op["start"] <= s["start"] <= op["end"])
        resume = next(s for s in spans if s["name"] == "kg_batch.resume"
                      and op["start"] <= s["start"] <= op["end"])
        link_rec = _spans_in(spans, build, "pipeline.link")
        linked = sum(s["counts"].get("linked", 0) for s in link_rec)
        linkable = sum(s["counts"].get("linkable", 0) for s in link_rec)
        head = sum(s["counts"].get("head_entity_mentions", 0) for s in link_rec)
        finalize = [(s["start"], s["end"]) for s in spans
                    if s["name"].startswith("pipeline.finalize.")
                    and build["start"] <= s["start"] <= build["end"]]
        return {
            "pipeline.extract.busy_s": _busy(spans, build, "pipeline.extract"),
            "pipeline.extract.pages_in": _counted(spans, build, "pipeline.extract", "pages_in"),
            "pipeline.extract.mentions_out": _counted(spans, build, "pipeline.extract", "mentions_out"),
            "pipeline.link.busy_s": _busy(spans, build, "pipeline.link"),
            "pipeline.link.linked_ratio": linked / linkable if linkable else 0.0,
            "pipeline.link.exact": _counted(spans, build, "pipeline.link", "exact"),
            "pipeline.link.fuzzy": _counted(spans, build, "pipeline.link", "fuzzy"),
            "pipeline.link.head_entity_share": head / linked if linked else 0.0,
            "pipeline.cc.busy_s": _busy(spans, build, "pipeline.cc"),
            "pipeline.cc.edges_in": _counted(spans, build, "pipeline.cc", "edges_in"),
            "pipeline.cc.components": _counted(spans, build, "pipeline.cc", "components"),
            "pipeline.canonicalize.busy_s": _busy(spans, build, "pipeline.canonicalize"),
            "pipeline.canonicalize.candidates_out": op["candidates"],
            "pipeline.emit.validate_s": sum(
                s["dur_s"] for s in _spans_in(spans, build, "pipeline.emit.validate")),
            "pipeline.emit.violations": op["violations"],
            "pipeline.emit.accept_ratio": op["triples"] / op["candidates"],
            "pipeline.emit.write_s": sum(
                s["dur_s"] for s in _spans_in(spans, build, "pipeline.emit.write")),
            "pipeline.emit.bytes_written": op["bytes_written"],
            "pipeline.finalize_s": covered(finalize),
            "pipeline.resume_s": resume["end"] - resume["start"],
            "pipeline.resume.scratch_bytes_read": op["scratch_bytes_read"],
            **_engine_layers(spans, build),
            "engine.violations": op["violations"],
        }


class ShaclTable:
    """One validate_dataset over tabular.full_graph of the seeded tables,
    with a shapes graph made of queries_shacl gate shapes that each have
    a DuckDB twin. One operation is one validation, forced by counting the
    violations per source shape."""

    name = "shacl_table"

    SHAPES = '''
ex:CustOrders a sh:NodeShape ;
  sh:targetClass ex:Customer ;
  sh:property [ sh:path [ sh:inversePath ex:customer ] ; sh:minCount 5 ] .
ex:CustNation a sh:NodeShape ;
  sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:nation ; sh:class ex:Nation ] .
ex:BalType a sh:NodeShape ;
  sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:acctbal ; sh:datatype xsd:double ] .
ex:Balance a sh:NodeShape ;
  sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:acctbal ; sh:minInclusive 0 ] .
ex:NamePattern a sh:NodeShape ;
  sh:targetClass ex:Customer ;
  sh:property [ sh:path ex:name ; sh:pattern "^Customer#[0-9]*[02468]$" ] .
ex:LineCmp a sh:NodeShape ;
  sh:targetClass ex:Line ;
  sh:property [ sh:path ex:discount ; sh:lessThan ex:tax ] .
ex:OrShape a sh:NodeShape ;
  sh:targetClass ex:Customer ;
  sh:or ( [ sh:property [ sh:path ex:acctbal ; sh:minInclusive 0 ] ]
          [ sh:property [ sh:path ex:mktsegment ; sh:hasValue "BUILDING" ] ] ) .
ex:CustRegion a sh:NodeShape ;
  sh:targetClass ex:Customer ;
  sh:property [ sh:path ( ex:nation ex:partOf ) ; sh:class ex:Region ] .
ex:SparqlShape a sh:NodeShape ;
  sh:targetClass ex:Customer ;
  sh:sparql [
    sh:select """
      SELECT $this ?v WHERE {
        $this <http://example.org/acctbal> ?v .
        FILTER (?v < 0)
      }
    """ ] .
'''

    def __init__(self):
        from shacl_rust_spark import vocab as V
        from shacl_rust_spark.queries_shacl import PREFIXES
        from shacl_rust_spark.rdf.turtle import parse_turtle
        from shacl_rust_spark.term import Term

        self.shapes = parse_turtle(PREFIXES + self.SHAPES)
        # violations of a property shape carry the property shape's
        # blank node as source_shape; map it to its node shape's name
        self.shape_of = {}
        for name in oracle.TABLE_GATES:
            node = Term("iri", "http://example.org/" + name)
            self.shape_of[node.n3()] = name
            for ps in self.shapes.objects(node, V.SH + "property"):
                self.shape_of[ps.n3()] = name

    def start(self, ctx):
        from pyspark.sql import SparkSession

        return (
            SparkSession.builder.master(f"local[{ctx.cores}]")
            .appName("shacl-rust-spark-bench")
            .config("spark.sql.shuffle.partitions", str(max(ctx.cores, 8)))
            .config("spark.ui.enabled", "false")
            .config("spark.sql.adaptive.enabled", "true")
            .getOrCreate()
        )

    def stage(self, ctx):
        from shacl_rust_spark import tabular

        data_dir = gen.write(os.path.join(ctx.work, "input"), ctx.seed, TABLE_SCALE)
        t0 = time.time()
        self.graph = tabular.full_graph(ctx.spark, data_dir)
        # full_graph memoizes its plan per session: keep the first build
        self.plan_s = getattr(self, "plan_s", time.time() - t0)
        self.n_triples = self.graph.count()
        self.expected = oracle.table_expected(data_dir)

    def round(self, ctx, rng) -> list[dict]:
        from shacl_rust_spark.engine import engine
        from shacl_rust_spark.engine.dataset import Dataset

        c0 = ctx.cpu_s()
        t0 = time.time()
        with ctx.tracer.span("shacl_table.validate", root=True):
            ds = Dataset(ctx.spark, self.graph, self.shapes, distinct_triples=True)
            report = engine.validate_dataset(ds)
            rows = report.violations.groupBy("source_shape").count().collect()
        t1 = time.time()
        cpu_s = ctx.cpu_s() - c0
        got: dict[str, int] = {}
        for r in rows:
            name = self.shape_of.get(r["source_shape"], r["source_shape"])
            got[name] = got.get(name, 0) + r["count"]
        expected = {k: v for k, v in self.expected.items() if v}
        problems = [] if got == expected else [f"violations {got} != {expected}"]
        return [{"start": t0, "end": t1, "latency_s": t1 - t0, "cpu_s": cpu_s,
                 "triples": self.n_triples, "violations": sum(got.values()),
                 "problems": problems}]

    def trace_extra(self, ctx, rng, traced) -> tuple[list[dict], dict]:
        """The request probe: one untraced round (job counts), one
        traced round (per-request layer times) and the slow case."""
        probe = RequestProbe(ctx)
        untraced = probe.round(ctx, rng)
        with traced():
            spans_round = probe.round(ctx, rng)
        metrics = probe.layers(ctx.tracer.with_self_times(), spans_round, untraced)
        metrics.update(probe.slow_case(ctx))
        return untraced + spans_round, metrics

    def rate(self, ops) -> float:
        return _median(o["triples"] / o["latency_s"] for o in ops)

    def layers(self, spans, traced) -> dict:
        op = traced[0]
        return {
            "tabular.plan_s": self.plan_s,
            **_engine_layers(spans, op),
            "engine.violations": op["violations"],
        }


# Conformance cases the request probe sends, in an order drawn from the
# seed. A fixed mix rather than a random sample: requests take 2-12 s on
# a 4-core host, so a sample of a few would make every per-request
# figure depend on which cases it drew.
REQUEST_MIX = (
    "core/node/in-001",
    "core/property/minCount-002",
    "core/path/path-zeroOrMore-001",
    "sparql/node/sparql-001",
    "sparql/pre-binding/unsupported-sparql-001",
)
# One validation of this case takes 200-360 s on a 4-core host (1.8x
# spread between passes), longer than a run may last. It is kept out of
# the mix and sent once per traced run with a deadline, so the defect
# stays visible.
SLOW_CASE = "core/complex/shacl-shacl"
SLOW_DEADLINE_S = 15.0


class RequestProbe:
    """One client sending ToolServer.handle_request validate_graphs
    requests (output_format json) in a closed loop, on the workload's
    session. Each request runs in its own Spark job group, so its job
    and task counts are exact."""

    def __init__(self, ctx):
        from shacl_rust_spark.server import ToolServer
        from tests.conformance_util import ROOT_MANIFEST, load_test_cases

        self.server = ToolServer(spark=ctx.spark, cpus=ctx.cores)
        base = os.path.dirname(ROOT_MANIFEST) + "/"
        manifest = {c.uri.strip("<>").split(base, 1)[-1]: c
                    for c in load_test_cases()}
        self.cases = {}
        for key in (*REQUEST_MIX, SLOW_CASE):
            c = manifest[key]
            with open(c.data_graph_file) as f:
                data = f.read()
            with open(c.shapes_graph_file) as f:
                shapes = f.read()
            self.cases[key] = {"data": data, "shapes": shapes,
                               "expected": c.expected_conforms}
        self._next_id = 0

    def send(self, ctx, key: str) -> dict:
        case = self.cases[key]
        self._next_id += 1
        group = f"req-{self._next_id}"
        req = {"id": self._next_id, "tool": "validate_graphs",
               "args": {"data_graph": case["data"], "shapes_graph": case["shapes"],
                        "output_format": "json"}}
        ctx.spark.sparkContext.setJobGroup(group, key)
        t0 = time.time()
        with ctx.tracer.span("request", root=True):
            resp = self.server.handle_request(req)
        t1 = time.time()
        rec = {"case": key, "start": t0, "end": t1, "latency_s": t1 - t0,
               "problems": [], **_job_counts(ctx.spark, group)}
        if case["expected"] is None:
            # sht:Failure passes on an error or on a non-conforming report
            if resp["ok"] and json.loads(resp["result"])["conforms"]:
                rec["problems"].append(f"{key}: expected a failure, got conforms")
        elif not resp["ok"]:
            rec["problems"].append(f"{key}: {resp['error']}")
        elif json.loads(resp["result"])["conforms"] != case["expected"]:
            rec["problems"].append(f"{key}: conforms != {case['expected']}")
        return rec

    def round(self, ctx, rng) -> list[dict]:
        order = list(REQUEST_MIX)
        rng.shuffle(order)
        return [self.send(ctx, key) for key in order]

    def slow_case(self, ctx) -> dict:
        """Send SLOW_CASE once; cancel its jobs at the deadline."""
        box: dict = {}
        group = f"req-{self._next_id + 1}"

        def send():
            try:
                box["rec"] = self.send(ctx, SLOW_CASE)
            except Exception as e:  # the session may stop under a cancelled request
                box["error"] = repr(e)

        t0 = time.time()
        worker = threading.Thread(target=send, daemon=True)
        worker.start()
        worker.join(SLOW_DEADLINE_S)
        done = "rec" in box
        latency_s = box["rec"]["latency_s"] if done else time.time() - t0
        counts = _job_counts(ctx.spark, group)
        if not done:
            ctx.spark.sparkContext.cancelJobGroup(group)
        return {"slow_case.latency_ms": latency_s * 1e3,
                "slow_case.completed": int(done),
                "slow_case.jobs": counts["jobs"]}

    @staticmethod
    def layers(spans, traced, untraced) -> dict:
        def per_request(name):
            return _median(sum(s["dur_s"] for s in _spans_in(spans, op, name))
                           for op in traced) * 1e3

        return {
            "rdf.parse_ms": per_request("rdf.parse"),
            "shapes.parse_ms": per_request("shapes.parse"),
            "engine.validate_ms": per_request("engine.validate"),
            "server.render_ms": per_request("server.render"),
            "spark.jobs_per_request": _median(o["jobs"] for o in untraced),
            "spark.tasks_per_request": _median(o["tasks"] for o in untraced),
        }


def _job_counts(spark, group: str) -> dict:
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    tasks = 0
    for j in jobs:
        info = st.getJobInfo(j)
        for sid in (info.stageIds if info else []):
            stage = st.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return {"jobs": len(jobs), "tasks": tasks}


def _dir_bytes(path: str) -> int:
    return sum(os.path.getsize(os.path.join(d, f))
               for d, _, files in os.walk(path) for f in files)


WORKLOADS = {w.name: w for w in (KgBatch, ShaclTable)}
