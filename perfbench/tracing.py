"""Traced run: per-layer metrics, measured from outside the engine.

Untraced ops (``min_rounds`` of them), then one op under ``setJobGroup("pipeline")`` (or, for
``queries``, one pass with each query under ``setJobGroup("query.<name>")``),
then each KG layer's public function replayed over the committed inputs of
that op, under ``setJobGroup(<layer>)``, into the noop sink.  Every call
records a span (name, start, end, parent, op id); spans stay in memory and
are written to ``<work>/trace/`` at the end.  Spark task metrics come from
the event log, parsed after ``spark.stop()``, and are attributed to spans
by job group (or, for a job without one, by its submission time).
"""

from __future__ import annotations

import glob
import json
import os
import shutil
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass

from pyspark.sql import DataFrame, Observation
from pyspark.sql import functions as F

import checks
from kg.catalog import StageCatalog
from kg.graph import build_edges, build_nodes, build_nodes_from_counts
from kg.invariant import passthrough_docs, span_violations
from kg.keyphrase import keyphrases_table
from kg.linking import (candidate_pairs, connected_components, mention_shingle_buckets,
                        verified_edge_ids)
from kg.mention import explode_text_spans, extract_sentences, mentions_table, triples_table
from measure import result_line, timed_cpu
from workloads import WORKLOADS, Env, catalog_bytes, tally

LAYERS = ("mention.extract", "mention.explode", "keyphrase", "invariant.passthrough",
          "invariant.check", "linking.signatures", "linking.candidates", "linking.verify",
          "linking.cc", "graph.nodes", "graph.edges")
COUNTERS = (("busy_s", "s"), ("task_s", "s"), ("idle_slot_s", "s"),
            ("rows_out", "rows"), ("shuffle_mb", "MB"), ("spill_mb", "MB"))


def metric_units() -> dict[str, str]:
    """Every per-layer metric the traced run emits, with its unit."""
    units = {f"{layer}.{c}": u for layer in LAYERS for c, u in COUNTERS}
    units |= {"linking.distinct_mentions": "rows", "linking.verify_yield": "ratio",
              "catalog.read_s": "s", "catalog.files": "count", "catalog.mb": "MB",
              "pipeline.spark_jobs": "count", "pipeline.task_s": "s", "pipeline.overhead_s": "s",
              "pipeline.resume_s": "s", "trace.overhead_s": "s"}
    for q in checks.QUERIES:
        units |= {f"query.{q}_s": "s", f"query.{q}.task_s": "s"}
    return units


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    parent: str | None
    op_id: int

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, op_id: int, parent: str | None = None):
        self.sc.setJobGroup(name, name)
        t0 = time.time()
        try:
            yield
        finally:
            self.spans.append(Span(name, t0, time.time(), parent, op_id))
            self.sc.setJobGroup("untraced", "untraced")

    def busy(self, name: str) -> float:
        return sum(s.dur for s in self.spans if s.name == name)


def noop_rows(df: DataFrame) -> int:
    """Write ``df`` to the noop sink; its row count comes from an
    Observation in the same job."""
    obs = Observation()
    df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode("overwrite").save()
    return int(obs.get["n"])


@contextmanager
def timing_reads(durations: list[float]):
    """Time every ``StageCatalog.read`` call while the block runs."""
    orig = StageCatalog.read

    def read(self, stage):
        t0 = time.perf_counter()
        try:
            return orig(self, stage)
        finally:
            durations.append(time.perf_counter() - t0)

    StageCatalog.read = read
    try:
        yield
    finally:
        StageCatalog.read = orig


def manifests(cat: StageCatalog) -> dict[str, set[str]]:
    return {s: {f["file"] for f in (cat.manifest(s) or {"files": []})["files"]}
            for s in os.listdir(cat.base_dir)}


def committed(cat: StageCatalog, before: dict[str, set[str]], stage: str) -> DataFrame:
    """The files the traced op committed to ``stage`` (all of them for a
    rewritten stage, the increment for an appended one)."""
    m = cat.manifest(stage)
    new = [f["file"] for f in m["files"] if f["file"] not in before.get(stage, set())]
    if not new:
        return cat.read(stage).limit(0)
    data = cat.data_dir(stage)
    return cat.spark.read.option("basePath", data).parquet(*[os.path.join(data, f) for f in new])


def linking_pairs(cat: StageCatalog) -> tuple[DataFrame, DataFrame]:
    """Candidate-pair input of the linked stage, rebuilt from its committed
    signature table as ``kg.linking.link_from_signatures`` does: returns
    the surrogate-id core table and its bucket rows, both materialized."""
    core = (cat.read("linked_cc_sigs")
            .withColumn("mid", F.monotonically_increasing_id())
            .localCheckpoint())
    buckets = core.select("mid", F.explode("buckets").alias("bucket")).localCheckpoint()
    return core, buckets


def replay_layers(tracer: Tracer, cat: StageCatalog, before: dict, vocab,
                  executed: list[str], op_id: int) -> dict[str, int]:
    """Each layer's public function over the op's committed inputs."""
    rows: dict[str, int] = {}

    def run(layer: str, *make) -> None:
        """``make``: callables building the layer's output DataFrames, called
        inside the span because some layers (CC) run jobs while building."""
        with tracer.span(layer, op_id, parent="replay"):
            rows[layer] = sum(noop_rows(fn()) for fn in make)

    docs = committed(cat, before, "documents")
    extract = committed(cat, before, "extract")
    docs_out = committed(cat, before, "documents_out")
    run("mention.extract", lambda: extract_sentences(explode_text_spans(docs), vocab))
    run("mention.explode", lambda: mentions_table(extract), lambda: triples_table(extract))
    run("keyphrase", lambda: keyphrases_table(docs))
    run("invariant.passthrough", lambda: passthrough_docs(docs))
    run("invariant.check", lambda: span_violations(docs, docs_out))
    run("linking.signatures", lambda: mention_shingle_buckets(cat.read("mentions")))
    # Inputs of the next linking layers are materialized between spans,
    # outside any layer, as the linked stage's own localCheckpoints do.
    core, buckets = linking_pairs(cat)
    run("linking.candidates", lambda: candidate_pairs(buckets, key="mid"))
    pairs = candidate_pairs(buckets, key="mid").localCheckpoint()
    verified = verified_edge_ids(pairs, core.select("mid", "shingles"))
    run("linking.verify", lambda: verified)
    idmap = core.select("mid", "mention")
    edges = (verified.localCheckpoint()
             .join(idmap.select(F.col("mid").alias("m1"), F.col("mention").alias("t1")), "m1")
             .join(idmap.select(F.col("mid").alias("m2"), F.col("mention").alias("t2")), "m2")
             .select(F.least("t1", "t2").alias("m1"), F.greatest("t1", "t2").alias("m2"), "sim")
             .localCheckpoint())
    run("linking.cc", lambda: connected_components(edges))
    linked = cat.read("linked")
    if cat.manifest("nodes_mtc") is not None:
        run("graph.nodes", lambda: build_nodes_from_counts(cat.read("nodes_mtc"), linked))
    else:
        run("graph.nodes", lambda: build_nodes(cat.read("mentions"), linked))
    triples = committed(cat, before, "triples") if "edges+append" in executed else cat.read("triples")
    run("graph.edges", lambda: build_edges(triples, linked))
    return rows


def read_event_log(ev_dir: str, app_id: str) -> list[dict]:
    """Jobs of the application with their group, submission and
    completion times and the summed task metrics of their stages."""
    files = glob.glob(os.path.join(ev_dir, f"eventlog_v2_{app_id}", "events_*"))
    files.sort(key=lambda p: int(os.path.basename(p).split("_")[1]))
    files = files or [os.path.join(ev_dir, app_id)]
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in files:
        with open(path, encoding="utf-8") as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jid = ev["Job ID"]
                    jobs[jid] = {"group": (ev.get("Properties") or {}).get("spark.jobGroup.id"),
                                 "submit": ev["Submission Time"] / 1000.0, "end": None,
                                 "task_s": 0.0, "shuffle_b": 0, "spill_b": 0}
                    for sid in ev["Stage IDs"]:
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd" and ev.get("Task Metrics"):
                    job = jobs.get(stage_job.get(ev["Stage ID"]))
                    if job is None:
                        continue
                    tm = ev["Task Metrics"]
                    job["task_s"] += tm["Executor Run Time"] / 1000.0
                    job["shuffle_b"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    job["spill_b"] += tm["Disk Bytes Spilled"]
    return list(jobs.values())


def job_covered_s(jobs: list[dict], span: Span) -> float:
    """Seconds of ``span`` during which at least one Spark job ran (the
    union of the jobs' submission-to-completion intervals, clipped)."""
    ivs = sorted((max(j["submit"], span.start), min(j["end"], span.end))
                 for j in jobs if j["end"] is not None)
    covered, reach = 0.0, span.start
    for lo, hi in ivs:
        lo = max(lo, reach)
        if hi > lo:
            covered += hi - lo
            reach = hi
    return covered


def attribute(jobs: list[dict], spans: list[Span]) -> dict[str, dict]:
    """Sum job metrics per span name: by job group when it names a span,
    else by the latest-started span whose interval holds the submission."""
    names = {s.name for s in spans}
    out: dict[str, dict] = {}
    for job in jobs:
        name = job["group"] if job["group"] in names else None
        if name is None:
            inside = [s for s in spans if s.start <= job["submit"] <= s.end]
            name = max(inside, key=lambda s: s.start).name if inside else "untraced"
        acc = out.setdefault(name, {"jobs": 0, "task_s": 0.0, "shuffle_b": 0, "spill_b": 0})
        acc["jobs"] += 1
        for k in ("task_s", "shuffle_b", "spill_b"):
            acc[k] += job[k]
    return out


def main(args, cores: int, work: str, start_spark, setup_workload) -> int:
    ev_dir = os.path.join(work, "eventlog")
    shutil.rmtree(ev_dir, ignore_errors=True)
    os.makedirs(ev_dir)
    *session, spark = timed_cpu(start_spark, cores, {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + ev_dir,
        "spark.eventLog.compress": "false",
    })
    tracer = Tracer(spark)
    reads: list[float] = []
    layer_rows: dict[str, int] = {}
    m: dict[str, float] = {}
    try:
        env = Env(spark, work, args.seed, cores)
        wl = WORKLOADS[args.workload](env)
        setup_workload(wl, session)
        spark.sparkContext.setJobGroup("untraced", "untraced")
        primary = getattr(wl, f"op_{wl.primary}")
        # as many untraced ops as a timed run makes at least; the traced op
        # is compared with the last of them
        for _ in range(wl.min_rounds):
            untraced = primary()
            wl.ops.append(untraced)
        if wl.name == "queries":
            t0 = time.perf_counter()
            for name in wl.order():
                with tracer.span(f"query.{name}", op_id=1, parent="queries"):
                    wl.run_query(name)
            traced_wall = time.perf_counter() - t0
        else:
            # a build commits into a fresh catalog, an append into the same one
            before = manifests(StageCatalog(spark, wl.catalog_dir)) if wl.name == "append" else {}
            with timing_reads(reads), tracer.span("pipeline", op_id=1):
                wl.ops.append(primary())
            traced_wall = tracer.busy("pipeline")
            cat = StageCatalog(spark, wl.catalog_dir)
            layer_rows = replay_layers(tracer, cat, before, wl.vocab, wl.last.executed, op_id=1)
            files, size = catalog_bytes(spark, cat.base_dir)
            with tracer.span("resume", op_id=2):
                wl.ops.append(wl.op_resume())
            m |= {"catalog.files": files, "catalog.mb": size / 2**20,
                  "pipeline.resume_s": tracer.busy("resume")}
        wl.finish()
        app_id = spark.sparkContext.applicationId
    finally:
        spark.stop()

    jobs = read_event_log(ev_dir, app_id)
    groups = attribute(jobs, tracer.spans)
    for layer in LAYERS:
        g = groups.get(layer, {})
        busy = tracer.busy(layer)
        task = g.get("task_s", 0.0)
        m |= {f"{layer}.busy_s": busy, f"{layer}.task_s": task,
              f"{layer}.idle_slot_s": busy * cores - task,
              f"{layer}.rows_out": layer_rows.get(layer, 0),
              f"{layer}.shuffle_mb": g.get("shuffle_b", 0) / 2**20,
              f"{layer}.spill_mb": g.get("spill_b", 0) / 2**20}
    cand = layer_rows.get("linking.candidates", 0)
    if layer_rows:
        wl.info.update(candidate_pairs=cand, verified_pairs=layer_rows["linking.verify"])
    m["linking.distinct_mentions"] = layer_rows.get("linking.signatures", 0)
    m["linking.verify_yield"] = layer_rows.get("linking.verify", 0) / cand if cand else 0.0
    m["catalog.read_s"] = sum(reads)
    m["pipeline.spark_jobs"] = groups.get("pipeline", {}).get("jobs", 0)
    m["pipeline.task_s"] = groups.get("pipeline", {}).get("task_s", 0.0)
    # driver-side time of the traced op: planning, commits, fingerprinting,
    # scheduling gaps (no Spark job running)
    pipe = [s for s in tracer.spans if s.name == "pipeline"]
    job_s = job_covered_s(jobs, pipe[0]) if pipe else 0.0
    m["pipeline.overhead_s"] = traced_wall - job_s if pipe else 0.0
    m["trace.overhead_s"] = traced_wall - untraced.wall
    for q in checks.QUERIES:
        m[f"query.{q}_s"] = tracer.busy(f"query.{q}")
        m[f"query.{q}.task_s"] = groups.get(f"query.{q}", {}).get("task_s", 0.0)

    units = metric_units()
    metrics = {name: (m.get(name, 0.0), unit) for name, unit in units.items()}
    trace_dir = os.path.join(work, "trace")
    os.makedirs(trace_dir, exist_ok=True)
    spans_path = os.path.join(trace_dir, f"spans-{wl.name}-{args.seed}.json")
    with open(spans_path, "w", encoding="utf-8") as f:
        json.dump({"spans": [asdict(s) for s in tracer.spans], "groups": groups}, f, indent=1)
    attempted, failed = tally(wl.ops)
    print(f"# workload={wl.name} seed={args.seed} cores={cores} traced_wall={traced_wall:.4f}"
          f" untraced_wall={untraced.wall:.4f} job_covered_s={job_s:.4f} spans={spans_path}")
    if m["pipeline.task_s"]:
        tail = sum(m[f"{x}.task_s"] for x in LAYERS if x.startswith(("linking.", "graph.")))
        print(f"# linking+graph replay task_s / traced op task_s = {tail / m['pipeline.task_s']:.3f}")
    for o in wl.ops:
        if not o.ok:
            print(f"# FAILED {o.kind}: {o.note}")
    for name, (value, unit) in metrics.items():
        print(f"# metric {name} = {value:.6g} {unit}")
    print("# descriptors " + json.dumps(wl.info, default=str))
    shutil.rmtree(os.path.join(work, wl.name), ignore_errors=True)
    print(result_line(failed == 0, attempted, failed, metrics))
    return 0
