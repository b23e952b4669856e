"""The three workloads: ``build``, ``append`` and ``queries``.

Each workload makes its inputs in ``prepare`` (repeatable: set-up time
takes its median), warms up in ``setup``, then runs one op per ``op`` call
from a closed loop with one client.  Every op is checked; ``finish`` runs
the checks that need the whole run (oracles, append == fresh build).
Check work is never inside an op's timing.
"""

from __future__ import annotations

import os
import random
import shutil
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

import checks
import corpus
from kg.catalog import StageCatalog
from kg.pipeline import PipelineResult, run_pipeline, run_pipeline_append
from kg.synth import DOCS_SCHEMA
from measure import timed_cpu

# the fixed seed-42 testdata the declared queries are checked on (as bench.py)
SF_DIR = "/root/testdata/sf0.1"


@dataclass
class Op:
    kind: str
    wall: float
    ok: bool
    note: str = ""
    cpu: float = 0.0  # CPU seconds of the process tree during the op


@dataclass
class Env:
    spark: SparkSession
    work: str
    seed: int
    cores: int


def catalog_bytes(spark: SparkSession, base_dir: str) -> tuple[int, int]:
    """(files, bytes) committed under a catalog, from its manifests."""
    rows = StageCatalog(spark, base_dir).ledger()
    return len(rows), sum(r["bytes"] for r in rows)


class Workload:
    name = ""
    primary = ""  # the op kind whose median CPU time is op_cpu_s
    kinds: tuple[str, ...] = ()  # op kinds a run must include
    min_rounds = 1  # rounds of ``kinds`` a run makes however long they take
    exhausted = False  # True once the workload has no input left for another op
    catalog_dir: str | None = None  # the catalog the last op committed into

    def __init__(self, env: Env):
        self.env = env
        self.spark = env.spark
        self.ops: list[Op] = []
        self.info: dict = {}

    def path(self, *parts: str) -> str:
        return os.path.join(self.env.work, self.name, *parts)

    def walls(self, kind: str) -> list[float]:
        return [o.wall for o in self.ops if o.kind == kind]

    def warm_checks(self) -> None:
        """Untimed check work after the warm-up (reference outputs)."""

    def next_kind(self) -> str:
        """Op kinds run in turn; the op of kind k is ``op_<k>``."""
        return self.kinds[len(self.ops) % len(self.kinds)]

    def describe(self, cat: StageCatalog, docs: list[dict]) -> None:
        """Workload descriptors of the run (a traced run adds the linking
        candidate and verified pairs)."""
        self.info.update(corpus.describe(docs))
        self.info.update(nproc=self.env.cores,
                         mention_rows=cat.manifest("mentions")["rows"],
                         distinct_mentions=cat.manifest("linked")["rows"])


def checksums(spark: SparkSession, base_dir: str) -> dict:
    """Manifest checksums of the nine tables: equal iff nothing was rewritten."""
    cat = StageCatalog(spark, base_dir)
    return {t: cat.fingerprint(t) for t in checks.TABLES}


def resume_op(run, spark: SparkSession, base_dir: str) -> Op:
    """Re-submit work whose every stage is committed: nothing may run."""
    before = checksums(spark, base_dir)
    wall, cpu, res = timed_cpu(run)
    ok = res.executed == [] and checksums(spark, base_dir) == before
    return Op("resume", wall, ok, "" if ok else f"resume recomputed {res.executed}", cpu)


class Build(Workload):
    """One fresh ``run_pipeline`` per op, into an empty catalog."""

    name = "build"
    primary = "build"
    kinds = ("build",)
    N_DOCS = 3000

    def prepare(self) -> None:
        self.docs = corpus.build_corpus(self.env.seed, self.N_DOCS)
        self.vocab = corpus.corpus_vocab(self.docs)
        self.input = corpus.write_docs(self.docs, self.path("input", "docs.parquet"))

    def setup(self) -> None:
        self.df = self.spark.read.schema(DOCS_SCHEMA).parquet(self.input)
        self.n = 0
        self.last = self.run_build()

    @property
    def catalog_dir(self) -> str:
        return self.last.catalog.base_dir

    def run_build(self) -> PipelineResult:
        d = self.path(f"catalog-{self.n}")
        shutil.rmtree(d, ignore_errors=True)
        self.n += 1
        return run_pipeline(self.spark, self.df, d, vocab=self.vocab,
                            input_token=f"perfbench-build-{self.env.seed}")

    def warm_checks(self) -> None:
        """Reference digests from the warm-up build (untimed)."""
        self.ref = checks.table_digests(self.last.tables)
        self.schemas = {t: self.last.tables[t].schema for t in ("mentions", "triples")}

    def op_build(self) -> Op:
        prev = self.catalog_dir
        wall, cpu, res = timed_cpu(self.run_build)
        ok = res.invariant_violations == 0 and checks.table_digests(res.tables) == self.ref
        shutil.rmtree(prev, ignore_errors=True)
        self.last = res
        return Op("build", wall, ok, cpu=cpu)

    def finish(self) -> None:
        oracle = checks.oracle_digests(self.spark, self.docs, self.vocab, self.schemas)
        if any(self.ref[t] != oracle[t] for t in oracle):
            for o in self.ops:
                o.ok, o.note = False, "mentions/triples differ from kg.oracle"
        self.describe(self.last.catalog, self.docs)


class Append(Workload):
    """Batch appends into a graph built at set-up, each followed by
    re-submitting the batch just folded (a resume: every stage complete)."""

    name = "append"
    primary = "append"
    kinds = ("append", "resume")
    N_BASE = 3000
    BATCH = 30
    N_BATCHES = 4

    def prepare(self) -> None:
        self.base, self.batches = corpus.append_corpus(
            self.env.seed, self.N_BASE, self.N_BATCHES, self.BATCH)
        self.vocab = corpus.corpus_vocab(self.base + [d for b in self.batches for d in b])
        self.base_path = corpus.write_docs(self.base, self.path("input", "base.parquet"))
        self.batch_paths = [corpus.write_docs(b, self.path("input", f"batch-{j:03d}.parquet"))
                            for j, b in enumerate(self.batches)]

    def read(self, *paths: str) -> DataFrame:
        return self.spark.read.schema(DOCS_SCHEMA).parquet(*paths)

    def setup(self) -> None:
        """Base build, then one untimed append, so that the timed appends
        run code paths the JVM has already run once."""
        self.catalog_dir = self.path("catalog")
        shutil.rmtree(self.catalog_dir, ignore_errors=True)
        run_pipeline(self.spark, self.read(self.base_path), self.catalog_dir,
                     vocab=self.vocab, input_token=f"perfbench-append-base-{self.env.seed}")
        self.folded = 0
        self.branches: list[dict] = []
        self.append_batch()

    def token(self, j: int) -> str:
        return f"perfbench-append-{self.env.seed}-batch-{j}"

    def append_batch(self) -> PipelineResult:
        j = self.folded
        res = run_pipeline_append(self.spark, self.read(self.batch_paths[j]), self.catalog_dir,
                                  vocab=self.vocab, input_token=self.token(j))
        self.folded += 1
        self.exhausted = self.folded >= len(self.batches)
        self.branches.append(branch(res.executed) | {"stage_s": res.timings})
        return res

    def resume_batch(self) -> PipelineResult:
        j = self.folded - 1
        return run_pipeline_append(self.spark, self.read(self.batch_paths[j]), self.catalog_dir,
                                   vocab=self.vocab, input_token=self.token(j))

    def op_resume(self) -> Op:
        return resume_op(self.resume_batch, self.spark, self.catalog_dir)

    def op_append(self) -> Op:
        wall, cpu, res = timed_cpu(self.append_batch)
        self.last = res
        return Op("append", wall, res.invariant_violations == 0, cpu=cpu)

    def finish(self) -> None:
        """append(base, b0..bk) must equal a fresh build over their union."""
        fresh_dir = self.path("fresh")
        shutil.rmtree(fresh_dir, ignore_errors=True)
        fresh = run_pipeline(
            self.spark, self.read(self.base_path, *self.batch_paths[: self.folded]),
            fresh_dir, vocab=self.vocab, input_token="perfbench-append-fresh")
        cat = StageCatalog(self.spark, self.catalog_dir)
        names = ("linked", "nodes", "edges")
        got = checks.table_digests({t: cat.read(t) for t in names}, names)
        want = checks.table_digests(fresh.tables, names)
        appends = [o for o in self.ops if o.kind == "append"]
        if got != want and appends:
            appends[-1].ok = False
            appends[-1].note = f"append != fresh build on {[t for t in got if got[t] != want[t]]}"
        shutil.rmtree(fresh_dir, ignore_errors=True)
        self.info.update(batch_docs=self.BATCH, batches_folded=self.folded, branches=self.branches)
        self.describe(cat, self.base)


def tally(ops: list[Op]) -> tuple[int, int]:
    """(attempted, failed): an op fails if it raised or its check failed."""
    return len(ops), sum(not o.ok for o in ops)


def branch(executed: list[str]) -> dict:
    """Which physical path an append took, from ``PipelineResult.executed``."""
    return {
        "linked": "recomputed" if "linked" in executed else "skipped",
        "edges": ("appended" if "edges+append" in executed
                  else "recomputed" if "edges" in executed else "skipped"),
    }


class Queries(Workload):
    """The ten declared relational / kg.ops queries over the fixed sf0.1
    testdata, each written to the noop sink; the seed permutes the order
    of every pass."""

    name = "queries"
    primary = "queries"
    kinds = ("queries",)
    min_rounds = 2

    def prepare(self) -> None:
        import __spark_entry__ as E

        self.fns = {n: E.queries()[n] for n in checks.QUERIES}
        self.rng = random.Random(f"perfbench:queries:{self.env.seed}")

    def setup(self) -> None:
        """Warm-up pass that collects each result for the oracle check."""
        self.results = {n: self.fns[n](self.spark, SF_DIR).toPandas() for n in self.order()}

    def order(self) -> list[str]:
        names = list(checks.QUERIES)
        self.rng.shuffle(names)
        return names

    def run_query(self, name: str) -> None:
        self.fns[name](self.spark, SF_DIR).write.format("noop").mode("overwrite").save()

    def op_queries(self) -> Op:
        wall, cpu, _ = timed_cpu(lambda: [self.run_query(n) for n in self.order()])
        return Op("queries", wall, True, cpu=cpu)

    def finish(self) -> None:
        """Each warm-up result against its DuckDB oracle, one op per query."""
        oracle = checks.oracle_hashes(SF_DIR, self.env.work)
        for name, pdf in self.results.items():
            got = checks.pandas_hash(pdf)
            ok = got == oracle[name]
            self.ops.append(Op("check", 0.0, ok, "" if ok else f"{name}: {got} != oracle {oracle[name]}"))
        self.info["nproc"] = self.env.cores


WORKLOADS = {w.name: w for w in (Build, Append, Queries)}
