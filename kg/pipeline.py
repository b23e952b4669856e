"""End-to-end KG-construction pipeline: one stage table, one scheduler.

Stage DAG (each stage is a committed parquet checkpoint via kg/catalog.py):

    documents ──> extract ──> mentions ──> linked ──> nodes
        │            └──────> triples ───────┴─────> edges
        ├──────> keyphrases
        └──────> documents_out (span-sequence invariant proof)

``STAGES`` lists every stage once: its inputs, the ``build`` that computes
it from its committed inputs, the ``increment`` that computes only a new
batch's rows (``None``: the stage is rebuilt when a batch is appended) and
its hive partitioning.  Two run kinds drive the same table:

- ``run_pipeline`` (fresh or resumed run) calls each ``build`` through
  ``StageCatalog.run``: compute or skip, so a resumed run recomputes only
  the stages whose input fingerprints changed.
- ``run_pipeline_append`` folds a new batch into a completed run.  Each
  increment is appended file-wise through ``StageCatalog.append``: the
  per-document stages, extract (the dominant cost) among them, run on the
  batch alone.  The shared tail (linking over the distinct mentions, nodes)
  is rebuilt; the edges increment falls back to a rebuild when its
  preconditions fail.  The append-only state the increments read is
  captured once, before the documents append commits (``_Snapshot``).

Shuffle budget at scale (SURVEY.md §4): documents→extract is shuffle-free
(narrow explode + mapInPandas over input splits); mentions/triples are
narrow explodes of the extract checkpoint; the first shuffles appear at
entity linking (distinct + LSH bucket join) and the grouping aggregations of
nodes/edges — all keyed, AQE-coalesced, skew-join protected.

Scheduling (``_schedule``): documents then extract commit alone, and the
documents row count picks the width (``_stage_workers``).  Every other stage
is then submitted once all its inputs have committed, at most ``width`` at a
time and critical path first, from driver threads (Spark sessions are
thread-safe for job submission and the task scheduler interleaves the jobs
across the executor pool), or inline in table order when the width is 0.
Overlap hides each stage's driver-side tail (manifest commit, parquet-footer
lineage scan) in the micro-stage regime and thrashes once a single stage
saturates the pool; the measured boundaries are recorded next to
``STAGE_OVERLAP_MAX_ROWS_PER_SLOT`` (override: ``SPARK_KG_STAGE_WORKERS``;
0 = serial).
``PipelineResult.executed`` is deterministic at any width: completion order
is canonicalized to table order (``_ledger``).
"""

from __future__ import annotations

import os
import time
from collections.abc import Callable, Mapping
from concurrent.futures import FIRST_COMPLETED, ThreadPoolExecutor, wait
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from kg.catalog import StageCatalog
from kg.graph import (
    build_edges,
    build_nodes,
    build_nodes_from_counts,
    mention_tag_counts,
)
from kg.invariant import passthrough_docs, span_violations
from kg.keyphrase import keyphrases_table
from kg.linking import link_from_signatures, signature_base
from kg.mention import explode_text_spans, extract_sentences, mentions_table, triples_table
from kg.synth import corpus_vocab
from kg.tokenizer import Vocab

# Graduated overlap width (r6).  4-way submission wins only in the
# micro-stage regime, where per-stage fixed costs dominate.  Calibrated
# between the measured 4-way win at local[32]/100k docs (3.1k docs/slot:
# 38s -> 21s), the r6 3-pair interleaved win at the 550k-doc append tail
# (17.2k docs/slot: serial [25.4,12.9,13.2]s vs [15.7,12.1,10.0]s), and
# the measured 4-way LOSS at 31k docs/slot (1M fresh run, 39.8s vs 36.9s).
STAGE_OVERLAP_MAX_ROWS_PER_SLOT = 24_000
# Past that, TWO jobs in flight keep winning long after four stop (guide
# §2.6: "2-3 jobs in flight is plenty" — the second job back-fills the
# first's commit tails without the 4-way thrash).  Measured r6, every
# interleaved pair: local[32]/1M (31k docs/slot) serial [26.1,23.2,23.8]s
# vs 2-way [17.9,16.4,16.8]s; local[32]/4M (125k/slot) [61.4,59.1] vs
# [48.4,49.9]; PINNED local[8]/4M (500k/slot) [102.6,114.2] vs
# [88.4,86.0].  Above this measured win boundary serial is the 100-TB
# default: 4-way collapsed outright at 2M docs/slot (local[2]/4M 615s vs
# 390s serial; pinned local[8]/16M pair efficiency 0.54 vs ~0.84 in r5,
# every overlapped tail stage's wall grew to ~the group total), and 2-way
# is unmeasured there.
STAGE_OVERLAP2_MAX_ROWS_PER_SLOT = 512_000


def _stage_workers(spark: SparkSession, n_rows: int) -> int:
    """Concurrent stage submissions for a corpus of ``n_rows`` documents
    (0 = serial).  Overlap only in the micro-stage regime — small per-stage
    work relative to the pool, where per-stage fixed costs (driver commit
    tails, job-scheduling gaps) dominate and overlapping hides them.  When a
    single stage can saturate every task slot on its own, concurrent heavy
    jobs just time-slice the same cores (thrash, spill, GC pressure), so
    serial is the scale default."""
    env = os.environ.get("SPARK_KG_STAGE_WORKERS")
    if env is not None:
        return int(env)
    slots = spark.sparkContext.defaultParallelism
    per_slot = n_rows / max(slots, 1)
    if slots < 8 or per_slot > STAGE_OVERLAP2_MAX_ROWS_PER_SLOT:
        return 0
    return 4 if per_slot <= STAGE_OVERLAP_MAX_ROWS_PER_SLOT else 2


def input_fingerprint(docs: DataFrame) -> str:
    """Order-independent content fingerprint of the input corpus.

    One scan (bit_xor of per-row xxhash64 + count — xor, not sum: ANSI mode
    makes long sums overflow) so a resumed run detects a changed input and
    recomputes from the top; callers that already version their input
    (Iceberg snapshot id) pass that as ``input_token`` instead and skip the
    scan.
    """
    row = docs.select(
        F.bit_xor(F.xxhash64("doc_id", F.to_json("spans"))).alias("h"),
        F.count("*").alias("n"),
    ).collect()[0]
    return f"{row['n']}:{row['h']}"


@dataclass(frozen=True)
class _Snapshot:
    """Pre-append state the increments read, captured before the documents
    append commits."""

    # batch doc_ids already in the corpus; lazy, but ``cat.read`` fixed the
    # pre-append file list (appends only add files), so it still scans
    # exactly the old corpus when the edges increment evaluates it
    overlap: DataFrame
    # pre-append mention -> canonical map (the linked stage dir is
    # overwritten by the rebuild); None when there is no prior linked/edges
    old_linked: DataFrame | None
    # pre-append mentions fingerprint: nodes_mtc is mergeable iff it matches
    mentions_fp: str | None


@dataclass
class _Run:
    """One run of the stage table."""

    spark: SparkSession
    cat: StageCatalog
    vocab: Vocab
    docs: DataFrame  # the whole input (fresh run) or the new batch (append)
    # catalog key of the root stage: the input token and the folded-batch
    # ledger (fixed before the documents append commits)
    source: dict
    snapshot: _Snapshot | None = None  # set iff appending
    timings: dict[str, float] = field(default_factory=dict)
    committed: dict[str, DataFrame] = field(default_factory=dict)
    # stage -> (files this run appended, increment schema)
    appended: dict[str, tuple[list[str], StructType]] = field(default_factory=dict)
    violations: int = 0

    def batch(self, stage: str) -> DataFrame:
        """This run's appended rows of ``stage``, read from the appended files
        on each call, so no job reads a stage that no later job consumes."""
        if stage == "documents":
            return self.docs
        paths, schema = self.appended[stage]
        if not paths:  # a partitioned write of zero rows writes no file
            return self.spark.createDataFrame([], schema)
        return self.spark.read.option("basePath", self.cat.data_dir(stage)).parquet(*paths)


@dataclass(frozen=True)
class Stage:
    """One checkpointed stage of the DAG.

    ``build(run)`` computes the whole stage from its committed inputs.
    ``increment(run)`` computes only the appended batch's rows, or returns
    None when its preconditions fail (the stage is then rebuilt); stages
    without one are rebuilt on every append.  ``key(run)``, when set,
    returns catalog keyword overrides for what the checkpoint is keyed on,
    if that is not just the fingerprints of ``inputs``.
    """

    name: str
    inputs: tuple[str, ...]
    build: Callable[[_Run], DataFrame]
    increment: Callable[[_Run], DataFrame | None] | None = None
    partition_by: tuple[str, ...] = ()
    key: Callable[[_Run], dict] | None = None


def _per_doc(name: str, src: str, fn: Callable[[_Run, DataFrame], DataFrame]) -> Stage:
    """A per-document stage: ``fn`` over all of ``src`` (build) or over the
    batch's rows of it (increment)."""
    return Stage(
        name, (src,),
        build=lambda r: fn(r, r.cat.read(src)),
        increment=lambda r: fn(r, r.batch(src)),
    )


def _link_key(r: _Run) -> dict:
    """Refresh the durable signature table, then key the linked stage on
    ITS fingerprint (r6), not on the raw mentions table.

    The linked map is a pure function of the distinct-mention set, which the
    signature table captures exactly (``signature_base`` appends never-seen
    mentions and rebuilds on a non-superset corpus).  Every append changes
    the mentions fingerprint; keyed on the signature table, a batch that
    introduces no never-seen mention (the steady state of a Zipf corpus)
    skips the bucket join + verify + CC replay, and any new or removed
    mention recomputes as before.  CC rounds checkpoint through the same
    catalog (linked_cc_iter*/linked_cc_final), so a job killed mid-CC
    resumes label propagation from the last durable round.
    """
    distinct = r.cat.read("mentions").select("mention").distinct()
    signature_base(distinct, catalog=r.cat, stage_name="linked_cc_sigs")
    return {"inputs": ("linked_cc_sigs",)}


def _nodes(r: _Run) -> DataFrame:
    """Fresh: aggregate the mentions table.  Append: via the durable
    (mention, tag, cnt) statistic (r6) — counts are additive under growth,
    so when the committed nodes_mtc stage matches the pre-append mentions
    table the batch's counts merge into it (a vocabulary-sized job) instead
    of re-scanning all mentions.  A missing or stale statistic is rebuilt
    from the full table."""
    if r.snapshot is None:
        return build_nodes(r.cat.read("mentions"), r.cat.read("linked"))
    post_fp = r.cat.fingerprint("mentions")
    if r.cat.is_complete("nodes_mtc", extra_inputs={"mentions": r.snapshot.mentions_fp}):
        counts = (
            r.cat.read("nodes_mtc")
            .unionByName(mention_tag_counts(r.batch("mentions")))
            .groupBy("mention", "tag")
            .agg(F.sum("cnt").cast("long").alias("cnt"))
        )
    else:
        counts = mention_tag_counts(r.cat.read("mentions"))
    r.cat.write("nodes_mtc", counts, extra_inputs={"mentions": post_fp})
    r.cat.executed.append("nodes_mtc")
    return build_nodes_from_counts(r.cat.read("nodes_mtc"), r.cat.read("linked"))


def _take_snapshot(r: _Run) -> str:
    """Capture the pre-append state the increments read (``_Snapshot``)."""
    has_tail = r.cat.manifest("linked") is not None and r.cat.manifest("edges") is not None
    r.snapshot = _Snapshot(
        overlap=r.docs.select("doc_id").join(
            r.cat.read("documents").select("doc_id"), "doc_id", "left_semi"
        ),
        old_linked=r.cat.read("linked").localCheckpoint() if has_tail else None,
        mentions_fp=r.cat.fingerprint("mentions"),
    )
    return "edges_precheck"


def _edges_increment(r: _Run) -> DataFrame | None:
    """Canonicalized edges of the batch's triples, or None (rebuild).

    Edges group by (subj_c, pred, obj_c, doc_id), so doc_id partitions the
    groups.  If the batch's doc_ids are disjoint from the old corpus and no
    old mention's canonical changed (a new mention joining an old component
    can rename it), every old edges row is unchanged in a fresh rebuild and
    only the batch's rows are new.  Any failed precondition falls back to
    the rebuild (append == fresh either way, tests/test_incremental.py).
    """
    s = r.snapshot
    if s.old_linked is None or not s.overlap.isEmpty():
        return None
    renamed = (
        s.old_linked.withColumnRenamed("canonical", "old_canonical")
        .join(r.cat.read("linked"), "mention")
        .where(F.col("old_canonical") != F.col("canonical"))
    )
    if not renamed.isEmpty():
        return None
    return build_edges(r.batch("triples"), r.cat.read("linked"))


# Table order is the canonical ledger order.  Published tables are
# hive-partitioned on their dominant access key (VERDICT r2 item 6): nodes by
# entity kind, edges by predicate — low-cardinality columns (|TAGS| and
# |TAGS|^2), so file counts stay bounded while kind-/pred-selective readers
# get partition pruning at the scan
# (tests/test_plans.py::test_published_tables_prune_partitions).  The
# lambdas look the stage functions up on this module at call time, so a
# test can patch one (perfbench/tests/test_checks.py does).
STAGES: tuple[Stage, ...] = (
    Stage("documents", (), build=lambda r: r.docs, increment=lambda r: r.docs,
          key=lambda r: r.source),
    _per_doc("extract", "documents",
             lambda r, df: extract_sentences(explode_text_spans(df), r.vocab)),
    _per_doc("mentions", "extract", lambda r, df: mentions_table(df)),
    _per_doc("triples", "extract", lambda r, df: triples_table(df)),
    Stage("linked", ("mentions",), key=_link_key,
          build=lambda r: link_from_signatures(
              r.cat.read("linked_cc_sigs"), catalog=r.cat, stage_prefix="linked_cc")),
    Stage("nodes", ("mentions", "linked"), build=_nodes, partition_by=("kind",)),
    Stage("edges", ("triples", "linked"),
          build=lambda r: build_edges(r.cat.read("triples"), r.cat.read("linked")),
          increment=_edges_increment, partition_by=("pred",)),
    _per_doc("keyphrases", "documents", lambda r, df: keyphrases_table(df)),
    _per_doc("documents_out", "documents", lambda r, df: passthrough_docs(df)),
)
TABLES = tuple(st.name for st in STAGES)


def _timed(r: _Run, fn: Callable[[_Run], str]) -> Callable[[], None]:
    """Job running ``fn(r)`` and recording its wall time under the timings
    key ``fn`` returns."""

    def job() -> None:
        t0 = time.perf_counter()
        key = fn(r)
        r.timings[key] = round(time.perf_counter() - t0, 3)

    return job


def _commit(r: _Run, st: Stage) -> str:
    """Append the stage's increment, or compute-or-skip its build."""
    kw = {"inputs": st.inputs, "partition_by": st.partition_by or None}
    kw |= st.key(r) if st.key else {}
    delta = st.increment(r) if r.snapshot and st.increment else None
    if delta is None:
        r.committed[st.name] = r.cat.run(st.name, lambda: st.build(r), **kw)
        return st.name
    r.appended[st.name] = (r.cat.append(st.name, delta, **kw), delta.schema)
    return f"{st.name}+append"


def _check_invariant(r: _Run) -> str:
    """Span-sequence proof.  An append proves the batch only: the prior run
    proved the old documents, and the property is per-document, so the
    proofs compose without a full-corpus scan."""
    view = r.batch if r.snapshot else r.cat.read
    r.violations = span_violations(view("documents"), view("documents_out")).count()
    return "invariant_check"


def _schedule(r: _Run, jobs: dict[str, tuple[tuple[str, ...], Callable[[], None]]]) -> None:
    """Run each job once the jobs named in its dependencies have finished.
    ``jobs`` is in table order, which is topological.  The root stage and
    extract, the dominant per-document stage, run alone first (the
    ``STAGE_OVERLAP_*`` boundaries were measured on that schedule); the root's
    committed row count sizes the width.  Width 0 runs the rest inline, in
    table order.  Otherwise at most ``width`` jobs are in flight, and freed
    slots go to ready jobs in table order, so the critical path (mentions,
    triples, linked, nodes, edges) runs ahead of keyphrases/documents_out."""
    pending = list(jobs)
    for name in pending[:2]:
        jobs[name][1]()
    done, pending = set(pending[:2]), pending[2:]
    workers = _stage_workers(r.spark, r.cat.manifest(STAGES[0].name)["rows"])
    if workers <= 0:
        for name in pending:
            jobs[name][1]()
        return
    with ThreadPoolExecutor(workers, thread_name_prefix="kg-stage") as ex:
        running = {}
        while pending or running:
            ready = [n for n in pending if done.issuperset(jobs[n][0])]
            for name in ready[: workers - len(running)]:
                pending.remove(name)
                running[ex.submit(jobs[name][1])] = name
            finished, _ = wait(running, return_when=FIRST_COMPLETED)
            for f in finished:
                f.result()
                done.add(running.pop(f))


def _ledger(executed: list[str]) -> list[str]:
    """Canonical order of what a run computed: table-stage appends, then the
    computed table stages in table order, with the auxiliary stages
    (signature table, CC rounds, nodes_mtc) in run order before 'linked'.
    Completion order itself varies with the scheduling width."""
    aux = [s for s in executed if s.removesuffix("+append") not in TABLES]
    out = [f"{s}+append" for s in TABLES if f"{s}+append" in executed]
    for s in TABLES:
        out += aux if s == "linked" else []
        out += [s] if s in executed else []
    return out


def _execute(r: _Run, check_invariant: bool) -> PipelineResult:
    jobs = {st.name: (st.inputs, _timed(r, lambda r, st=st: _commit(r, st))) for st in STAGES}
    if check_invariant:
        jobs["invariant_check"] = (("documents", "documents_out"), _timed(r, _check_invariant))
    _schedule(r, jobs)
    if r.violations:
        raise AssertionError(f"span-sequence invariant violated for {r.violations} docs")
    return PipelineResult(
        tables=_LazyTables(r.cat, TABLES, r.committed),
        catalog=r.cat,
        executed=_ledger(r.cat.executed),
        invariant_violations=r.violations,
        timings=r.timings,
    )


class _LazyTables(Mapping):
    """Stage name -> committed checkpoint reader.  Readers the run already
    holds are returned as is; any other stage is read (``StageCatalog.read``:
    file listing + schema) on first access."""

    def __init__(self, cat: StageCatalog, stages: tuple[str, ...], seed: dict[str, DataFrame]):
        self._cat = cat
        self._stages = stages
        self._cache = dict(seed)

    def __getitem__(self, key: str) -> DataFrame:
        if key not in self._cache:
            if key not in self._stages:
                raise KeyError(key)
            self._cache[key] = self._cat.read(key)
        return self._cache[key]

    def __iter__(self):
        return iter(self._stages)

    def __len__(self) -> int:
        return len(self._stages)


@dataclass
class PipelineResult:
    """``tables`` maps each of the nine stage names, in table order, to its
    committed checkpoint.  It is lazy: a stage the run did not read is read
    from its committed checkpoint on first access.  ``executed`` is the
    canonical ledger of what the run computed (``_ledger``); ``timings``
    holds per-stage wall seconds, keyed ``stage`` or ``stage+append``
    (walls of concurrently scheduled stages overlap)."""

    tables: Mapping[str, DataFrame]
    catalog: StageCatalog
    executed: list[str] = field(default_factory=list)
    invariant_violations: int = 0
    timings: dict[str, float] = field(default_factory=dict)

    def counts(self) -> dict[str, int]:
        return {name: self.catalog.manifest(name)["rows"] for name in self.tables}


def run_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    base_dir: str,
    vocab: Vocab | None = None,
    check_invariant: bool = True,
    input_token: str | None = None,
) -> PipelineResult:
    """Build the graph over ``docs``, or resume a run over the same input.

    ``input_token``: caller-supplied input version (Iceberg snapshot id,
    synth parameters, ...).  When given, the change-detection scan of the
    input is skipped — the token is the fingerprint."""
    token = input_token or input_fingerprint(docs)
    run = _Run(
        spark, StageCatalog(spark, base_dir),
        vocab if vocab is not None else corpus_vocab(), docs,
        # explicit folded-batch ledger (ADVICE r3): appended batch identity
        # is tested by list membership, never by substring games on tokens
        # that may themselves contain '+'
        source={"extra_inputs": {"__input__": token}, "meta": {"batch_tokens": [token]}},
    )
    return _execute(run, check_invariant)


def run_pipeline_append(
    spark: SparkSession,
    new_docs: DataFrame,
    base_dir: str,
    vocab: Vocab | None = None,
    check_invariant: bool = True,
    input_token: str | None = None,
) -> PipelineResult:
    """Incrementally fold a NEW batch of documents into a completed run.

    The 100-TB shape of corpus growth: per-document stages are pure
    functions of each document, so their increments are computed ONLY for
    the new batch and appended; only the small shared tail is recomputed —
    linking (over distinct mention strings, orders of magnitude smaller
    than the corpus, and skipped outright when the batch brings no
    never-seen mention) and the nodes/edges aggregations.  A daily 1% batch
    therefore costs ~1% of extraction plus the tail.

    Equality contract: append(A then B) produces the same nine tables as a
    fresh run over A∪B (tests/test_incremental.py) — entity ids are
    content hashes, linking reads the full mention set, and aggregations
    are order-insensitive.

    ``input_token`` identifies the NEW batch; the documents stage records
    ``old_token+new_token`` and the batch ledger, so re-submitting any
    folded batch is a no-op (idempotent) and resume semantics stay exact.
    """
    cat = StageCatalog(spark, base_dir)
    for required in ("documents", "extract", "mentions", "triples"):
        if cat.manifest(required) is None:
            raise ValueError(
                f"run_pipeline_append requires a completed prior run; "
                f"stage {required!r} is not committed"
            )
    docs_manifest = cat.manifest("documents")
    old_token = docs_manifest["inputs"]["__input__"]
    new_token = input_token or input_fingerprint(new_docs)
    folded = docs_manifest.get("batch_tokens")
    if folded is None:
        # Legacy manifest (pre-ledger release): __input__ is the
        # '+'-concatenated batch history (e.g. "base+b1+b2"), so membership
        # must be checked against its SPLIT — treating the whole string as
        # one token would silently double-fold a crash-retried batch into
        # every per-document table (ADVICE r4).
        folded = old_token.split("+")
    if new_token in folded:
        # identical batch already folded in — idempotent no-op
        return run_pipeline(
            spark, cat.read("documents"), base_dir, vocab=vocab,
            check_invariant=check_invariant, input_token=old_token,
        )

    new_docs = new_docs.localCheckpoint()
    # Data-sized increment width (r6, guide §6 small-files): the batch
    # arrives at driver parallelism (32 partitions for a 5k-doc batch), so
    # every appended stage would write 32 near-empty files per append.
    # Re-width to ~16k docs/partition (floor 1, cap pool width): a 1% batch
    # appends 1 file per stage instead of 32.
    n_batch = new_docs.count()
    width = max(1, min(spark.sparkContext.defaultParallelism, -(-n_batch // 16_000)))
    if width < new_docs.rdd.getNumPartitions():
        new_docs = new_docs.repartition(width).localCheckpoint()
    run = _Run(
        spark, cat, vocab if vocab is not None else corpus_vocab(), new_docs,
        source={
            "extra_inputs": {"__input__": f"{old_token}+{new_token}"},
            "meta": {"batch_tokens": folded + [new_token]},
        },
    )

    _timed(run, _take_snapshot)()
    return _execute(run, check_invariant)


def top_entity_pairs(edges: DataFrame, nodes: DataFrame, k: int = 20) -> DataFrame:
    """Flagship query: top canonical entity pairs by distinct-doc frequency."""
    pair_freq = (
        edges.groupBy("subj", "pred", "obj")
        .agg(
            F.countDistinct("doc_id").alias("doc_freq"),
            F.sum("weight").alias("total_weight"),
        )
    )
    subj_names = nodes.select(
        F.col("entity_id").alias("subj"), F.col("canonical_text").alias("subj_text")
    )
    obj_names = nodes.select(
        F.col("entity_id").alias("obj"), F.col("canonical_text").alias("obj_text")
    )
    return (
        pair_freq.join(F.broadcast(subj_names), "subj")
        .join(F.broadcast(obj_names), "obj")
        .select("subj_text", "pred", "obj_text", "doc_freq", "total_weight")
        .orderBy(F.desc("doc_freq"), F.desc("total_weight"), "subj_text", "obj_text", "pred")
        .limit(k)
    )
