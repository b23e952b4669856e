"""Entity linking + canonicalization (SURVEY.md §7.1 step 7).

MinHash over char n-grams of the mention surface (vectorized NumPy inside a
``mapInPandas`` kernel), LSH banding into bucket keys, candidate pairs via a
bucket self-equi-join (AQE skew-join handles hot buckets; mega-buckets above
``max_bucket`` are dropped with a logged counter — standard LSH practice),
exact-Jaccard verification, then connected components as iterative min-label
propagation on DataFrames (GraphFrames-style; per-iteration
``localCheckpoint`` cuts lineage growth, SURVEY.md §4).  Canonical form of a
component is its lexicographically smallest mention text.

Skew (north_rule): identical surface forms are deduplicated *before* hashing
(``distinct`` on mention text), which removes the Zipf mass entirely; what
remains is bucket-level skew among distinct strings, split by AQE skew-join.

All hash functions are explicit modular arithmetic (no engine-dependent
``hash()``), shared verbatim with the driver-side twin ``link_local`` used
by the parity tests.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kg.config import (
    LINK_JACCARD,
    LSH_BANDS,
    MINHASH_PRIME,
    NUM_HASHES,
    SALT_BUCKETS,
    SHINGLE_K,
)

_P = MINHASH_PRIME


def _hash_params(num_hashes: int = NUM_HASHES, seed: int = 7) -> tuple[np.ndarray, np.ndarray]:
    rs = np.random.RandomState(seed)
    a = rs.randint(1, _P, size=num_hashes).astype(np.int64)
    b = rs.randint(0, _P, size=num_hashes).astype(np.int64)
    return a, b


def shingle_hashes(text: str, k: int = SHINGLE_K) -> np.ndarray:
    """Distinct char k-gram polynomial hashes (mod 2^31-1), int64.

    Vectorized (VERDICT r5 item 5): the per-character Python fold
    ``h = (h*131 + ord(ch)) % P`` is replaced by one NumPy expression over
    the codepoint array — for the default k=3 the fold expands to
    ``(c0*131^2 + c1*131 + c2) % P``, whose un-modded intermediate is
    <= 0x10FFFF * (131^2+131+1) < 2^35, so a single final ``% P`` yields
    the identical residue the stepwise fold produced.  The same identity
    holds for any k while ``max_cp * (131^k-1)/130`` fits int64: k <= 7
    (~2^62.3); at k = 8 it reaches ~2^69 and overflows, so larger k is
    rejected.  Distinctness via ``np.unique`` (sorted — callers treat the
    array as a set).  Hash values are bit-identical to the old fold; the
    DuckDB oracles and the driver-side twins are unchanged.
    """
    if k > 7:
        raise ValueError(f"k={k}: the un-modded k-gram fold overflows int64 past k=7")
    cps = np.frombuffer(
        text.encode("utf-32-le", "surrogatepass"), dtype=np.uint32
    ).astype(np.int64)
    n = cps.size
    if n < k:
        h = 0
        for c in cps:
            h = (h * 131 + int(c)) % _P
        return np.array([h], dtype=np.int64)
    acc = np.zeros(n - k + 1, dtype=np.int64)
    for j in range(k):
        acc += cps[j : n - k + 1 + j] * (131 ** (k - 1 - j))
    return np.unique(acc % _P)


def minhash_signature(text: str, a: np.ndarray, b: np.ndarray) -> np.ndarray:
    x = shingle_hashes(text)
    if x.size == 0:
        return np.full(a.shape[0], _P - 1, dtype=np.int64)
    # (H, M) = a[:,None]*x[None,:] + b ; min over shingles
    return ((a[:, None] * x[None, :] + b[:, None]) % _P).min(axis=1)


def band_keys(sig: np.ndarray, bands: int = LSH_BANDS) -> list[str]:
    rows = sig.shape[0] // bands
    keys = []
    for bi in range(bands):
        h = 0
        for v in sig[bi * rows : (bi + 1) * rows]:
            h = (h * 1_000_003 + int(v)) % (1 << 61)
        keys.append(f"{bi}:{h:x}")
    return keys


def jaccard(t1: str, t2: str) -> float:
    s1 = set(shingle_hashes(t1).tolist())
    s2 = set(shingle_hashes(t2).tolist())
    if not s1 and not s2:
        return 1.0
    return len(s1 & s2) / len(s1 | s2)


def mention_shingle_buckets(mention_texts: DataFrame) -> DataFrame:
    """One Arrow pass over DISTINCT mentions: (mention, shingles, buckets).

    Shingle hashes, the MinHash signature, and the banded LSH keys all come
    out of the SAME kernel (the kg/ops/dedup.py doc_shingle_buckets
    discipline, VERDICT r4 item 3): downstream the verify join reuses the
    shingle arrays JVM-side instead of recomputing them from mention text
    per candidate pair.  Empty-shingle mentions still bucket together
    (signature P-1 everywhere) — same semantics as before."""
    a, b = _hash_params()

    def kernel(batches):
        import pandas as pd

        for pdf in batches:
            texts, shingles, buckets = [], [], []
            for m in pdf["mention"]:
                x = shingle_hashes(m)
                if x.size == 0:
                    sig = np.full(a.shape[0], _P - 1, dtype=np.int64)
                else:
                    sig = ((a[:, None] * x[None, :] + b[:, None]) % _P).min(axis=1)
                texts.append(m)
                shingles.append(x.tolist())
                buckets.append(band_keys(sig))
            yield pd.DataFrame(
                {"mention": texts, "shingles": shingles, "buckets": buckets}
            )

    return mention_texts.select("mention").distinct().mapInPandas(
        kernel, "mention string, shingles array<long>, buckets array<string>"
    )


def signature_base(
    distinct: DataFrame, catalog=None, stage_name: str = "cc_sigs"
) -> DataFrame:
    """Durable, append-only signature table over DISTINCT mentions.

    The 100-TB growth shape: signatures are pure per-row functions of the
    mention string, so when the corpus grows, the Arrow kernel only needs
    to run over never-before-seen mentions — the anti-join delta — and the
    new rows are appended file-wise through ``StageCatalog.append``
    (tests/test_incremental_sigs.py pins that the kernel sees exactly the
    delta).  Rows whose mention is NOT in the current distinct set mean the
    catalog dir was reused for a different (non-superset) corpus: stale
    signature rows could bridge CC components and corrupt canonical labels,
    so the table is rebuilt from scratch instead.  Both checks are one
    full-outer reconciliation pass, bounded by the distinct-mention count —
    orders of magnitude below the corpus.  Without a catalog this is
    exactly one kernel pass (the legacy path, unchanged).
    """
    if catalog is None:
        return mention_shingle_buckets(distinct)
    if catalog.manifest(stage_name) is None:
        return catalog.run(stage_name, lambda: mention_shingle_buckets(distinct))
    distinct = distinct.localCheckpoint()  # scanned by reconcile + delta
    existing = catalog.read(stage_name)
    counts = (
        distinct.withColumn("_new", F.lit(1))
        .join(
            existing.select("mention").withColumn("_old", F.lit(1)),
            "mention",
            "full_outer",
        )
        .select(
            F.count(F.when(F.col("_old").isNull(), 1)).alias("n_delta"),
            F.count(F.when(F.col("_new").isNull(), 1)).alias("n_stale"),
        )
        .collect()[0]
    )
    if counts["n_stale"]:
        catalog.write(stage_name, mention_shingle_buckets(distinct))
        catalog.executed.append(stage_name)
    elif counts["n_delta"]:
        delta = distinct.join(existing.select("mention"), "mention", "left_anti")
        catalog.append(stage_name, mention_shingle_buckets(delta))
    return catalog.read(stage_name)


def candidate_pairs(
    buckets: DataFrame,
    max_bucket: int = 200,
    salt_threshold: int = 32,
    n_salts: int = SALT_BUCKETS,
    key: str = "mention",
) -> DataFrame:
    """Self-join within LSH buckets, skew-managed three ways (north_rule):

    - buckets above ``max_bucket`` members are dropped entirely (standard
      LSH mega-bucket cap — they are non-discriminative);
    - hot buckets (> ``salt_threshold``) go through a SALTED self-join: the
      probe side's join key becomes (bucket, hash(mention) % n_salts) and
      the build side is replicated across all salts, so one hot bucket
      spreads over ``n_salts`` reducers instead of one straggler task —
      every pair is still produced exactly once (at the probe row's salt);
    - everything else is a plain bucket equi-join, with AQE skew-join as
      the runtime backstop.

    ``key`` names the member column (mention text in the legacy tests, a
    compact surrogate id on the production path — link_mentions passes ids
    so no mention text crosses the pair shuffle, VERDICT r4 item 3).
    """
    sized = buckets.join(
        buckets.groupBy("bucket").agg(F.count("*").alias("bsz")), "bucket"
    ).where(F.col("bsz") <= max_bucket)

    cold = sized.where(F.col("bsz") <= salt_threshold)
    pairs_cold = (
        cold.select("bucket", F.col(key).alias("m1"))
        .join(cold.select("bucket", F.col(key).alias("m2")), "bucket")
        .where(F.col("m1") < F.col("m2"))
        .select("m1", "m2")
    )

    hot = sized.where(F.col("bsz") > salt_threshold)
    probe = hot.select(
        "bucket",
        F.col(key).alias("m1"),
        F.pmod(F.xxhash64(key), F.lit(n_salts)).cast("int").alias("salt"),
    )
    build = hot.select(
        "bucket",
        F.col(key).alias("m2"),
        F.explode(F.sequence(F.lit(0), F.lit(n_salts - 1))).alias("salt"),
    )
    pairs_hot = (
        probe.join(build, ["bucket", "salt"])
        .where(F.col("m1") < F.col("m2"))
        .select("m1", "m2")
    )

    return pairs_cold.unionAll(pairs_hot).distinct()


def verified_edge_ids(
    pairs: DataFrame, shingles: DataFrame, threshold: float = LINK_JACCARD
) -> DataFrame:
    """Exact shingle-Jaccard >= threshold on candidate id pairs, pure JVM.

    ``pairs`` is (m1, m2) surrogate ids; ``shingles`` is (mid, shingles
    array<long>).  The per-mention shingle sets were computed ONCE in the
    signature kernel; the verify is ``array_intersect`` over those arrays
    (each array holds distinct hashes, so size(intersect) is the true
    intersection cardinality) — no Python past the kernel, no text in the
    shuffle (mirrors kg/ops/dedup.py minhash_edges, VERDICT r4 item 3).
    Two empty shingle sets count as identical (the old Python verify's
    0/0 := 1.0 rule)."""
    sh_a = shingles.select(F.col("mid").alias("m1"), F.col("shingles").alias("sh_a"))
    sh_b = shingles.select(F.col("mid").alias("m2"), F.col("shingles").alias("sh_b"))
    cand = pairs.join(sh_a, "m1").join(sh_b, "m2")
    n_common = F.size(F.array_intersect("sh_a", "sh_b"))
    n_union = F.size("sh_a") + F.size("sh_b") - n_common
    sim = F.when(n_union == 0, F.lit(1.0)).otherwise(
        n_common.cast("double") / n_union
    )
    return cand.select("m1", "m2", sim.alias("sim")).where(
        F.col("sim") >= threshold
    )


def mention_edge_ids(core: DataFrame, threshold: float = LINK_JACCARD) -> DataFrame:
    """Candidate generation + verify over the text-free signature table
    ``core`` (mid, shingles, buckets) -> verified (m1, m2, sim) id pairs.

    The whole plan downstream of ``core`` references surrogate ids and
    shingle-hash arrays only — pinned by
    tests/test_linking.py::test_linking_verify_join_carries_no_text."""
    buckets = core.select("mid", F.explode("buckets").alias("bucket"))
    pairs = candidate_pairs(buckets, key="mid")
    return verified_edge_ids(pairs, core.select("mid", "shingles"), threshold)


def _committed_cc_iters(catalog, stage_prefix: str, token: str) -> list[int]:
    import os
    import re

    out = []
    pat = re.compile(re.escape(stage_prefix) + r"_iter(\d+)$")
    for d in os.listdir(catalog.base_dir):
        m = pat.match(d)
        if m and catalog.is_complete(d, extra_inputs={"edges": token}):
            out.append(int(m.group(1)))
    return sorted(out)


def _union_find(pairs: list[tuple[str, str]]) -> dict[str, str]:
    """Driver-side union-find with min-label canonicalization — the same
    fixed point as the distributed propagation (component minimum)."""
    parent: dict[str, str] = {}

    def find(x: str) -> str:
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:  # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in pairs:
        ra, rb = find(a), find(b)
        if ra != rb:
            lo, hi = min(ra, rb), max(ra, rb)
            parent[hi] = lo
    return {x: find(x) for x in parent}


def connected_components(
    edges: DataFrame,
    max_iters: int = 25,
    catalog=None,
    stage_prefix: str = "cc",
    checkpoint_every: int = 5,
    small_graph_threshold: int = 500_000,
) -> DataFrame:
    """Min-label propagation with pointer jumping -> (mention, canonical).

    Each iteration does hash-to-min (label(u) <- min over {u} ∪ N(u) of
    labels) followed by one pointer jump (label(u) <- label(label(u))),
    which cuts rounds from O(component diameter) to O(log diameter) — the
    difference between unusable and fine on adversarial chain graphs at
    scale.  Labels only decrease and stay within the component, so the
    fixed point is the component minimum either way.

    Small-graph fast path: LSH-verified near-dup edge sets are usually
    orders of magnitude smaller than the corpus, and each distributed
    round costs several shuffle stages — pure scheduler overhead when the
    whole graph fits on the driver.  When the (already-computed) edge
    count is <= ``small_graph_threshold`` the labels come from one
    driver-side union-find over the collected pairs (bounded memory:
    ~100 MB at the default bound) — the classic adaptive CC strategy; the
    distributed path is unchanged and takes over above the bound.  Both
    paths produce the identical min-label fixed point
    (tests/test_linking.py parametrizes the equivalence).

    Fault tolerance (VERDICT r1 item 7): ``localCheckpoint`` truncates
    lineage between rounds but is executor-local — an executor loss kills
    the whole iteration at cluster scale.  When a ``StageCatalog`` is
    passed, every ``checkpoint_every``-th round (and the converged result)
    is committed through the catalog keyed by a content fingerprint of the
    edge set, so a killed job resumes label propagation from the last
    durable round instead of restarting linking from scratch
    (tests/test_linking.py::test_cc_resumes_from_iteration_checkpoint).
    """
    # Materialize the edge set ONCE up front: it is scanned by the content
    # fingerprint below AND by both union branches of the symmetrization —
    # without this the upstream lineage (LSH candidate join + Jaccard
    # verify kernel) would re-execute per scan.
    edges = edges.localCheckpoint()
    spark = edges.sparkSession

    # Order-insensitive content fingerprint: count + bit_xor + exact decimal
    # sum of the row hashes (ADVICE r2: xor alone cancels duplicate rows
    # pairwise; the sum distinguishes multiplicity, so equal-size edge sets
    # no longer collide).  Also yields the count for the fast-path branch.
    row = edges.select(
        F.count("*").alias("n"),
        F.bit_xor(F.xxhash64("m1", "m2")).alias("hx"),
        F.sum(F.xxhash64("m1", "m2").cast("decimal(28,0)")).alias("hs"),
    ).collect()[0]
    token = f"{row['n']}:{row['hx']}:{row['hs']}"
    final_stage = f"{stage_prefix}_final"
    if catalog is not None and catalog.is_complete(
        final_stage, extra_inputs={"edges": token}
    ):
        return catalog.read(final_stage)

    if row["n"] <= small_graph_threshold:
        # Arrow on both hops (guide §6 "Arrow for driver transfers"): the
        # row-path collect() pickled every edge row and createDataFrame
        # re-pickled every label — measured ~2.5s of pure serialization at
        # 250k edges (r6); the Arrow path moves both as columnar batches.
        import pandas as pd

        pdf = edges.select("m1", "m2").toPandas()
        labels_map = _union_find(list(zip(pdf["m1"], pdf["m2"])))
        items = sorted(labels_map.items())
        frozen = spark.createDataFrame(
            pd.DataFrame(
                {
                    "mention": [k for k, _ in items],
                    "canonical": [v for _, v in items],
                }
            ),
            "mention string, canonical string",
        )
        if catalog is not None:
            return catalog.run(
                final_stage, lambda: frozen, extra_inputs={"edges": token}
            )
        return frozen

    sym = edges.select(F.col("m1").alias("src"), F.col("m2").alias("dst")).union(
        edges.select(F.col("m2").alias("src"), F.col("m1").alias("dst"))
    )
    sym = sym.repartition("src").localCheckpoint()

    nodes = sym.select(F.col("src").alias("mention")).distinct()
    labels = nodes.select("mention", F.col("mention").alias("canonical")).localCheckpoint()

    start_iter = 0
    if catalog is not None:
        done = _committed_cc_iters(catalog, stage_prefix, token)
        if done:
            start_iter = done[-1]
            labels = catalog.read(f"{stage_prefix}_iter{done[-1]:03d}")

    for it in range(start_iter, max_iters):
        nbr_min = (
            sym.join(labels, sym["dst"] == labels["mention"])
            .groupBy("src")
            .agg(F.min("canonical").alias("nbr_canonical"))
        )
        stepped = labels.join(
            nbr_min, labels["mention"] == nbr_min["src"], "left"
        ).select(
            "mention",
            F.least(
                F.col("canonical"), F.coalesce("nbr_canonical", F.col("canonical"))
            ).alias("mid"),
            F.col("canonical").alias("old"),
        )
        # pointer jump: label(u) <- label(label(u))
        parent = stepped.select(
            F.col("mention").alias("p_mention"), F.col("mid").alias("p_label")
        )
        new_label = F.least(F.col("mid"), F.coalesce("p_label", F.col("mid")))
        jumped = (
            stepped.join(parent, stepped["mid"] == parent["p_mention"], "left")
            .select(
                "mention",
                new_label.alias("new_canonical"),
                # labels only decrease: new < old iff anything moved
                (new_label < F.col("old")).alias("changed"),
            )
            .localCheckpoint()
        )
        labels = jumped.select("mention", F.col("new_canonical").alias("canonical"))
        converged = jumped.where("changed").limit(1).count() == 0
        if (
            catalog is not None
            and not converged
            and (it + 1) % checkpoint_every == 0
        ):
            frozen = labels
            labels = catalog.run(
                f"{stage_prefix}_iter{it + 1:03d}",
                lambda: frozen,
                extra_inputs={"edges": token},
            )
        if converged:
            break
    if catalog is not None:
        frozen = labels
        labels = catalog.run(
            final_stage, lambda: frozen, extra_inputs={"edges": token}
        )
    return labels


def link_mentions(
    mentions: DataFrame, catalog=None, stage_prefix: str = "cc"
) -> DataFrame:
    """mentions DF (col ``mention``) -> map (mention, canonical).

    Mentions that never met a similar partner map to themselves.

    The signature kernel runs ONCE over distinct mentions (``base``,
    materialized) — and, when a ``catalog`` is given, once per NEVER-SEEN
    mention across the catalog's lifetime: the signature table persists as
    the ``{stage_prefix}_sigs`` stage and appended corpora only pay the
    kernel for their delta (``signature_base``); the candidate/verify path
    then works entirely on a
    TEXT-FREE projection of it (``core``: surrogate id + shingle arrays +
    bucket keys — its own checkpoint, so the analyzed plan downstream
    carries no mention attribute at all), and mention text re-attaches only
    to the verified edge set — orders of magnitude smaller than the
    candidate pairs — ordered (least, greatest) so edge orientation stays
    the old lexicographic one regardless of id assignment.  Surrogate ids
    are ``monotonically_increasing_id`` frozen by the checkpoint: purely
    internal (never in the output or any catalog token), so their
    partition-layout dependence is harmless.

    ``catalog`` (a StageCatalog) makes the CC iteration durably resumable —
    see ``connected_components``.
    """
    distinct = mentions.select("mention").distinct()
    base = signature_base(
        distinct, catalog=catalog, stage_name=f"{stage_prefix}_sigs"
    )
    return link_from_signatures(base, catalog=catalog, stage_prefix=stage_prefix)


def link_from_signatures(
    signatures: DataFrame, catalog=None, stage_prefix: str = "cc"
) -> DataFrame:
    """Candidate/verify/CC over an already-materialized signature table
    (mention, shingles, buckets) -> (mention, canonical).

    Split out of ``link_mentions`` (r6) so the pipeline can key the linked
    stage on the SIGNATURE TABLE's fingerprint: the linked map is a pure
    function of the distinct-mention set, which the signature table
    captures exactly — an appended batch that introduces no never-seen
    mention leaves the table (and hence this whole computation) unchanged,
    and the stage catalog can skip it outright instead of replaying
    bucket join + verify + CC to rediscover the same fixed point.
    """
    base = (
        signatures
        .withColumn("mid", F.monotonically_increasing_id())
        .localCheckpoint()
    )
    core = base.select("mid", "shingles", "buckets").localCheckpoint()
    edge_ids = mention_edge_ids(core)
    idmap = base.select("mid", "mention")
    edges = (
        edge_ids.join(
            idmap.select(F.col("mid").alias("m1"), F.col("mention").alias("t1")),
            "m1",
        )
        .join(
            idmap.select(F.col("mid").alias("m2"), F.col("mention").alias("t2")),
            "m2",
        )
        .select(
            F.least("t1", "t2").alias("m1"),
            F.greatest("t1", "t2").alias("m2"),
            "sim",
        )
    )
    comp = connected_components(edges, catalog=catalog, stage_prefix=stage_prefix)
    return (
        base.select("mention").join(comp, "mention", "left")
        .select(
            "mention",
            F.coalesce("canonical", F.col("mention")).alias("canonical"),
        )
    )


# ---------------------------------------------------------------------------
# Driver-side twin (parity tests) — same hash functions, plain Python.
# ---------------------------------------------------------------------------


def link_local(texts: list[str], threshold: float = LINK_JACCARD, max_bucket: int = 200) -> dict[str, str]:
    a, b = _hash_params()
    distinct = sorted(set(texts))
    buckets: dict[str, list[str]] = {}
    for t in distinct:
        for key in band_keys(minhash_signature(t, a, b)):
            buckets.setdefault(key, []).append(t)
    parent = {t: t for t in distinct}

    def find(x: str) -> str:
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for members in buckets.values():
        if len(members) > max_bucket:
            continue
        for i, m1 in enumerate(members):
            for m2 in members[i + 1 :]:
                if jaccard(m1, m2) >= threshold:
                    r1, r2 = find(m1), find(m2)
                    if r1 != r2:
                        lo, hi = min(r1, r2), max(r1, r2)
                        parent[hi] = lo
    return {t: find(t) for t in distinct}
