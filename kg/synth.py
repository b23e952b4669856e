"""Deterministic synthesizer for the interleaved text+media corpus.

Produces the input table mandated by BASELINE.json input_hint:
``(doc_id: string, spans: array<struct<kind, text, media_ref, offset:int>>)``
(FIXTURES.md §1), seeded and fully deterministic.  Text payloads are tagged
sentences in the reference corpus format sampled Zipf-skewed from the
reference eval set (``REFERENCE_CORPUS``), or from a generated stand-in of
the same shape when that file is absent (``generated_sentences``).
Duplicate mentions across docs exercise entity linking; skewed surface
forms exercise the salted LSH join; media spans interleave arbitrarily and
must be carried through untouched.

Each doc is generated from its own RNG seeded by (seed, doc index), so the
corpus is order- and partitioning-independent: the driver-side and
distributed (mapInPandas) generators produce byte-identical documents.  At
the 10^12-doc design point the corpus is never materialized on the driver —
executors synthesize their own doc ranges.

Edge docs always included (FIXTURES.md §1): empty-spans doc, media-only doc,
and a >512-token sentence exercising truncation (ner/dataset.py:57,65-66,74-75).
"""

from __future__ import annotations

import bisect
import itertools
import os
import random

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from kg.tokenizer import Vocab, build_vocab

REFERENCE_CORPUS = "/root/reference/data/test.txt"

SPANS_SCHEMA = T.ArrayType(
    T.StructType(
        [
            T.StructField("kind", T.StringType()),
            T.StructField("text", T.StringType()),
            T.StructField("media_ref", T.StringType()),
            T.StructField("offset", T.IntegerType()),
        ]
    )
)

DOCS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.StringType()),
        T.StructField("spans", SPANS_SCHEMA),
    ]
)

MEDIA_KINDS = ["image", "audio", "video"]


# Segment-tag mix of the reference eval set (FIXTURES.md §2).
TAG_MIX = {"o": 8786, "ns": 2877, "nr": 1973, "nt": 1331}
# First lines of every generated corpus: they put the literal surfaces the
# tests tokenize (中国致公党, 北京, 字, ...) into the vocabulary.
ANCHOR_LINES = (
    "中国致公党/nt 第十一次/o 全国/o 代表大会/o 在/o 北京/ns 开幕/o",
    "中共中央/nt 的贺词/o 大会/o 上海/ns 人民解放军/nt 总政治部/nt",
    "中华人民共和国国务院/nt 办公厅/o 北京市政府/nt 总参谋部/nt 主席团/o",
    "同志们/o 热烈/o 祝贺/o 委员/o 之际/o 服务/o 字/o",
)
# The reference eval set's line count.
GENERATED_LINES = 4365


def generated_sentences() -> list[str]:
    """Deterministic stand-in for the reference eval set, same format.

    ``GENERATED_LINES`` whitespace-separated ``word/tag`` lines over CJK
    words, with segment tags drawn in the ``TAG_MIX`` proportions.  Entity
    mentions are drawn Zipf-skewed from a per-tag surface pool in which a
    quarter of the surfaces of 4+ characters carry a one-character
    near-duplicate variant (one character added or dropped), so that
    linking has real merges.  The ``ANCHOR_LINES`` lines come first.
    """
    rng = random.Random(4244)
    chars = sorted(
        {c for line in ANCHOR_LINES for c in line if "\u4e00" <= c <= "\u9fff"}
    ) + [chr(c) for c in range(0x5000, 0x5000 + 600)]

    def word(lo: int, hi: int) -> str:
        return "".join(rng.choice(chars) for _ in range(rng.randint(lo, hi)))

    def zipf_cdf(k: int, s: float) -> list[float]:
        acc = list(itertools.accumulate(1.0 / (r + 1) ** s for r in range(k)))
        return [x / acc[-1] for x in acc]

    def pick(pool: list, cdf: list[float]):
        return pool[min(bisect.bisect_left(cdf, rng.random()), len(pool) - 1)]

    entities: dict[str, list[list[str]]] = {}
    for tag in ("ns", "nr", "nt"):
        pool = []
        for _ in range(300):
            surface = word(2, 6)
            forms = [surface]
            if len(surface) >= 4 and rng.random() < 0.25:
                forms.append(rng.choice([surface + rng.choice(chars), surface[:-1]]))
            pool.append(forms)
        entities[tag] = pool
    entity_cdf = zipf_cdf(300, 1.1)
    context = [word(1, 4) for _ in range(1500)]
    context_cdf = zipf_cdf(len(context), 1.0)
    tags, weights = zip(*TAG_MIX.items())

    out = list(ANCHOR_LINES)
    while len(out) < GENERATED_LINES:
        segs = []
        for tag in rng.choices(tags, weights, k=rng.randint(1, 6)):
            if tag == "o":
                segs.append(f"{pick(context, context_cdf)}/o")
            else:
                forms = pick(entities[tag], entity_cdf)
                surface = forms[-1] if len(forms) > 1 and rng.random() < 0.3 else forms[0]
                segs.append(f"{surface}/{tag}")
        out.append(" ".join(segs))
    return out


def load_reference_sentences(path: str = REFERENCE_CORPUS) -> list[str]:
    """Lines of the reference eval set; ``generated_sentences()`` when the
    default reference file is absent."""
    if path == REFERENCE_CORPUS and not os.path.exists(path):
        return generated_sentences()
    with open(path, encoding="utf-8") as f:
        return [line.strip() for line in f if line.strip()]


def corpus_vocab(sentences: list[str] | None = None) -> Vocab:
    """Deterministic vocab over corpus text + MRC queries (SURVEY.md §7.0)."""
    from kg.config import TAG_QUERIES

    if sentences is None:
        sentences = load_reference_sentences()
    texts = [s.replace("/", " ") for s in sentences] + list(TAG_QUERIES.values())
    return build_vocab(texts)


def _long_sentence(sentences: list[str], min_segments: int = 600) -> str:
    """Concatenate segments until well past max_len tokens (truncation case)."""
    segs: list[str] = []
    i = 0
    while len(segs) < min_segments:
        segs.extend(sentences[i % len(sentences)].split())
        i += 1
    return " ".join(segs[:min_segments])


def _synth_one(d: int, seed: int, sentences: list[str]) -> dict:
    """Doc #d, deterministic in (seed, d) alone."""
    rng = random.Random((seed << 20) ^ d)
    doc_id = f"doc-{d:08d}"
    n_sent = len(sentences)

    def media_span(offset: int) -> dict:
        kind = MEDIA_KINDS[rng.randrange(len(MEDIA_KINDS))]
        return {
            "kind": kind,
            "text": "",
            "media_ref": f"media://{kind}/{rng.randrange(1 << 30):08x}",
            "offset": offset,
        }

    if d == 0:
        return {"doc_id": doc_id, "spans": []}
    if d == 1:
        return {"doc_id": doc_id, "spans": [media_span(0), media_span(1)]}
    if d == 2:
        return {
            "doc_id": doc_id,
            "spans": [
                {"kind": "text", "text": _long_sentence(sentences), "media_ref": "", "offset": 0},
                media_span(1),
            ],
        }
    spans: list[dict] = []
    offset = 0
    for _ in range(rng.randint(1, 5)):
        if rng.random() < 0.25:
            spans.append(media_span(offset))
            offset += 1
        # Zipf-ish skew: quadratic concentration on low sentence indices
        idx = int(n_sent * rng.random() ** 2) % n_sent
        spans.append({"kind": "text", "text": sentences[idx], "media_ref": "", "offset": offset})
        offset += 1
    if rng.random() < 0.15:
        spans.append(media_span(offset))
    return {"doc_id": doc_id, "spans": spans}


def synth_docs(n_docs: int, seed: int = 42, sentences: list[str] | None = None) -> list[dict]:
    """Driver-side corpus (tests / oracle goldens)."""
    if sentences is None:
        sentences = load_reference_sentences()
    return [_synth_one(d, seed, sentences) for d in range(n_docs)]


def _docs_to_arrow(docs: list[dict]):
    """Columnar Arrow construction of the docs table (r6, guide §4.2):
    flatten every span into four plain Python lists + per-doc offsets and
    assemble ListArray(StructArray) directly — the pandas-object /
    pickled-row paths both re-walked the nested structure per row and
    dominated corpus materialization (measured 4.2s of the 1M-doc
    'documents' stage; identical values either way)."""
    import pyarrow as pa

    ids: list[str] = []
    kinds: list[str] = []
    texts: list[str] = []
    refs: list[str] = []
    offs: list[int] = []
    bounds = [0]
    for d in docs:
        ids.append(d["doc_id"])
        for s in d["spans"]:
            kinds.append(s["kind"])
            texts.append(s["text"])
            refs.append(s["media_ref"])
            offs.append(s["offset"])
        bounds.append(len(kinds))
    struct = pa.StructArray.from_arrays(
        [
            pa.array(kinds, pa.string()),
            pa.array(texts, pa.string()),
            pa.array(refs, pa.string()),
            pa.array(offs, pa.int32()),
        ],
        names=["kind", "text", "media_ref", "offset"],
    )
    spans = pa.ListArray.from_arrays(pa.array(bounds, pa.int32()), struct)
    return pa.Table.from_arrays([pa.array(ids, pa.string()), spans],
                                names=["doc_id", "spans"])


def docs_to_df(spark: SparkSession, docs: list[dict]) -> DataFrame:
    return spark.createDataFrame(_docs_to_arrow(docs), schema=DOCS_SCHEMA)


def synth_docs_df(
    spark: SparkSession, n_docs: int, seed: int = 42, n_partitions: int | None = None
) -> DataFrame:
    """Distributed synthesis: each partition generates its own doc range."""
    if n_partitions is None:
        n_partitions = max(4, int(spark.conf.get("spark.sql.shuffle.partitions", "32")))
    sent_bc = spark.sparkContext.broadcast(load_reference_sentences())

    def gen(it):
        sentences = sent_bc.value
        # Yield in bounded chunks: a partition may cover millions of docs
        # (n_docs / n_partitions), and materializing one batch per
        # partition is O(partition) memory — observed worker OOM at 16M
        # docs on local[2].  50k-doc batches keep per-batch memory flat
        # regardless of corpus or partition count.  Batches are built as
        # Arrow directly (_docs_to_arrow, r6): the pandas object-column
        # detour cost ~125us/doc of conversion — 4.2s of the 1M-doc
        # documents stage, vs ~10us/doc for the generation itself.
        chunk = 50_000
        for batch in it:
            for start, stop in zip(
                batch.column("start").to_pylist(), batch.column("stop").to_pylist()
            ):
                lo = int(start)
                while lo < int(stop):
                    hi = min(lo + chunk, int(stop))
                    tbl = _docs_to_arrow(
                        [_synth_one(d, seed, sentences) for d in range(lo, hi)]
                    )
                    for b in tbl.to_batches():
                        yield b
                    lo = hi

    step = max(1, -(-n_docs // n_partitions))
    bounds = [(i, min(i + step, n_docs)) for i in range(0, n_docs, step)]
    ranges = spark.createDataFrame(bounds, "start long, stop long").repartition(len(bounds))
    return ranges.mapInArrow(gen, DOCS_SCHEMA)


def sf_to_n_docs(sf: float) -> int:
    return max(16, int(sf * 100_000))
