"""Seeded corpus generator for the benchmark.

Every input the engine sees is made here, from the workload seed alone:

- tagged sentences in the reference ``word/tag`` format (CJK words, tags
  ``o``/``ns``/``nr``/``nt``);
- entity mentions drawn Zipf-skewed from an entity pool in which some
  entities carry planted near-duplicate surface variants (one character
  added or dropped), so that linking has real candidate and verified pairs;
- a per-workload share of distinct sentences: the rest are repeats drawn
  Zipf-skewed from a small sentence pool;
- media spans interleaved between the text spans;
- the three edge documents: empty, media-only, and one sentence longer than
  the 512-token model window.

Documents are written as parquet in ``kg.synth.DOCS_SCHEMA`` shape with
pyarrow, so the same seed gives byte-identical files.  The vocabulary is
built with ``kg.tokenizer.build_vocab`` over the generated text plus the MRC
queries, as ``kg.synth.corpus_vocab`` does for the reference corpus.
"""

from __future__ import annotations

import bisect
import os
import random
from dataclasses import dataclass

import pyarrow.parquet as pq

from kg.config import TAG_QUERIES
from kg.synth import MEDIA_KINDS, _docs_to_arrow
from kg.tokenizer import Vocab, build_vocab

ENTITY_TAGS = ("ns", "nr", "nt")
# Entity surfaces use one block of CJK ideographs and context ('o') words
# another, so a context word never shares shingles with an entity.  The
# first ideograph of the entity block is kept out of pool surfaces: append
# batches prefix it to make a variant that sorts before every surface it
# is a variant of (and so renames that entity's component when linked).
ENTITY_CHARS = [chr(c) for c in range(0x4E01, 0x4E01 + 1500)]
RENAME_PREFIX = chr(0x4E00)
CONTEXT_CHARS = [chr(c) for c in range(0x6000, 0x6000 + 800)]
# Never-seen mentions of append batches come from a third block, so they
# are new to the signature table without linking to anything.
NOVEL_CHARS = [chr(c) for c in range(0x8000, 0x8000 + 1500)]


@dataclass(frozen=True)
class Shape:
    """Statistical shape of one generated corpus."""

    n_entities: int        # entity pool size (before variants)
    variant_share: float   # share of entities given near-duplicate variants
    n_context: int         # 'o' word pool size
    distinct_share: float  # share of sentences generated fresh
    pool_sentences: int    # repeated-sentence pool size
    mention_share: float = 0.3  # share of words that are entity mentions


def _zipf_cdf(n: int, s: float = 1.1) -> list[float]:
    acc, out = 0.0, []
    for r in range(n):
        acc += 1.0 / (r + 1) ** s
        out.append(acc)
    return [x / acc for x in out]


def _pick(rng: random.Random, cdf: list[float]) -> int:
    return min(bisect.bisect_left(cdf, rng.random()), len(cdf) - 1)


def _word(rng: random.Random, chars: list[str], lo: int, hi: int) -> str:
    return "".join(rng.choice(chars) for _ in range(rng.randint(lo, hi)))


class SentenceSource:
    """Draws tagged sentences of one corpus shape from one RNG."""

    def __init__(self, rng: random.Random, shape: Shape):
        self.rng = rng
        self.shape = shape
        seen: set[str] = set()
        self.entities: list[tuple[str, str, list[str]]] = []
        while len(self.entities) < shape.n_entities:
            surface = _word(rng, ENTITY_CHARS, 3, 7)
            if surface in seen:
                continue
            seen.add(surface)
            tag = rng.choice(ENTITY_TAGS)
            variants = []
            if len(surface) >= 4 and rng.random() < shape.variant_share:
                extra = surface + rng.choice(ENTITY_CHARS)
                variants = [v for v in (extra, surface[:-1]) if v not in seen]
                seen.update(variants)
            self.entities.append((surface, tag, variants))
        self.entity_cdf = _zipf_cdf(len(self.entities))
        self.context = sorted({_word(rng, CONTEXT_CHARS, 1, 3) for _ in range(shape.n_context)})
        self.context_cdf = _zipf_cdf(len(self.context), 1.0)
        self.pool = [self.fresh() for _ in range(shape.pool_sentences)]
        self.pool_cdf = _zipf_cdf(len(self.pool))

    def mention(self) -> str:
        surface, tag, variants = self.entities[_pick(self.rng, self.entity_cdf)]
        if variants and self.rng.random() < 0.3:
            surface = self.rng.choice(variants)
        return f"{surface}/{tag}"

    def fresh(self, n_words: int | None = None) -> str:
        rng = self.rng
        words = []
        for _ in range(n_words or rng.randint(6, 18)):
            if rng.random() < self.shape.mention_share:
                words.append(self.mention())
            else:
                words.append(f"{self.context[_pick(rng, self.context_cdf)]}/o")
        return " ".join(words)

    def sentence(self) -> str:
        if self.rng.random() < self.shape.distinct_share:
            return self.fresh()
        return self.pool[_pick(self.rng, self.pool_cdf)]


def _media(rng: random.Random, offset: int) -> dict:
    kind = rng.choice(MEDIA_KINDS)
    return {"kind": kind, "text": "", "media_ref": f"media://{kind}/{rng.getrandbits(40):010x}",
            "offset": offset}


def _text(text: str, offset: int) -> dict:
    return {"kind": "text", "text": text, "media_ref": "", "offset": offset}


def _doc(doc_id: str, src: SentenceSource, extra: list[str] = ()) -> dict:
    """1-5 sentences (plus ``extra``) with media spans interleaved."""
    rng = src.rng
    texts = [src.sentence() for _ in range(rng.randint(1, 5))] + list(extra)
    spans: list[dict] = []
    for text in texts:
        if rng.random() < 0.25:
            spans.append(_media(rng, len(spans)))
        spans.append(_text(text, len(spans)))
    if rng.random() < 0.15:
        spans.append(_media(rng, len(spans)))
    return {"doc_id": doc_id, "spans": spans}


def edge_docs(prefix: str, src: SentenceSource) -> list[dict]:
    """The empty, media-only and over-512-token documents."""
    rng = src.rng
    long_text = " ".join(src.fresh(18) for _ in range(40))  # ~700 words, >2000 tokens
    return [
        {"doc_id": f"{prefix}-edge-empty", "spans": []},
        {"doc_id": f"{prefix}-edge-media", "spans": [_media(rng, 0), _media(rng, 1)]},
        {"doc_id": f"{prefix}-edge-long", "spans": [_text(long_text, 0), _media(rng, 1)]},
    ]


# Corpus shapes per workload (see BENCHMARK.json for why each exists).
BUILD_SHAPE = Shape(n_entities=6000, variant_share=0.3, n_context=3000,
                    distinct_share=0.9, pool_sentences=200)
APPEND_SHAPE = Shape(n_entities=400, variant_share=0.3, n_context=300,
                     distinct_share=0.05, pool_sentences=400)


def build_corpus(seed: int, n_docs: int) -> list[dict]:
    """Distinct-heavy corpus: most sentences unique, large entity pool."""
    src = SentenceSource(random.Random(f"perfbench:build:{seed}"), BUILD_SHAPE)
    docs = edge_docs("b", src)
    docs += [_doc(f"b-{i:07d}", src) for i in range(n_docs - len(docs))]
    return docs


def append_corpus(seed: int, n_base: int, n_batches: int, batch_docs: int,
                  novel_per_batch: int = 5, renames: int = 3
                  ) -> tuple[list[dict], list[list[dict]]]:
    """Duplicate-heavy base corpus plus ``n_batches`` small batches.

    Each batch draws from the base's distribution and carries
    ``novel_per_batch`` never-seen mentions, ``renames`` of which are
    variants of 7-character pool entities prefixed with ``RENAME_PREFIX``:
    when linking joins one to its entity's component it becomes the
    component's canonical text, so old canonicals change and the append
    must recompute ``edges``.  A prefixed variant has shingle Jaccard 5/6
    with its entity, which the MinHash LSH makes a candidate pair with
    probability ~0.93, so with three the append recomputes ``edges`` in
    all but ~1 of 3000 batches.
    """
    src = SentenceSource(random.Random(f"perfbench:append:{seed}"), APPEND_SHAPE)
    base = edge_docs("a", src)
    base += [_doc(f"a-{i:07d}", src) for i in range(n_base - len(base))]
    batches = []
    long_entities = [e for e in src.entities if len(e[0]) == 7]
    for j in range(n_batches):
        rng = src.rng
        novel = [f"{RENAME_PREFIX}{surface}/{tag}" for surface, tag, _ in
                 (long_entities[(renames * j + r) % len(long_entities)] for r in range(renames))]
        novel += [f"{_word(rng, NOVEL_CHARS, 4, 6)}/{rng.choice(ENTITY_TAGS)}"
                  for _ in range(novel_per_batch - renames)]
        batch = []
        for i in range(batch_docs):
            extra = []
            if i < len(novel):
                extra = [" ".join([src.fresh(4), novel[i], src.fresh(4)])]
            batch.append(_doc(f"a-b{j:03d}-{i:05d}", src, extra))
        batches.append(batch)
    return base, batches


def corpus_vocab(docs: list[dict]) -> Vocab:
    """Vocab over every text span (tags stripped) plus the MRC queries."""
    texts = [s["text"].replace("/", " ") for d in docs for s in d["spans"] if s["kind"] == "text"]
    return build_vocab(texts + list(TAG_QUERIES.values()))


def write_docs(docs: list[dict], path: str) -> str:
    """Write ``docs`` as one parquet file in DOCS_SCHEMA shape."""
    os.makedirs(os.path.dirname(path), exist_ok=True)
    pq.write_table(_docs_to_arrow(docs), path, compression="zstd")
    return path


def describe(docs: list[dict]) -> dict:
    """Input descriptors: docs, text spans and distinct-sentence share."""
    texts = [s["text"] for d in docs for s in d["spans"] if s["kind"] == "text" and s["text"].strip()]
    return {
        "docs": len(docs),
        "text_spans": len(texts),
        "distinct_sentence_share": round(len(set(texts)) / max(len(texts), 1), 4),
    }
