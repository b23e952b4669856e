"""The input generator: determinism, seed sensitivity and the input
properties the workloads depend on."""

import hashlib

import corpus
from kg.oracle import parse_segments


def _sha(path: str) -> str:
    with open(path, "rb") as f:
        return hashlib.sha256(f.read()).hexdigest()


def test_same_seed_gives_byte_identical_inputs(tmp_path):
    a = corpus.write_docs(corpus.build_corpus(7, 300), str(tmp_path / "a" / "d.parquet"))
    b = corpus.write_docs(corpus.build_corpus(7, 300), str(tmp_path / "b" / "d.parquet"))
    assert _sha(a) == _sha(b)
    base1, batches1 = corpus.append_corpus(7, 200, 2, 10)
    base2, batches2 = corpus.append_corpus(7, 200, 2, 10)
    assert (base1, batches1) == (base2, batches2)


def test_another_seed_gives_other_inputs(tmp_path):
    a = corpus.write_docs(corpus.build_corpus(7, 300), str(tmp_path / "a" / "d.parquet"))
    b = corpus.write_docs(corpus.build_corpus(8, 300), str(tmp_path / "b" / "d.parquet"))
    assert _sha(a) != _sha(b)
    assert corpus.append_corpus(7, 200, 2, 10) != corpus.append_corpus(8, 200, 2, 10)


def test_edge_docs_tags_and_media():
    docs = corpus.build_corpus(1, 200)
    by_id = {d["doc_id"]: d for d in docs}
    assert by_id["b-edge-empty"]["spans"] == []
    assert {s["kind"] for s in by_id["b-edge-media"]["spans"]} <= set(corpus.MEDIA_KINDS)
    vocab = corpus.corpus_vocab(docs)
    long_text = by_id["b-edge-long"]["spans"][0]["text"]
    assert len(vocab.tokenize(long_text.replace("/", " "))) > 512
    texts = [s["text"] for d in docs for s in d["spans"] if s["kind"] == "text"]
    assert {t for text in texts for _, t in parse_segments(text)} == {"o", "ns", "nr", "nt"}
    assert any(s["kind"] != "text" for d in docs[3:] for s in d["spans"])  # interleaved media


def test_planted_variants_and_distinct_share():
    docs = corpus.build_corpus(1, 1000)
    surfaces = {w for d in docs for s in d["spans"] if s["kind"] == "text"
                for w, t in parse_segments(s["text"]) if t != "o"}
    assert any(w[:-1] in surfaces for w in surfaces if len(w) >= 5)
    assert corpus.describe(docs)["distinct_sentence_share"] > 0.8
    base, _ = corpus.append_corpus(1, 1000, 1, 10)
    assert corpus.describe(base)["distinct_sentence_share"] < 0.2


def test_batches_carry_never_seen_mentions():
    base, batches = corpus.append_corpus(1, 300, 3, 10)

    def mentions(docs):
        return {w for d in docs for s in d["spans"] if s["kind"] == "text"
                for w, t in parse_segments(s["text"]) if t != "o"}

    seen = mentions(base)
    for batch in batches:
        novel = mentions(batch) - seen
        assert len(novel) >= 4
        assert any(w.startswith(corpus.RENAME_PREFIX) for w in novel)
        seen |= novel
