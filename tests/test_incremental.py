"""Incremental append pipeline: append(A then B) == fresh(A∪B), per-doc
stages appended not recomputed, idempotent repeat, resume coherence."""

import pytest

from kg.pipeline import run_pipeline, run_pipeline_append
from kg.synth import docs_to_df, synth_docs


def _rows(df):
    return sorted(map(str, df.collect()))


@pytest.fixture(scope="module")
def split_corpus():
    docs = synth_docs(150)
    return docs[:100], docs[100:], docs


def test_append_equals_fresh(spark, vocab, tmp_path, split_corpus, at_both_widths):
    old, new, full = split_corpus

    def scenario(workers):
        fresh = run_pipeline(
            spark, docs_to_df(spark, full), str(tmp_path / f"fresh{workers}"),
            vocab=vocab, input_token="t150",
        )
        base = str(tmp_path / f"inc{workers}")
        run_pipeline(
            spark, docs_to_df(spark, old), base, vocab=vocab, input_token="t100"
        )
        res = run_pipeline_append(
            spark, docs_to_df(spark, new), base, vocab=vocab, input_token="b2"
        )
        for name in fresh.tables:
            assert _rows(res.tables[name]) == _rows(fresh.tables[name]), name
        # the per-document heavy stages were appended, never recomputed
        for stage in ("documents", "extract", "mentions", "triples",
                      "keyphrases", "documents_out"):
            assert f"{stage}+append" in res.executed
            assert stage not in res.executed
        # recomputed tail: linked + nodes; edges took the INCREMENTAL path
        # (r6) on this corpus — batch doc_ids are disjoint and no old
        # mention's canonical changed, so only the canonicalized delta was
        # appended
        assert {"linked", "nodes"} <= set(res.executed)
        assert "edges+append" in res.executed
        assert "edges" not in res.executed
        return fresh.executed, res.executed, {n: _rows(res.tables[n]) for n in res.tables}

    at_both_widths(scenario)


def test_append_batch_without_triples_equals_fresh(
    spark, vocab, tmp_path, split_corpus
):
    """A batch of media-only and empty docs yields no mentions and no
    triples.  Its edges increment has zero rows, and a partitioned write of
    zero rows writes no file; the append must still commit every stage and
    equal a fresh run over the union."""
    old, _, _ = split_corpus
    media = {"kind": "image", "text": "", "media_ref": "media://image/0", "offset": 0}
    batch = [
        {"doc_id": "doc-m0", "spans": [media]},
        {"doc_id": "doc-m1", "spans": []},
    ]
    base = str(tmp_path / "media")
    run_pipeline(
        spark, docs_to_df(spark, old), base, vocab=vocab, input_token="t100"
    )
    res = run_pipeline_append(
        spark, docs_to_df(spark, batch), base, vocab=vocab, input_token="bm"
    )
    assert "edges+append" in res.executed
    assert res.invariant_violations == 0
    fresh = run_pipeline(
        spark, docs_to_df(spark, old + batch), str(tmp_path / "media_f"),
        vocab=vocab, input_token="tm",
    )
    for name in fresh.tables:
        assert _rows(res.tables[name]) == _rows(fresh.tables[name]), name


def test_append_is_idempotent(spark, vocab, tmp_path, split_corpus):
    old, new, _ = split_corpus
    base = str(tmp_path / "idem")
    run_pipeline(
        spark, docs_to_df(spark, old), base, vocab=vocab, input_token="t100"
    )
    res1 = run_pipeline_append(
        spark, docs_to_df(spark, new), base, vocab=vocab, input_token="b2"
    )
    golden = _rows(res1.tables["edges"])
    # same batch again: no-op — nothing appended, nothing recomputed
    res2 = run_pipeline_append(
        spark, docs_to_df(spark, new), base, vocab=vocab, input_token="b2"
    )
    assert res2.executed == []
    assert _rows(res2.tables["edges"]) == golden


def test_plain_rerun_after_append_skips_everything(
    spark, vocab, tmp_path, split_corpus
):
    old, new, full = split_corpus
    base = str(tmp_path / "rerun")
    run_pipeline(
        spark, docs_to_df(spark, old), base, vocab=vocab, input_token="t100"
    )
    run_pipeline_append(
        spark, docs_to_df(spark, new), base, vocab=vocab, input_token="b2"
    )
    res = run_pipeline(
        spark, docs_to_df(spark, full), base, vocab=vocab,
        input_token="t100+b2",
    )
    assert res.executed == []


def test_torn_append_invisible_to_readers_and_retry_safe(
    spark, vocab, tmp_path, split_corpus
):
    """Crash between append's file moves and its manifest commit (ADVICE r3):
    readers must still see exactly the pre-append rows (read is
    manifest-driven, not a directory scan), and a retried append must fold
    the batch exactly once — the stray files are reconciled away, never
    double-counted."""
    from kg.catalog import StageCatalog
    from kg.pipeline import input_fingerprint

    old, new, full = split_corpus
    base = str(tmp_path / "torn")
    run_pipeline(
        spark, docs_to_df(spark, old), base, vocab=vocab, input_token="t100"
    )
    cat = StageCatalog(spark, base)
    n_before = cat.read("documents").count()

    # simulate the torn append: move the batch's part-files into data/ but
    # crash before the manifest rewrite (monkeypatch-free: do the moves the
    # same way append does, then stop)
    import os
    import uuid

    new_df = docs_to_df(spark, new)
    stage_dir = os.path.join(base, "documents")
    tmp = os.path.join(stage_dir, f".tmp-{uuid.uuid4().hex}")
    new_df.write.mode("overwrite").parquet(tmp)
    strays = []
    for name in os.listdir(tmp):
        if name.endswith(".parquet"):
            dst = os.path.join(cat.data_dir("documents"), name)
            os.replace(os.path.join(tmp, name), dst)
            strays.append(dst)
    assert strays, "torn-append simulation moved no files"

    # 1. readers see the OLD committed contents only
    cat2 = StageCatalog(spark, base)
    assert cat2.read("documents").count() == n_before
    assert cat2.is_complete("documents")

    # 2. a retried append folds the batch exactly once and equals fresh
    res = run_pipeline_append(
        spark, new_df, base, vocab=vocab, input_token="b2"
    )
    fresh = run_pipeline(
        spark, docs_to_df(spark, full), str(tmp_path / "torn_fresh"),
        vocab=vocab, input_token="t150",
    )
    assert _rows(res.tables["documents"]) == _rows(fresh.tables["documents"])
    assert _rows(res.tables["edges"]) == _rows(fresh.tables["edges"])
    # 3. the stray files were reconciled off disk
    assert not [p for p in strays if os.path.exists(p)]


def test_reappending_an_older_batch_is_noop(spark, vocab, tmp_path):
    """Membership in the explicit batch_tokens ledger (ADVICE r3): ANY
    previously folded batch — not just the most recent — is a no-op, and a
    token containing '+' does not false-positive the suffix of another."""
    docs = synth_docs(100)
    b0, b1, b2 = docs[:50], docs[50:70], docs[70:90]
    base = str(tmp_path / "ledger")
    run_pipeline(
        spark, docs_to_df(spark, b0), base, vocab=vocab, input_token="base"
    )
    run_pipeline_append(
        spark, docs_to_df(spark, b1), base, vocab=vocab, input_token="x+y"
    )
    res2 = run_pipeline_append(
        spark, docs_to_df(spark, b2), base, vocab=vocab, input_token="z"
    )
    golden = _rows(res2.tables["documents"])
    # re-submission of the OLDER batch b1 (not the latest): must be a no-op
    res3 = run_pipeline_append(
        spark, docs_to_df(spark, b1), base, vocab=vocab, input_token="x+y"
    )
    assert res3.executed == []
    assert _rows(res3.tables["documents"]) == golden
    # a fresh batch whose token is a suffix-with-'+' trap must STILL append:
    # old combined token is "base+x+y+z"; token "y+z" is not folded
    res4 = run_pipeline_append(
        spark, docs_to_df(spark, docs[90:]), base, vocab=vocab,
        input_token="y+z",
    )
    assert "documents+append" in res4.executed


def test_legacy_manifest_retry_is_noop(spark, vocab, tmp_path):
    """ADVICE r4 (medium): catalogs written by the pre-ledger release carry
    no batch_tokens and record __input__ as the '+'-joined history — a
    crash-retried latest batch against such a base_dir must fall back to
    membership in the split history, not double-fold."""
    import json
    import os

    docs = synth_docs(120)
    base = str(tmp_path / "legacy")
    run_pipeline(
        spark, docs_to_df(spark, docs[:100]), base, vocab=vocab,
        input_token="base",
    )
    run_pipeline_append(
        spark, docs_to_df(spark, docs[100:]), base, vocab=vocab,
        input_token="b1",
    )
    # simulate the legacy on-disk format: strip the explicit ledger
    mp = os.path.join(base, "documents", "manifest.json")
    with open(mp) as f:
        m = json.load(f)
    assert m["inputs"]["__input__"] == "base+b1"
    del m["batch_tokens"]
    with open(mp, "w") as f:
        json.dump(m, f)
    # crash-retry of the already-folded latest batch: must be a no-op
    res = run_pipeline_append(
        spark, docs_to_df(spark, docs[100:]), base, vocab=vocab,
        input_token="b1",
    )
    assert res.executed == []
    assert res.tables["documents"].count() == 120


def test_append_soak_chain_stays_equal_to_fresh(spark, vocab, tmp_path):
    """VERDICT r4 item 8: corpus growth at 100 TB is a LONG chain of small
    folds, not one or two — soak 8 sequential ~2% appends, asserting after
    EVERY fold that the nine tables equal a fresh run over the union, that
    the batch ledger grows monotonically, and recording per-fold wall
    times to catch tail creep."""
    import time as _time

    n_base, n_batch, n_folds = 400, 8, 8
    docs = synth_docs(n_base + n_batch * n_folds)
    base = str(tmp_path / "soak")
    run_pipeline(
        spark, docs_to_df(spark, docs[:n_base]), base, vocab=vocab,
        input_token="base",
    )
    fold_secs = []
    off = n_base
    for k in range(n_folds):
        t0 = _time.perf_counter()
        res = run_pipeline_append(
            spark, docs_to_df(spark, docs[off : off + n_batch]), base,
            vocab=vocab, input_token=f"fold{k}",
        )
        fold_secs.append(round(_time.perf_counter() - t0, 2))
        off += n_batch
        ledger = res.catalog.manifest("documents")["batch_tokens"]
        assert ledger == ["base"] + [f"fold{i}" for i in range(k + 1)]
        fresh = run_pipeline(
            spark, docs_to_df(spark, docs[:off]), str(tmp_path / f"fresh{k}"),
            vocab=vocab, input_token=f"t{off}",
        )
        for name in fresh.tables:
            assert _rows(res.tables[name]) == _rows(fresh.tables[name]), (
                f"fold {k}, table {name}"
            )
    # per-fold wall times recorded for tail-creep inspection; a fold is a
    # fixed amount of work (constant batch + bounded tail), so the LAST
    # fold must not cost multiples of the median — creep means the tail
    # is silently rescanning the whole history
    med = sorted(fold_secs)[len(fold_secs) // 2]
    print(f"soak fold_secs={fold_secs} median={med}")
    assert fold_secs[-1] < max(4 * med, med + 10)


def test_append_requires_completed_run(spark, vocab, tmp_path, split_corpus):
    _, new, _ = split_corpus
    with pytest.raises(ValueError, match="completed prior run"):
        run_pipeline_append(
            spark, docs_to_df(spark, new), str(tmp_path / "empty"),
            vocab=vocab, input_token="b2",
        )


def _text_doc(doc_id: str, text: str) -> dict:
    return {
        "doc_id": doc_id,
        "spans": [{"kind": "text", "text": text, "media_ref": "", "offset": 0}],
    }


def test_append_nondisjoint_doc_ids_falls_back_and_stays_equal(
    spark, vocab, tmp_path, split_corpus
):
    """A batch that REUSES an old doc_id breaks the doc-partitioned-groups
    argument of the incremental edges path (r6): a fresh run MERGES the
    (subj, pred, obj, doc_id) groups across the two same-id docs, a blind
    file-append would keep them split.  The precheck must detect the
    overlap and take the full-recompute fallback ('edges' executed, no
    'edges+append'), whose global groupBy merges them identically to
    fresh.  (Duplicate doc_ids violate the span invariant by construction
    — both runs use check_invariant=False — and per-doc appended tables
    like keyphrases are out of contract for such input; the edge/node/link
    tail is what the fallback guarantees.)"""
    old, new, _ = split_corpus
    reused = [dict(new[0], doc_id=old[5]["doc_id"])] + new[1:3]
    base = str(tmp_path / "nondisj")
    run_pipeline(
        spark, docs_to_df(spark, old), base, vocab=vocab, input_token="t100",
        check_invariant=False,
    )
    res = run_pipeline_append(
        spark, docs_to_df(spark, reused), base, vocab=vocab, input_token="bx",
        check_invariant=False,
    )
    assert "edges" in res.executed
    assert "edges+append" not in res.executed
    fresh = run_pipeline(
        spark, docs_to_df(spark, old + reused), str(tmp_path / "nondisj_f"),
        vocab=vocab, input_token="tf", check_invariant=False,
    )
    for name in ("documents", "mentions", "triples", "linked", "nodes", "edges"):
        assert _rows(res.tables[name]) == _rows(fresh.tables[name]), name


def test_append_canonical_rename_falls_back_and_stays_equal(
    spark, vocab, tmp_path
):
    """A new mention that joins an old component AND becomes its new
    (lexicographically smaller) canonical renames every old edge touching
    the component — the stability check must force the full recompute and
    the appended result must equal a fresh run over the union."""
    old = [
        _text_doc("doc-a0", "中国致公党/ns 中国致公党人/ns"),
        _text_doc("doc-a1", "中国致公党/ns 北京/ns"),
    ]
    new = [_text_doc("doc-b0", "中国致公/ns 北京/ns")]
    base = str(tmp_path / "rename")
    run_pipeline(
        spark, docs_to_df(spark, old), base, vocab=vocab, input_token="tA"
    )
    res = run_pipeline_append(
        spark, docs_to_df(spark, new), base, vocab=vocab, input_token="tB"
    )
    # precondition of the scenario: the canonical actually moved
    linked = {r["mention"]: r["canonical"] for r in res.tables["linked"].collect()}
    assert linked["中国致公党"] == "中国致公"
    assert "edges" in res.executed
    assert "edges+append" not in res.executed
    fresh = run_pipeline(
        spark, docs_to_df(spark, old + new), str(tmp_path / "rename_f"),
        vocab=vocab, input_token="tF",
    )
    for name in fresh.tables:
        assert _rows(res.tables[name]) == _rows(fresh.tables[name]), name
