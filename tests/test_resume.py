"""Resume semantics (north_rule): killed job resumes at stage granularity,
stages with unchanged inputs are NOT recomputed, final tables identical."""

import os
import shutil

from kg.pipeline import run_pipeline
from kg.synth import docs_to_df, synth_docs

ALL_STAGES = [
    "documents",
    "extract",
    "mentions",
    "triples",
    "linked",
    "nodes",
    "edges",
    "keyphrases",
    "documents_out",
]


def _table_rows(df):
    return sorted(map(str, df.collect()))


def _main_stages(executed):
    """Drop the CC-internal durable rounds (linked_cc_iter*/linked_cc_final)
    that the linked stage commits through the same catalog."""
    return [s for s in executed if not s.startswith("linked_cc")]


def test_resume_skips_completed_and_recomputes_suffix(
    spark, vocab, tmp_path, at_both_widths
):
    docs = docs_to_df(spark, synth_docs(30))

    def scenario(workers):
        base = str(tmp_path / f"run{workers}")
        res1 = run_pipeline(spark, docs, base, vocab=vocab)
        assert _main_stages(res1.executed) == ALL_STAGES
        golden = {n: _table_rows(res1.tables[n]) for n in ("mentions", "nodes", "edges")}

        # clean rerun: everything skipped, outputs identical
        res2 = run_pipeline(spark, docs, base, vocab=vocab)
        assert res2.executed == []
        for n, rows in golden.items():
            assert _table_rows(res2.tables[n]) == rows

        # simulate a kill after 'mentions': wipe 'linked' and downstream manifests
        for stage in ("linked", "nodes", "edges"):
            shutil.rmtree(os.path.join(base, stage))
        res3 = run_pipeline(spark, docs, base, vocab=vocab)
        assert _main_stages(res3.executed) == ["linked", "nodes", "edges"]  # prefix untouched
        for n, rows in golden.items():
            assert _table_rows(res3.tables[n]) == rows
        executed = [res1.executed, res2.executed, res3.executed]
        return executed, {n: _table_rows(res3.tables[n]) for n in ALL_STAGES}

    at_both_widths(scenario)


def test_input_change_invalidates_downstream(spark, vocab, tmp_path):
    base = str(tmp_path / "run2")
    run_pipeline(spark, docs_to_df(spark, synth_docs(20)), base, vocab=vocab)
    # new input: documents checkpoint is rewritten -> full recompute
    res = run_pipeline(spark, docs_to_df(spark, synth_docs(25)), base, vocab=vocab)
    assert _main_stages(res.executed) == ALL_STAGES


def test_uncommitted_stage_is_recomputed(spark, vocab, tmp_path):
    base = str(tmp_path / "run3")
    res1 = run_pipeline(spark, docs_to_df(spark, synth_docs(20)), base, vocab=vocab)
    golden = _table_rows(res1.tables["triples"])
    # corrupt a manifest mid-DAG (simulates kill between data write and commit)
    os.remove(os.path.join(base, "triples", "manifest.json"))
    res2 = run_pipeline(spark, docs_to_df(spark, synth_docs(20)), base, vocab=vocab)
    assert "triples" in res2.executed
    assert "extract" not in res2.executed
    assert _table_rows(res2.tables["triples"]) == golden
