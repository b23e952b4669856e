"""A corrupted output must count as a failed op, not pass."""

import os

import pytest
import checks
import kg.pipeline as P
from workloads import SF_DIR, Append, Build, Env, Queries, tally


def _build(spark, tmp_path) -> Build:
    wl = Build(Env(spark, str(tmp_path), seed=3, cores=2))
    wl.N_DOCS = 40
    wl.prepare()
    return wl


def _drop_one_mention(monkeypatch):
    real = P.mentions_table
    monkeypatch.setattr(P, "mentions_table", lambda ex: real(ex).exceptAll(real(ex).limit(1)))


def test_dropped_mention_row_fails_the_build_op(spark, tmp_path, monkeypatch):
    wl = _build(spark, tmp_path)
    wl.setup()
    wl.warm_checks()
    wl.ops.append(wl.op_build())
    _drop_one_mention(monkeypatch)
    wl.ops.append(wl.op_build())
    assert [o.ok for o in wl.ops] == [True, False]
    assert tally(wl.ops) == (2, 1)


def test_output_wrong_from_the_start_fails_against_the_oracle(spark, tmp_path, monkeypatch):
    wl = _build(spark, tmp_path)
    _drop_one_mention(monkeypatch)
    wl.setup()
    wl.warm_checks()
    wl.ops.append(wl.op_build())
    assert wl.ops[0].ok  # consistent with the (equally wrong) warm-up build
    wl.finish()
    assert not wl.ops[0].ok and "oracle" in wl.ops[0].note


def test_corrupted_append_fails_against_the_fresh_build(spark, tmp_path, monkeypatch):
    wl = Append(Env(spark, str(tmp_path), seed=3, cores=2))
    wl.N_BASE, wl.BATCH, wl.N_BATCHES = 60, 8, 3
    wl.prepare()
    wl.setup()
    wl.ops.append(wl.op_append())
    # the next append commits an edges table missing one row
    real = P.build_edges
    monkeypatch.setattr(P, "build_edges", lambda *a: real(*a).exceptAll(real(*a).limit(1)))
    wl.ops.append(wl.op_append())
    monkeypatch.undo()
    wl.finish()
    assert [o.ok for o in wl.ops] == [True, False]
    assert "edges" in wl.ops[1].note
    assert all((b["linked"], b["edges"]) == ("recomputed", "recomputed") for b in wl.branches)


@pytest.mark.skipif(not os.path.isdir(SF_DIR), reason="needs the sf0.1 testdata")
def test_changed_query_result_fails_its_check(tmp_path):
    wl = Queries(Env(None, str(tmp_path), seed=1, cores=2))
    frames = checks.oracle_frames(SF_DIR, str(tmp_path))
    frames["range_self_join"] = frames["range_self_join"].iloc[1:]
    wl.results = frames
    wl.finish()
    failed = [o.note.split(":")[0] for o in wl.ops if not o.ok]
    assert failed == ["range_self_join"]
    assert tally(wl.ops) == (10, 1)
