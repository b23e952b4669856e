from __future__ import annotations

import pytest

from kg.session import get_spark
from kg.synth import corpus_vocab, load_reference_sentences


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="kg-tests", master="local[4]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sentences():
    return load_reference_sentences()


@pytest.fixture(scope="session")
def vocab(sentences):
    return corpus_vocab(sentences)


@pytest.fixture
def at_both_widths(monkeypatch):
    """``at_both_widths(scenario)`` runs ``scenario(workers)`` with the stage
    scheduler at serial (SPARK_KG_STAGE_WORKERS=0) and at forced 4-way width
    (a box with fewer than 8 task slots otherwise always runs serially), and
    asserts that both runs return the same observation."""

    def run(scenario):
        seen = {}
        for workers in ("0", "4"):
            monkeypatch.setenv("SPARK_KG_STAGE_WORKERS", workers)
            seen[workers] = scenario(workers)
        assert seen["0"] == seen["4"]

    return run
