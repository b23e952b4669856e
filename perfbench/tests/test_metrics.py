"""Metric names: grammar, and every name in BENCHMARK.json is emitted."""

import json
import os

import pytest

import run
import tracing
from measure import NAME_RE, UNIT_RE, result_line

SPEC = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(__file__))), "BENCHMARK.json")


def _spec():
    with open(SPEC, encoding="utf-8") as f:
        return json.load(f)


def test_emitted_names_match_benchmark_json():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == tracing.metric_units()
    assert [w["name"] for w in spec["workloads"]] == ["append", "queries"]


def test_metric_name_grammar():
    names = list(run.END_TO_END) + list(tracing.metric_units())
    assert len(names) == len(set(names))
    for name in names:
        assert NAME_RE.match(name), name
    for name in tracing.metric_units():
        layer, counter = name.rsplit(".", 1) if "." in name else ("", name)
        assert layer, f"per-layer metric {name!r} lacks a <layer>. prefix"
    for unit in set(run.END_TO_END.values()) | set(tracing.metric_units().values()):
        assert UNIT_RE.match(unit), unit


def test_result_line_shape_and_validation():
    line = json.loads(result_line(True, 3, 1, {"op_s": (1.25, "s")}))
    assert set(line) == {"correct", "attempted", "failed", "metrics"}
    assert line["metrics"] == {"op_s": {"value": 1.25, "unit": "s"}}
    with pytest.raises(ValueError):
        result_line(True, 1, 0, {"bad name": (1.0, "s")})
