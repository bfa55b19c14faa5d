"""BENCHMARK.json names what run.py measures."""

import json
import os

import run


def _spec():
    with open(os.path.join(run.ROOT, "BENCHMARK.json"), encoding="utf-8") as fh:
        return json.load(fh)


def test_metrics_and_units_match():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.E2E_METRICS
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.LAYER_METRICS


def test_workloads_are_runnable():
    assert {w["name"] for w in _spec()["workloads"]} <= set(run.WORKLOADS)


def test_missing_program_fails_without_a_result(tmp_path, capsys, monkeypatch):
    monkeypatch.setattr(run, "ROOT", str(tmp_path))
    assert run.main(["--workload", "http_pixel", "--seconds", "1"]) != 0
    assert capsys.readouterr().out == ""
