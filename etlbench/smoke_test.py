"""Smoke test of the benchmark itself, at tiny scale.

    python3 -m pytest etlbench/smoke_test.py -q      (from the repository root)

Each case starts ``run.py`` in a subprocess with a 150-model catalog:

- every workload, untraced, prints every end-to-end metric named in
  BENCHMARK.json with its unit, and passes its output checks;
- every workload, traced, prints every per-layer metric with its unit,
  and the layer wall times plus ``refresh.unattributed_s`` add up to the
  traced refresh wall time;
- a run that expects one malformed landing line too many fails its
  quarantine check, reports it, and exits nonzero;
- a directory holding only BENCHMARK.json and the benchmark's files
  (no program) makes the command exit nonzero without a result line.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)
CONTEXT_KEYS = {
    "git_sha", "git_dirty", "source_digest", "nproc", "default_parallelism", "master",
    "loadavg_start", "loadavg_end", "steal_pct", "bench_utime_s", "bench_stime_s",
}


def _run(cwd: str, *args: str):
    proc = subprocess.run(
        [sys.executable, os.path.join("etlbench", "run.py"), "--seed", "5", "--seconds", "1", *args],
        cwd=cwd,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1]) if lines and lines[-1].startswith("{") else None
    context = json.loads(lines[-2])["context"] if len(lines) > 1 else None
    return proc.returncode, result, context


def _check_metrics(result: dict, spec: list[dict]) -> None:
    assert set(result["metrics"]) == {m["name"] for m in spec}
    for m in spec:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"], m["name"]
        assert isinstance(got["value"], (int, float)), m["name"]


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_untraced_run_emits_every_end_to_end_metric(workload):
    rc, result, context = _run(ROOT, "--workload", workload, "--trace", "0", "--tiny")
    assert rc == 0
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 2
    _check_metrics(result, SPEC["end_to_end"])
    assert CONTEXT_KEYS <= set(context)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_emits_every_per_layer_metric(workload):
    rc, result, context = _run(ROOT, "--workload", workload, "--trace", "1", "--tiny")
    assert rc == 0 and result["correct"]
    _check_metrics(result, SPEC["per_layer"])
    m = {k: v["value"] for k, v in result["metrics"].items()}
    with open(os.path.join(ROOT, context["spans"])) as f:
        dump = json.load(f)
    traced_walls = [r["wall_s"] for r in dump["refreshes"] if r["traced"]]
    layers = ("sources", "melt", "versioned_store", "search", "graph")
    attributed = sum(m[f"{la}.wall_s"] for la in layers) + m["refresh.unattributed_s"]
    assert attributed == pytest.approx(statistics.median(traced_walls), abs=1e-9)
    assert m["versioned_store.jobs"] > 0 and m["api.counts.jobs"] > 0
    assert {s["name"] for s in dump["spans"]} >= {"refresh", *layers, "api.lookup"}


def test_wrong_expectation_fails_the_output_check():
    rc, result, _ = _run(ROOT, "--workload", "etl_refresh", "--trace", "0", "--tiny", "--wrong-expectation")
    assert rc == 1
    assert result["correct"] is False and result["failed"] >= 1
    assert result["metrics"]["ok_ratio"]["value"] < 1.0


def test_without_the_program_exits_nonzero_and_prints_no_result(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "etlbench", ignore=shutil.ignore_patterns("__pycache__"))
    rc, result, _ = _run(str(tmp_path), "--workload", "etl_refresh", "--trace", "0")
    assert rc != 0 and result is None
