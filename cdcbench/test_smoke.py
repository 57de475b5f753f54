"""Toy-size smoke test of the benchmark harness.

    python3 -m pytest cdcbench/test_smoke.py -q

Runs every workload at a small fraction of its size (about half a minute
each): once untraced, where every end-to-end metric must print with the unit
BENCHMARK.json declares and every gate must pass, and once traced with a
corrupted warehouse, where every per-layer metric must print with its unit
and a correctness gate must fail.  Also checks that the benchmark refuses to
run, without printing a result, where the engine's source is missing.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("backfill", "serve_mixed")


def declared(kind: str) -> dict[str, str]:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return {m["name"]: m["unit"] for m in json.load(fh)[kind]}


def bench(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "cdcbench/run.py", "--seed", "7", "--seconds", "1", *args],
        cwd=cwd, capture_output=True, text=True, timeout=300,
    )


def result(proc: subprocess.CompletedProcess) -> dict:
    lines = proc.stdout.strip().splitlines()
    assert lines, proc.stderr[-3000:]
    return json.loads(lines[-1])


def assert_metrics(res: dict, kind: str) -> None:
    want = declared(kind)
    assert set(res["metrics"]) == set(want)
    for name, unit in want.items():
        m = res["metrics"][name]
        assert m["unit"] == unit, name
        assert isinstance(m["value"], float), name


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_e2e_metric_and_passes(workload):
    proc = bench(ROOT, "--workload", workload, "--trace", "0", "--scale", "0.05")
    res = result(proc)
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    assert_metrics(res, "end_to_end")
    assert all(res["metrics"][k]["value"] > 0 for k in res["metrics"])


@pytest.mark.parametrize("workload", WORKLOADS)
def test_corrupted_warehouse_trips_a_gate(workload):
    proc = bench(ROOT, "--workload", workload, "--trace", "1", "--scale", "0.05",
                 "--corrupt")
    res = result(proc)
    assert proc.returncode == 1
    assert res["correct"] is False and res["failed"] >= 1
    assert_metrics(res, "per_layer")
    assert res["metrics"]["trace.spans"]["value"] > 0


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "cdcbench",
                    ignore=shutil.ignore_patterns("__pycache__", "out"))
    proc = bench(str(tmp_path), "--workload", "backfill", "--trace", "0")
    assert proc.returncode != 0
    assert not any(line.startswith("{") for line in proc.stdout.splitlines())
