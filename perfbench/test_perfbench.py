"""The benchmark's own tests: a smoke run of every workload at the small
scale, the negative controls, and the refusal to run without the package.

    python3 -m pytest perfbench/test_perfbench.py -q

Each case starts ``run.py`` as a subprocess from the repository root, the
way the benchmark is run, so each takes the time of one Spark start-up
plus a few operations.
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)


def _run(*args: str, cwd: str = ROOT, trace: int = 0) -> tuple[int, dict | None]:
    cmd = [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1",
           "--trace", str(trace), "--scale", "smoke", *args]
    proc = subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=300)
    lines = proc.stdout.strip().splitlines()
    try:
        return proc.returncode, json.loads(lines[-1])
    except (IndexError, json.JSONDecodeError):
        return proc.returncode, None


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_end_to_end(workload):
    code, out = _run("--workload", workload)
    assert code == 0 and out is not None
    assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 3
    assert set(out["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for m in SPEC["end_to_end"]:
        assert out["metrics"][m["name"]] == {
            "value": out["metrics"][m["name"]]["value"], "unit": m["unit"]}
        assert out["metrics"][m["name"]]["value"] > 0


def test_smoke_traced_collector_reports_every_layer():
    code, out = _run("--workload", "collector_tick", trace=1)
    assert code == 0 and out is not None and out["correct"]
    units = {m["name"]: m["unit"] for m in SPEC["per_layer"]}
    assert {k: v["unit"] for k, v in out["metrics"].items()} == units
    m = {k: v["value"] for k, v in out["metrics"].items()}
    assert m["sources.jdbc.failed_reads"] >= 1  # a target seeded as down
    assert m["sinks.remote_write.samples"] > 0 and m["sinks.parquet.files"] > 0
    assert m["error_rate"] == 0


def test_perturbed_oracle_hash_fails_every_gate_op():
    code, out = _run("--workload", "gates_shuffle", "--perturb-oracle")
    assert code == 0 and out is not None
    assert not out["correct"] and out["failed"] == out["attempted"]


def test_dropped_post_fails_the_tick():
    code, out = _run("--workload", "collector_tick", "--drop-posts", "1")
    assert code == 0 and out is not None
    assert not out["correct"] and out["failed"] >= 1


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "__pycache__"))
    code, out = _run("--workload", "gates_iterative", cwd=str(tmp_path))
    assert code != 0 and out is None
