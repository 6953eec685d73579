"""Self-tests for the benchmark at tiny input size.

    python3 -m pytest perfbench -q -p no:cacheprovider

Each test starts a fresh benchmark process (about a minute each): every
metric named in BENCHMARK.json is printed with its unit, a deliberately
corrupted result fails its check, and a directory without the engine
sources exits non-zero without printing a result.
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
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(*extra: str, trace: int = 0, cwd: str = ROOT, script: str = os.path.join(HERE, "run.py")):
    proc = subprocess.run(
        [sys.executable, script, "--workload", SPEC["workloads"][0]["name"], "--seed", "3",
         "--seconds", "1", "--trace", str(trace), *extra],
        cwd=cwd, capture_output=True, text=True, timeout=900,
    )
    lines = proc.stdout.strip().splitlines()
    return proc.returncode, (json.loads(lines[-1]) if lines else None)


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_every_metric_is_reported_with_its_unit(trace, section):
    rc, res = _run("--size", "tiny", trace=trace)
    assert rc == 0, res
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in SPEC[section]}
    got = {name: m["unit"] for name, m in res["metrics"].items()}
    assert got == want
    for name, m in res["metrics"].items():
        assert isinstance(m["value"], (int, float)), name
    if section == "end_to_end":
        assert all(m["value"] > 0 for m in res["metrics"].values())


@pytest.mark.parametrize("phase", ["lake", "churn"])
def test_corrupted_result_fails_its_check(phase):
    rc, res = _run("--size", "tiny", "--corrupt", phase)
    assert rc != 0
    assert res["correct"] is False and res["failed"] >= 1


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    rc, res = _run(cwd=str(tmp_path), script=str(tmp_path / "perfbench" / "run.py"))
    assert rc != 0 and res is None
