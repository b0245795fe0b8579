"""Smoke tests of the benchmark itself (``python3 -m pytest perfbench -q``).

Each test runs ``perfbench/run.py --smoke``: a 120-doc input at a small
geometry, so every run, JVM start included, takes well under a minute.
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("tput", "ratio", "store-resume")


def _run(cwd, *extra):
    return subprocess.run(
        [sys.executable, "perfbench/run.py", "--seed", "3", "--seconds", "1", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _result(proc):
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def _spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS)
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    res = _result(_run(ROOT, "--smoke", "--workload", workload, "--trace", str(trace)))
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert res["correct"] is True and res["failed"] == 0 and res["attempted"] >= 1
    want = {m["name"]: m["unit"] for m in _spec()["per_layer" if trace else "end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(isinstance(v["value"], (int, float)) for v in res["metrics"].values())
    if trace:
        assert res["metrics"]["lineage.hit_ratio"]["value"] == 1.0
        assert res["metrics"]["engine.accounted_frac"]["value"] == pytest.approx(1.0)
    else:
        assert all(v["value"] > 0 for v in res["metrics"].values())


@pytest.mark.parametrize("workload", ["tput", "store-resume"])
def test_flipped_payload_byte_counts_as_failed(workload):
    res = _result(_run(ROOT, "--smoke", "--corrupt", "--workload", workload, "--trace", "0"))
    assert res["correct"] is False
    assert 0 < res["failed"] < res["attempted"]


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(
        os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
        ignore=shutil.ignore_patterns("__pycache__"),
    )
    proc = _run(tmp_path, "--workload", "tput", "--trace", "0")
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout
