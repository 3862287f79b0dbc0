"""Smoke tests of the benchmark itself (not part of the package suite).

Run from the repository root:  python -m pytest perfbench/test_smoke.py -q

Each workload runs once at ``--small`` scale (a few hundred locations and
one refresh per pass, or a few hundred events in two chunks) and must print
every end-to-end metric of BENCHMARK.json with its unit; a traced run must
report every per-layer metric.
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
sys.path.insert(0, HERE)

from measure import tail  # noqa: E402
from digest import digest  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)


def _run(cwd: str, workload: str, trace: int = 0, small: bool = True):
    cmd = [*SPEC["command"], "--workload", workload, "--seed", "7", "--seconds", "1",
           "--trace", str(trace)]
    if small:
        cmd.append("--small")
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=170)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_every_end_to_end_metric_prints_with_its_unit(workload):
    proc = _run(ROOT, workload)
    assert proc.returncode == 0, proc.stderr[-2000:]
    lines = proc.stdout.strip().splitlines()
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    for m in SPEC["end_to_end"]:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert got["value"] > 0
        assert any(ln.split()[:1] == [m["name"]] and m["unit"] in ln for ln in lines[:-1])
    assert set(result["metrics"]) == {m["name"] for m in SPEC["end_to_end"]}
    for name in ("wall_s", "op_p50_s", "op_tail_s", "peak_rss_mb", "fail_ratio"):  # not gated
        assert any(ln.split()[:1] == [name] for ln in lines[:-1])


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_traced_run_reports_every_per_layer_metric(workload):
    proc = _run(ROOT, workload, trace=1)
    assert proc.returncode == 0, proc.stderr[-2000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0
    assert set(result["metrics"]) == {m["name"] for m in SPEC["per_layer"]}
    for m in SPEC["per_layer"]:
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
    assert result["metrics"]["trace.wall_s"]["value"] > 0


def test_without_the_package_the_run_fails_before_printing(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), SPEC["workloads"][0]["name"])
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_tail_is_highest_percentile_with_ten_samples_beyond():
    xs = [float(i) for i in range(1, 101)]
    assert tail(xs) == (90.0, 90.0, 10)
    assert tail(xs[:40]) == (30.0, 75.0, 10)
    assert tail([3.0, 1.0, 2.0]) == (3.0, 100.0, 0)


def test_digest_ignores_row_and_column_order():
    a = digest(["x", "y"], [(1, 2.5), (None, float("nan"))])
    b = digest(["y", "x"], [(float("nan"), None), (2.5, 1)])
    assert a == b and a[0] == 2
    assert digest(["x"], [(1,)]) != digest(["x"], [(1.0,)])
