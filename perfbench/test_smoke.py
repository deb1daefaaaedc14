"""Smoke test of the benchmark itself: every workload at sf0.001 with a
handful of operations, untraced and traced, each in a fresh process.

    python3 -m pytest perfbench/test_smoke.py -q

Asserts that the last line of output is the result object, that every
metric BENCHMARK.json names for the mode is printed with its unit, that
no operation failed (failed_frac = 0) and that no process of the run
outlives it. ``dml_mix``, runnable beside the benchmark's workloads, is
covered too.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
import tracing  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
# Runnable beside the benchmark's workloads (README "Workloads"); its
# traced run adds the write-path metrics to the per-layer ones.
EXTRA = {"dml_mix": [n for n, _ in tracing.DML_ONLY]}


def _left_running(tag: str) -> list[str]:
    """Command lines of processes still running that belong to the run
    tagged ``tag``: its Spark JVMs and the wire server name the run's
    work directory on their command lines."""
    mark = os.path.join(HERE, ".work", tag)
    out = []
    for d in os.listdir("/proc"):
        try:
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        if mark in cmd:
            out.append(cmd)
    return out


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", WORKLOADS + list(EXTRA))
def test_workload_prints_every_metric(workload, trace):
    cmd = [sys.executable, os.path.join(HERE, "run.py"), "--workload", workload,
           "--seed", "7", "--seconds", "60", "--trace", str(trace),
           "--scale", "0.001", "--max-ops", "6"]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    assert not _left_running(f"{workload}-seed7-trace{trace}-")
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["attempted"] >= 1
    detail = json.loads(p.stdout.strip().splitlines()[-2])
    assert result["failed"] == 0, detail["failures"]
    assert detail["failed_frac"] == 0
    wanted = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    for m in wanted:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
    extra = set(EXTRA.get(workload, [])) if trace else set()
    assert set(result["metrics"]) == {m["name"] for m in wanted} | extra


def test_refuses_to_run_without_the_program(tmp_path):
    """A directory holding only BENCHMARK.json and perfbench/ is not a
    checkout of the program: the benchmark exits non-zero, printing no
    result."""
    import shutil

    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "out", "__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0],
         "--seed", "1", "--seconds", "5", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
