"""The benchmark's own tests: a smoke run of each workload at a tiny input.

    python3 -m pytest perfbench/test_smoke.py -q

Each run starts its own Spark session (about a minute each).
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    SPEC = json.load(f)
ROW = re.compile(r"^(\S+)\s+(\S+)\s+(\S+)\s+(\d+)$")


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600)


@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
@pytest.mark.parametrize("trace", [0, 1])
def test_smoke_prints_every_metric(workload, trace):
    p = _run(ROOT, "--workload", workload, "--seed", "3", "--seconds", "1",
             "--trace", str(trace), "--smoke")
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    last = json.loads(lines[-1])
    assert set(last) == {"correct", "attempted", "failed", "metrics"}
    assert last["correct"] is True and last["failed"] == 0
    assert last["attempted"] >= 1

    spec = SPEC["per_layer" if trace else "end_to_end"]
    assert set(last["metrics"]) == {m["name"] for m in spec}
    table = {m.group(1): m.groups()[1:]
             for m in map(ROW.match, lines[:-1]) if m}
    for m in spec:
        assert last["metrics"][m["name"]]["unit"] == m["unit"]
        value, unit, samples = table[m["name"]]
        assert unit == m["unit"]
        float(value), int(samples)
    assert float(table["fail_frac"][0]) == 0
    if not trace:
        for m in spec:
            assert last["metrics"][m["name"]]["value"] > 0

    sys.path.insert(0, HERE)
    from run import result_path
    with open(result_path(workload, 3, trace)) as f:
        saved = json.load(f)
    assert saved["workload"] == workload and saved["correct"] is True
    for name, m in saved["metrics"].items():
        assert m["unit"] and isinstance(m["samples"], int), name


def test_diff_prints_deltas(tmp_path):
    for name, wall in (("a", 2.0), ("b", 3.0)):
        (tmp_path / name).mkdir()
        (tmp_path / name / "r.json").write_text(json.dumps({
            "workload": "build", "trace": 0,
            "metrics": {"wall_s": {"value": wall, "unit": "s",
                                   "samples": 1}}}))
    p = subprocess.run([sys.executable, os.path.join(HERE, "diff.py"),
                        str(tmp_path / "a"), str(tmp_path / "b")],
                       capture_output=True, text=True, check=True)
    assert "== build · end-to-end" in p.stdout
    assert re.search(r"wall_s\s+s\s+2\s+3\s+\+1\s+\+50\.0%", p.stdout)


def test_fails_without_the_engine(tmp_path):
    """In a directory holding only BENCHMARK.json and the benchmark, the
    run exits non-zero and prints no result."""
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(str(tmp_path), "--workload", "build", "--seed", "1",
             "--seconds", "1", "--trace", "0")
    assert p.returncode != 0
    assert '"metrics"' not in p.stdout
