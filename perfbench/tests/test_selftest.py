"""Self-test of the benchmark at tiny size (sf0.001 tables, a 500-node
extract, one measured pass). Slow: each case starts Spark.

    python3 -m pytest perfbench/tests -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
RUN = os.path.join(BENCH, "run.py")
with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    SPEC = json.load(_fh)
WORKLOADS = [w["name"] for w in SPEC["workloads"]]
CORRUPT = {"similarity_build": "l2_jaccard_pairs", "wrangle_ingest": "readback"}
# Counts that must repeat exactly across the measured passes. (The cold
# pass fires a few first-time jobs more.)
REPEATING = ("operators.build_jobs", "execute.jobs", "collect.rows")


def _run(workload, trace, cwd, *extra):
    p = subprocess.run(
        [sys.executable, RUN, "--workload", workload, "--seed", "7", "--seconds", "0",
         "--trace", str(trace), "--scale", "tiny", *extra],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    lines = p.stdout.strip().splitlines()
    return lines[-1], json.loads(lines[-2])


def _check_metrics(line, spec_metrics):
    result = json.loads(line)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert [m for m in result["metrics"]] == [m["name"] for m in spec_metrics]
    for m in spec_metrics:
        assert line.count(f'"{m["name"]}"') == 1
        assert result["metrics"][m["name"]]["unit"] == m["unit"]
        assert isinstance(result["metrics"][m["name"]]["value"], (int, float))
    return result


@pytest.mark.parametrize("workload", WORKLOADS)
def test_untraced_run_prints_every_end_to_end_metric(workload, tmp_path):
    # Started from an unrelated cwd: the workers must still import the package.
    line, record = _run(workload, 0, tmp_path)
    result = _check_metrics(line, SPEC["end_to_end"])
    assert result["correct"] and result["failed"] == 0
    assert result["metrics"]["success_frac"]["value"] == 1.0
    assert record["seed"] == 7 and record["machine"]["nproc"] >= 1
    assert len(record["passes"]) == 3  # cold + the minimum two measured


@pytest.mark.parametrize("workload", WORKLOADS)
def test_traced_run_spans_counts_and_corruption(workload, tmp_path):
    line, record = _run(workload, 1, tmp_path, "--corrupt", CORRUPT[workload])
    result = _check_metrics(line, SPEC["per_layer"])
    # The corrupted operation fails its check on every pass.
    assert result["failed"] == len(record["passes"]) and not result["correct"]
    assert record["end_to_end"]["success_frac"] < 1.0

    sys.path.insert(0, BENCH)
    from spans import Span, self_times

    spans = [Span(s["id"], s["name"], s["parent"], s["t0"], s["t1"]) for s in record["spans"]]
    by_id = {s.id: s for s in spans}
    for s in spans:
        assert s.t1 >= s.t0
        if s.parent is not None:
            p = by_id[s.parent]
            assert p.t0 - 1e-3 <= s.t0 and s.t1 <= p.t1 + 1e-3, (s, p)
    assert all(v >= -1e-6 for v in self_times(spans).values())

    measured = record["layers_per_pass"][1:]
    assert len(measured) >= 2
    for name in REPEATING:
        assert len({p[name] for p in measured}) == 1, name


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", WORKLOADS[0], "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
