"""Self-test of the benchmark: every metric BENCHMARK.json names is
printed with its unit on tiny inputs, and the command fails cleanly
where the program is missing.

    python3 -m pytest perfbench/test_perfbench.py -q    # a few minutes
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

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    SPEC = json.load(_f)


def _run(cwd: str, workload: str, trace: int) -> subprocess.CompletedProcess:
    return subprocess.run(
        [*SPEC["command"], "--workload", workload, "--seed", "7", "--seconds", "1",
         "--trace", str(trace), "--smoke"],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in SPEC["workloads"]])
def test_smoke_prints_every_metric_with_its_unit(workload, trace):
    proc = _run(ROOT, workload, trace)
    assert proc.returncode == 0, proc.stderr[-3000:]
    lines = proc.stdout.strip().split("\n")
    result = json.loads(lines[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0, proc.stderr[-3000:]
    assert result["attempted"] >= 1
    want = SPEC["per_layer"] if trace else SPEC["end_to_end"]
    assert set(result["metrics"]) == {m["name"] for m in want}
    for m in want:
        got = result["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], (int, float))
        # the human-readable lines carry the same name and unit
        assert any(l.split()[:1] == [m["name"]] and l.split()[-1] == m["unit"] for l in lines)
    stamp = lines[-2 - len(want)]
    for key in ("nproc=", "master=", "shuffle_partitions=", "pyspark=", "java=", "sf=0.001", "seed=7"):
        assert key in stamp
    assert "fail_ratio=0.0000" in stamp


def test_fails_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    for p in SPEC["paths"]:
        shutil.copytree(os.path.join(ROOT, p), tmp_path / p,
                        ignore=shutil.ignore_patterns("__pycache__"))
    proc = _run(str(tmp_path), SPEC["workloads"][0]["name"], 0)
    assert proc.returncode != 0
    assert '"metrics"' not in proc.stdout


def test_plan_digest_reads_the_final_adaptive_plan():
    from probe import plan_digest

    desc = """== Physical Plan ==
AdaptiveSparkPlan (9)
+- == Final Plan ==
   ResultQueryStage (5), Statistics(sizeInBytes=8.0 EiB)
   +- * BroadcastHashJoin Inner BuildRight (4)
      :- ShuffleQueryStage (2), Statistics(sizeInBytes=1.0 KiB)
      :  +- Exchange (1)
      +- InMemoryTableScan (3)
+- == Initial Plan ==
   SortMergeJoin (8)
   :- Exchange (6)
   +- Exchange (7)

(1) Exchange
Input [1]: [a#1]

(9) AdaptiveSparkPlan
Arguments: isFinalPlan=true
"""
    assert plan_digest(desc) == {
        "plan.exchanges": 1,
        "plan.broadcast_joins": 1,
        "plan.sort_merge_joins": 0,
        "plan.cached_scans": 1,
        "plan.python_evals": 0,
        "plan.aqe_final": 1,
    }
