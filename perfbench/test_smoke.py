"""Tiny-size smoke test of the benchmark itself.

    python3 -m pytest perfbench/test_smoke.py -q

Each case runs ``perfbench/run.py`` as a subprocess on a 200-doc corpus
(about a minute each: Spark start-up dominates).
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def run_bench(workload, trace=0, *extra):
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload,
           "--seed", "3", "--seconds", "1", "--trace", str(trace),
           "--docs", "200", *extra]
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert p.returncode == 0, p.stderr[-3000:]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    res["stderr"] = p.stderr
    return res


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        return json.load(fh)


@pytest.mark.parametrize("workload", [w["name"] for w in spec()["workloads"]])
def test_every_metric_printed_and_no_errors(workload):
    res = run_bench(workload)
    assert set(res) == {"correct", "attempted", "failed", "metrics", "stderr"}
    assert res["failed"] == 0 and res["attempted"] > 0, res["stderr"][-3000:]
    assert res["correct"] is True
    want = {m["name"]: m["unit"] for m in spec()["end_to_end"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert all(v["value"] > 0 for v in res["metrics"].values())


def test_traced_run_prints_every_layer_metric():
    res = run_bench("head", 1)
    want = {m["name"]: m["unit"] for m in spec()["per_layer"]}
    assert {k: v["unit"] for k, v in res["metrics"].items()} == want
    assert res["failed"] == 0, res["stderr"][-3000:]


def test_wrong_answer_counts_as_failure():
    res = run_bench("head", 0, "--corrupt", "bm25")
    assert res["correct"] is False
    assert res["failed"] == 1
