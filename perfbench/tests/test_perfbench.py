"""The benchmark's own tests. Run from the repository root:

    python -m pytest perfbench/tests -q

Each end-to-end case starts the benchmark as a subprocess on small
inputs (``--scale 0.05``: 750 customers, 7500 orders, 250 documents)
with a one-second window, so the whole file takes a few minutes.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, ROOT)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import workloads as wl  # noqa: E402

WORKLOADS = sorted(wl.WORKLOADS)


def spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def bench(workload: str, seed: int, trace: int) -> dict:
    proc = subprocess.run(
        [sys.executable, os.path.join(BENCH, "run.py"), "--workload", workload,
         "--seed", str(seed), "--seconds", "1", "--trace", str(trace),
         "--scale", "0.05"],
        cwd=ROOT, capture_output=True, text=True, timeout=300)
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


def test_spec_lists_what_the_runner_prints():
    s = spec()
    assert [w["name"] for w in s["workloads"]] == WORKLOADS
    assert {m["name"]: m["unit"] for m in s["end_to_end"]} == run.END_TO_END
    assert ({m["name"]: m["unit"] for m in s["per_layer"]}
            == run.per_layer_units(wl.ALL_OPS))


@pytest.mark.parametrize("workload", WORKLOADS)
def test_emits_every_metric_and_fails_nothing(workload):
    s = spec()
    for trace, key in ((0, "end_to_end"), (1, "per_layer")):
        out = bench(workload, seed=3, trace=trace)
        assert set(out) == {"correct", "attempted", "failed", "metrics"}
        assert out["correct"] and out["failed"] == 0 and out["attempted"] >= 1
        want = {m["name"]: m["unit"] for m in s[key]}
        assert {k: v["unit"] for k, v in out["metrics"].items()} == want
        if key == "end_to_end":
            assert all(v["value"] > 0 for v in out["metrics"].values())


@pytest.mark.parametrize("workload", WORKLOADS)
def test_same_seed_repeats_counters_exactly(workload):
    a = bench(workload, seed=5, trace=1)["metrics"]
    b = bench(workload, seed=5, trace=1)["metrics"]
    counters = [k for k in a if k.endswith((".jobs", ".build_jobs", ".stages",
                                            ".shuffle_records"))]
    assert counters
    assert {k: a[k]["value"] for k in counters} == {k: b[k]["value"] for k in counters}


def cohort_steps(seed: int, n: int) -> list:
    workload = wl.CohortExplore.__new__(wl.CohortExplore)  # no session needed
    gen = workload.steps(np.random.default_rng([seed, 0]))
    return [next(gen) for _ in range(n)]


def test_same_seed_same_op_sequence():
    assert cohort_steps(7, 20) == cohort_steps(7, 20)
    dd = wl.DedupCuration.__new__(wl.DedupCuration)
    dd.arrivals = list(range(0, 1000, 3))
    a = dd.steps(np.random.default_rng([7, 0]))
    b = dd.steps(np.random.default_rng([7, 0]))
    assert [next(a) for _ in range(5)] == [next(b) for _ in range(5)]


def test_other_seed_changes_specs_not_shares():
    block = len(wl.CohortExplore.FOLLOW)
    a, b = cohort_steps(1, 4 * block), cohort_steps(2, 4 * block)
    assert [c for c, _ in a] != [c for c, _ in b]
    for i in range(0, 4 * block, block):
        assert sorted(k for _, k in a[i:i + block]) == sorted(wl.CohortExplore.FOLLOW)
        assert sorted(k for _, k in b[i:i + block]) == sorted(wl.CohortExplore.FOLLOW)
