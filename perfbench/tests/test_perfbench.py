"""The benchmark's own tests: emitted metrics, failure accounting, seed
behaviour and the refusal to run without the package. The smoke runs use
the sf0.001 fixture and take a few minutes in all.

    python3 -m pytest perfbench/tests -q
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
SMOKE_SF = "/root/testdata/sf0.001"
sys.path.insert(0, BENCH)

from common import Checks, Tracer, rows_close, tail_percentile  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
    DECLARED = json.load(f)

_runs: dict = {}


def run_bench(workload: str, seed: int = 1, trace: int = 0, *extra: str,
              cwd: str = ROOT) -> tuple[subprocess.CompletedProcess, dict | None]:
    """Run the benchmark once (cached per argument set) and return the
    process and the run record it wrote."""
    key = (workload, seed, trace, extra, cwd)
    if key not in _runs:
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", workload,
             "--seed", str(seed), "--seconds", "0.5", "--trace", str(trace),
             "--sf-dir", SMOKE_SF, *extra],
            cwd=cwd, capture_output=True, text=True, timeout=600)
        rec_path = os.path.join(cwd, "perfbench", "results",
                                f"{workload}-s{seed}-t{trace}.json")
        record = None
        if proc.returncode == 0:
            with open(rec_path) as f:
                record = json.load(f)
        _runs[key] = (proc, record)
    return _runs[key]


def result(proc) -> dict:
    assert proc.returncode == 0, proc.stderr[-3000:]
    return json.loads(proc.stdout.strip().splitlines()[-1])


needs_fixture = pytest.mark.skipif(not os.path.isdir(SMOKE_SF),
                                   reason="sf0.001 fixture not present")


@needs_fixture
@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in DECLARED["workloads"]])
def test_smoke_emits_every_declared_metric(workload, trace):
    out = result(run_bench(workload, 1, trace)[0])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0
    assert out["attempted"] >= 1
    declared = DECLARED["per_layer" if trace else "end_to_end"]
    assert set(out["metrics"]) == {m["name"] for m in declared}
    for m in declared:
        got = out["metrics"][m["name"]]
        assert got["unit"] == m["unit"]
        assert isinstance(got["value"], float)
    if not trace:
        assert all(v["value"] > 0 for v in out["metrics"].values())


@needs_fixture
def test_corrupted_expected_hash_is_counted_not_raised():
    proc, record = run_bench("llm_corpus", 1, 0, "--corrupt", "text_bm25_topk")
    out = result(proc)
    assert out["correct"] is False and out["failed"] == 1
    assert record["failures"] == ["verify text_bm25_topk"]
    clean = result(run_bench("llm_corpus", 1, 0)[0])
    # counted once, nothing retried: the same operations were attempted
    assert out["attempted"] == clean["attempted"]


@needs_fixture
def test_seed_changes_order_not_verified_outputs():
    # seeds 1 and 5 order the two-query core mix differently
    _, one = run_bench("llm_corpus", 1, 0)
    _, two = run_bench("llm_corpus", 5, 0)
    assert one["detail"]["orders"][0] != two["detail"]["orders"][0]
    assert one["detail"]["hashes"] == two["detail"]["hashes"]
    assert set(one["detail"]["hashes"]) == set(one["detail"]["orders"][0])


def test_refuses_to_run_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns(".work", "results",
                                                  "__pycache__"))
    proc = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "llm_corpus",
         "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=180)
    assert proc.returncode != 0
    assert proc.stdout.strip() == ""


def test_guard_counts_an_exception_and_continues():
    checks = Checks()
    with checks.guard("boom"):
        raise RuntimeError("injected")
    with checks.guard("fine"):
        pass
    checks.record(False, "wrong output")
    assert (checks.attempted, checks.failed) == (3, 2)
    assert checks.failures == ["boom", "wrong output"]


def test_tail_percentile_keeps_ten_samples_beyond():
    assert tail_percentile(9) is None
    assert tail_percentile(20) == 50
    assert tail_percentile(40) == 75
    assert tail_percentile(100) == 90
    assert tail_percentile(1000) == 99


def test_self_time_subtracts_covered_child_time():
    tr = Tracer(True, "t")
    tr.spans = [
        {"id": 0, "name": "a", "parent": None, "start": 0.0, "end": 10.0},
        {"id": 1, "name": "b", "parent": 0, "start": 1.0, "end": 4.0},
        {"id": 2, "name": "c", "parent": 0, "start": 3.0, "end": 6.0},
    ]
    assert tr.self_times() == {0: 5.0, 1: 3.0, 2: 3.0}


def test_rows_close_tolerates_only_rounding():
    assert rows_close([("1", "0.333333")], [("1", "0.3333333")])
    assert not rows_close([("1", "0.3333")], [("1", "0.3334")])
    assert not rows_close([("a",)], [("b",)])
