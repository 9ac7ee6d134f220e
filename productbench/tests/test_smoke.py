"""Smoke tests of the benchmark itself.

Run from the root of a checkout::

    python3 -m pytest productbench/tests -q -p no:cacheprovider

The command-line tests start Spark and take a few minutes.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

import pandas as pd
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
ROOT = os.path.dirname(BENCH)
sys.path.insert(0, BENCH)

import run  # noqa: E402
import scoring  # noqa: E402
import spans  # noqa: E402


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_fold_event_log_on_synthetic_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "minhash"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1, 2],
         "Properties": {"spark.jobGroup.id": "run-123"}},
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Stage IDs": [3], "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task Info": {"Accumulables": [
             {"Name": "data sent to Python workers", "Update": "100"},
             {"Name": "data returned from Python workers", "Update": 40},
             {"Name": "number of output rows", "Update": 7}]},
         "Task Metrics": {"Executor Run Time": 1500, "Executor CPU Time": 500_000_000,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 64},
                          "Memory Bytes Spilled": 8, "Disk Bytes Spilled": 2}},
        # stage 1 is shared by jobs 0 and 1: it belongs to the first job
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 500, "Executor CPU Time": 250_000_000}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 200}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 3, "Task Info": {},
         "Task Metrics": {"Executor Run Time": 300}},
    ]
    path = tmp_path / "log"
    path.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    got = spans.fold_event_log(str(path), aliases={"run-123": "stream.candidates"})
    assert got["minhash"] == {
        "exec_run_s": 2.0,
        "exec_cpu_s": 0.75,
        "python_bytes": 140.0,
        "shuffle_bytes": 64.0,
        "spill_bytes": 10.0,
    }
    assert got["stream.candidates"]["exec_run_s"] == pytest.approx(0.2)
    assert got["ungrouped"]["exec_run_s"] == pytest.approx(0.3)


def test_self_times_subtract_children():
    spans_ = [
        {"name": "a", "parent": "root", "start": 1.0, "end": 3.0},
        {"name": "b", "parent": "root", "start": 3.0, "end": 6.0},
        {"name": "root", "parent": None, "start": 0.0, "end": 7.0},
    ]
    got = spans.self_times(spans_)
    assert got == pytest.approx({"a": 2.0, "b": 3.0, "root": 2.0})


def test_pair_scores_on_toy_truth():
    # truth: {1,2,3} and {4,5}; doc 6 unplanted
    truth = pd.Series({1: "x", 2: "x", 3: "x", 4: "y", 5: "y"})
    # predicted: {1,2}, {3}, {4,5,6}
    pred = pd.Series({1: 1, 2: 1, 3: 3, 4: 4, 5: 4, 6: 4})
    got = scoring.pair_scores(pred, truth)
    assert got["truth_pairs"] == 4 and got["pred_pairs"] == 4
    assert got["recall"] == pytest.approx(2 / 4)  # (1,2) and (4,5) found
    assert got["precision"] == pytest.approx(2 / 4)  # (4,6) and (5,6) are wrong


def test_partition_diff_and_components():
    ref = scoring.components([(1, 2), (3, 4)], [1, 2, 3, 4, 5])
    assert ref.to_dict() == {1: 1, 2: 1, 3: 3, 4: 3, 5: 5}
    same = scoring.partition_diff(ref.copy(), ref)
    assert same == {"mismatch_docs": 0, "split_docs": 0}
    merged = scoring.components([(1, 2), (3, 4), (2, 5)], [1, 2, 3, 4, 5])
    assert scoring.partition_diff(merged, ref) == {"mismatch_docs": 3, "split_docs": 0}
    split = scoring.components([(3, 4)], [1, 2, 3, 4, 5])
    assert scoring.partition_diff(split, ref) == {"mismatch_docs": 2, "split_docs": 2}


def test_benchmark_json_matches_harness_metrics():
    spec = _spec()
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == run.per_layer_units()
    assert spec["paths"] == ["productbench"]
    import workloads

    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)


def test_refuses_to_run_without_the_engine(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(BENCH, tmp_path / "productbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    spec = _spec()
    proc = subprocess.run(
        spec["command"] + ["--workload", spec["workloads"][0]["name"], "--seed", "1",
                           "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert proc.returncode != 0
    assert '"correct"' not in proc.stdout


@pytest.mark.parametrize("trace", [0, 1])
@pytest.mark.parametrize("workload", [w["name"] for w in _spec()["workloads"]])
def test_workload_runs_at_tiny_size(workload, trace):
    spec = _spec()
    proc = subprocess.run(
        spec["command"] + ["--workload", workload, "--seed", "7", "--seconds", "1",
                           "--trace", str(trace), "--size", "tiny"],
        cwd=ROOT, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] is True and result["failed"] == 0 and result["attempted"] >= 1
    wanted = spec["per_layer"] if trace else spec["end_to_end"]
    assert {k: v["unit"] for k, v in result["metrics"].items()} == {
        m["name"]: m["unit"] for m in wanted
    }
    if not trace:
        assert all(v["value"] > 0 for v in result["metrics"].values())
