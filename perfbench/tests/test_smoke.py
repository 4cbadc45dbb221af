"""Smoke test of the benchmark at tiny sizes.

Run from the repository root:

    python3 -m pytest perfbench/tests -q

Each Spark-backed case starts its own session and takes one to two
minutes; the others need no Spark.
"""

from __future__ import annotations

import hashlib
import json
import os
import shutil
import subprocess
import sys

import pytest

from perfbench import gen
from perfbench.run import END_TO_END, per_layer_spec
from perfbench.trace import fold_event_log

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _bench(*args: str, cwd: str = ROOT) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(ROOT, "perfbench", "run.py"), *args],
        cwd=cwd, capture_output=True, text=True, timeout=600,
    )


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def test_spec_matches_emitted_names():
    spec = _spec()
    assert [m["name"] for m in spec["end_to_end"]] == [n for n, _ in END_TO_END]
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == [
        (n, u) for n, u, _ in per_layer_spec()]


def _digest(paths: dict) -> str:
    h = hashlib.sha256()
    for k in sorted(paths):
        with open(paths[k], "rb") as f:
            h.update(f.read())
    return h.hexdigest()


def test_inputs_are_a_function_of_the_seed(tmp_path):
    a = gen.near_dup(str(tmp_path / "a"), 3, n_docs=100, n_vecs=80)
    b = gen.near_dup(str(tmp_path / "b"), 3, n_docs=100, n_vecs=80)
    c = gen.near_dup(str(tmp_path / "c"), 4, n_docs=100, n_vecs=80)
    assert _digest(a) == _digest(b) != _digest(c)
    x = gen.er_fuzzy(str(tmp_path / "x"), 3, n_docs=40)
    y = gen.er_fuzzy(str(tmp_path / "y"), 3, n_docs=40)
    assert _digest(x) == _digest(y)


@pytest.mark.parametrize("workload,trace", [("er_fuzzy_snapshot", 1), ("near_dup", 0)])
def test_tiny_run_prints_every_metric(workload, trace):
    p = _bench("--workload", workload, "--seed", "5", "--seconds", "1",
               "--trace", str(trace), "--tiny")
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    assert result["correct"] and result["failed"] == 0 and result["attempted"] >= 1
    want = _spec()["per_layer" if trace else "end_to_end"]
    assert {m["name"]: m["unit"] for m in want} == {
        k: v["unit"] for k, v in result["metrics"].items()}
    assert all(isinstance(v["value"], (int, float)) for v in result["metrics"].values())


def test_fails_without_the_engine(tmp_path):
    shutil.copytree(os.path.join(ROOT, "perfbench"), tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "near_dup", "--seed", "1",
         "--seconds", "1", "--trace", "0"],
        cwd=tmp_path, capture_output=True, text=True, timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""


def _node(name, acc, *children, text=""):
    return {"nodeName": name, "simpleString": text or name,
            "metrics": [{"accumulatorId": acc}], "children": list(children)}


def _events():
    """A synthetic event log: a candidates commit with the exact channel
    cached inside the LSH channel's cached sub-plan, its row-count job, and
    a near_dup_clusters call whose last execution reads a checkpoint."""
    exact = _node("InMemoryTableScan", 4, _node("BroadcastHashJoin", 5))
    lsh = _node("InMemoryTableScan", 2, _node("Project", 3, exact, text="Project [band_hash]"))
    plans = {
        1: ("Dataset.write", _node("Execute InsertIntoHadoopFsRelationCommand", 1, lsh)),
        2: ("Dataset.collectToPython", _node("HashAggregate", 6)),
        3: ("Dataset.localCheckpoint", _node("MapInPandas", 7)),
        4: ("Dataset.count(Dataset.scala:1)", _node("Scan ExistingRDD", 8)),
    }
    jobs = {1: ("blocking|commit", 1, [1, 2, 3]), 2: ("blocking|commit", 2, [4]),
            3: ("dedup", 3, [5]), 4: ("dedup", 4, [6])}
    stage_accs = {1: [5], 2: [3, 4], 3: [1, 2], 4: [6], 5: [7], 6: [8]}
    ev = [{"Event": "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart",
           "executionId": e, "details": d, "sparkPlanInfo": plan}
          for e, (d, plan) in plans.items()]
    for jid, (group, eid, stages) in jobs.items():
        ev.append({"Event": "SparkListenerJobStart", "Job ID": jid, "Stage IDs": stages,
                   "Properties": {"spark.jobGroup.id": group,
                                  "spark.sql.execution.id": str(eid)}})
    for sid, accs in stage_accs.items():
        ev.append({"Event": "SparkListenerTaskEnd", "Stage ID": sid,
                   "Task Info": {"Launch Time": 0, "Finish Time": 10,
                                 "Accumulables": [{"ID": a} for a in accs]},
                   "Task Metrics": {"Executor CPU Time": 1e9}})
        ev.append({"Event": "SparkListenerStageCompleted",
                   "Stage Info": {"Stage ID": sid, "Submission Time": 1000 * sid,
                                  "Completion Time": 1000 * sid + 500}})
    return ev


def test_fold_splits_layers_inside_a_job_group(tmp_path):
    with open(tmp_path / "log", "w") as f:
        for e in _events():
            f.write(json.dumps(e, separators=(",", ":")) + "\n")  # as Spark writes it
    rows = fold_event_log(str(tmp_path))
    assert {k: round(r["task_cpu_s"]) for k, r in rows.items()} == {
        "pem": 1, "blocking": 2, "snapshots": 1, "dedup": 1, "clustering": 1}
    assert rows["pem"]["moved_in_s"] == {"blocking": 0.5}
    assert rows["snapshots"]["moved_in_s"] == {"blocking": 0.5}
    assert rows["clustering"]["moved_in_s"] == {"dedup": 0.5}
    assert rows["clustering"]["convergence_checks"] == 1
