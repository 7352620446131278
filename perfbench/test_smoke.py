"""Tests of the benchmark itself.  The smoke tests run every workload at
about 200 docs, one run each (a few minutes on 4 cores):

    python3 -m pytest perfbench/test_smoke.py -q
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
sys.path[:0] = [HERE, ROOT]

from run import END_TO_END, EXTRA_WORKLOADS, WORKLOADS, _per_layer, spec  # noqa: E402


def _run(cwd: str, *args: str) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, os.path.join(cwd, "perfbench", "run.py"), *args],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.DEVNULL,
        text=True, timeout=300)


def _result(*args: str) -> dict:
    out = _run(ROOT, "--seed", "1", "--seconds", "1", "--smoke", *args)
    assert out.returncode == 0
    return json.loads(out.stdout.strip().splitlines()[-1])


def test_benchmark_json_matches_spec():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        assert json.load(f) == spec()


@pytest.mark.parametrize("workload", [*WORKLOADS, *EXTRA_WORKLOADS])
def test_smoke_end_to_end(workload):
    r = _result("--workload", workload)
    assert r["correct"] and r["failed"] == 0 and r["attempted"] >= 1
    m = {n: v["value"] for n, v in r["metrics"].items()}
    assert set(m) == {n for n, *_ in END_TO_END}
    assert m["triples_precision"] == m["triples_recall"] == 1.0
    assert all(v > 0 for v in m.values())


@pytest.mark.parametrize("workload", list(WORKLOADS))
def test_smoke_traced_layers_account_for_wall(workload):
    from layers import LAYERS
    r = _result("--workload", workload, "--trace", "1")
    assert r["correct"]
    m = {n: v["value"] for n, v in r["metrics"].items()}
    assert set(m) == {n for n, *_ in _per_layer()}
    self_s = sum(m[f"{layer}.self_s"] for layer in LAYERS if layer != "session")
    assert m["plans.pipeline.residual_frac"] == pytest.approx(
        1 - self_s / m["trace.wall_s"], abs=1e-9)
    assert 0 <= m["plans.pipeline.residual_frac"] < 0.05
    assert m["session.self_s"] > 0
    # the operator layers this workload runs did Spark work
    ran = ["operators.annotate", "operators.mentions", "operators.triples",
           "operators.graph"]
    assert all(m[f"{layer}.tasks"] > 0 for layer in ran)


def test_refuses_to_run_without_the_program(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    out = _run(str(tmp_path), "--workload", "kg_build", "--seed", "1",
               "--seconds", "1", "--trace", "0")
    assert out.returncode != 0
    assert '"metrics"' not in out.stdout


def test_layer_metrics_attribution(tmp_path):
    """Self time from nested spans; jobs attributed by job group, else by
    the innermost span open at submission."""
    from layers import Span, layer_metrics
    run = Span(0, "plans.pipeline", "run", 100.0, None)
    words = Span(1, "operators.annotate", "words", 102.0, 0)
    run.end, words.end = 110.0, 106.0
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0],
         "Submission Time": 103_000, "Properties": {"spark.jobGroup.id": "pb-1"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Stage IDs": [1],
         "Submission Time": 107_000, "Properties": {}},
    ]
    for stage, ms, reason in ((0, 1000, "Success"), (0, 3000, "Success"),
                              (1, 500, "ExceptionFailure")):
        events.append({
            "Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": reason}, "Task Info": {},
            "Task Metrics": {"Executor Run Time": ms, "Disk Bytes Spilled": 7,
                             "Output Metrics": {"Records Written": 5},
                             "Shuffle Write Metrics": {"Shuffle Bytes Written": 11}}})
    (tmp_path / "app").write_text("\n".join(json.dumps(e) for e in events))
    m = layer_metrics([run, words], str(tmp_path), op_wall_s=12.0)
    assert m["operators.annotate.self_s"] == pytest.approx(4.0)
    assert m["plans.pipeline.self_s"] == pytest.approx(6.0)
    assert m["operators.annotate.task_s"] == pytest.approx(4.0)
    assert m["operators.annotate.tasks"] == 2
    assert m["operators.annotate.task_skew"] == pytest.approx(1.5)
    assert m["operators.annotate.rows_out"] == 10
    assert m["operators.annotate.spill_bytes"] == 14
    assert m["plans.pipeline.tasks"] == m["plans.pipeline.tasks_failed"] == 1
    assert m["plans.pipeline.shuffle_bytes"] == 11
    assert m["plans.pipeline.residual_frac"] == pytest.approx(2.0 / 12.0)


def test_oracle_flags_a_graph_that_differs_from_gold(tmp_path):
    import pyarrow.compute as pc
    from gen import write_documents
    from oracle import _DUCK, Oracle
    from stanza_spark.synth import gold_graph_select
    oracle = Oracle(write_documents(str(tmp_path), seed=5, n_docs=300))
    try:
        oracle._use_docs(None)
        gold = oracle.con.execute(
            f"SELECT * FROM ({gold_graph_select(_DUCK)})").arrow()
        assert gold.num_rows > 0
        assert oracle.graph_diff(gold) == (0, 0)
        off = gold.set_column(3, "support", pc.add(gold["support"], 1))
        assert oracle.graph_diff(off) == (gold.num_rows, gold.num_rows)
        assert oracle.graph_diff(gold.slice(1)) == (0, 1)
    finally:
        oracle.close()
