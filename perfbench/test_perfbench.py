"""Tests of the benchmark itself.

The fast tests cover the pure helpers. The two ``selfcheck`` tests run
a traced pass of ``llm_pipeline`` and ``batch_sql`` end to end (about a
minute each) and check that the DataFrame probes see pins and collects
where the workload has them and none where it has none.

Run: python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))

import datagen  # noqa: E402
import tracing  # noqa: E402
from workloads import WORKLOADS, query_order  # noqa: E402


def test_union_length_merges_overlaps_and_clips():
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert tracing.union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert tracing.union_length([], 0, 1) == 0


def test_self_time_subtracts_children():
    tr = tracing.Tracer()
    parent = tr.open("construct", "q")
    child = tr.open("pin", "persist")
    tr.close(child)
    tr.close(parent)
    parent.start, parent.end, child.start, child.end = 0.0, 10.0, 2.0, 5.0
    assert tr.self_time(parent) == pytest.approx(7.0)


def test_probe_records_only_while_recording_and_once_per_nested_call():
    tr = tracing.Tracer()

    def inner():
        return tr.call("collect", "collect", lambda: 1)

    assert tr.call("collect", "first", inner) == 1
    assert tr.spans == []
    tr.recording = True
    tr.call("collect", "first", inner)
    assert [s.name for s in tr.spans] == ["first"]


def test_spark_layers_attributes_by_window_and_counts_idle():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1]},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 3000},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 9000, "Stage IDs": [2]},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 9500},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {
            "Event": "SparkListenerTaskEnd",
            "Stage ID": 0,
            "Task Info": {
                "Failed": False,
                "Accumulables": [{"Name": "time to run Python workers", "Update": "1500"}],
            },
            "Task Metrics": {"Executor Run Time": 2000, "Executor CPU Time": 5e8, "JVM GC Time": 0},
        },
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {}, "Task Metrics": {}},
    ]
    out = tracing.spark_layers(events, 0.0, 5.0)
    assert out["spark.jobs"] == 1 and out["spark.stages"] == 1 and out["spark.tasks"] == 1
    assert out["spark.executor_run_s"] == 2.0 and out["spark.executor_cpu_s"] == 0.5
    assert out["python.run_s"] == 1.5
    assert out["driver.idle_s"] == pytest.approx(3.0)
    assert set(tracing.LAYER_UNITS) >= set(out)


def test_query_order_is_a_seeded_permutation():
    for workload, queries in WORKLOADS.items():
        order = query_order(workload, 7)
        assert order == query_order(workload, 7)
        assert sorted(order) == sorted(queries)


def test_datagen_is_deterministic_per_seed():
    a, b, c = datagen.tables(3, 0.001), datagen.tables(3, 0.001), datagen.tables(4, 0.001)
    assert set(a) == set(datagen.TABLES)
    for name in datagen.TABLES:
        assert a[name].equals(b[name])
    assert not a["lineitem"].equals(c["lineitem"])
    docs = a["documents"]
    assert docs["text"].str.endswith(" dup").sum() == len(docs) // 20


def _traced_run(workload: str) -> dict:
    p = subprocess.run(
        [sys.executable, str(HERE / "run.py"), "--workload", workload, "--seed", "5", "--seconds", "1", "--trace", "1"],
        capture_output=True,
        text=True,
        timeout=600,
    )
    assert p.returncode == 0, p.stderr[-3000:]
    return json.loads(p.stdout.strip().splitlines()[-1])


@pytest.mark.parametrize(
    "workload,expect_seen",
    [("llm_pipeline", True), ("batch_sql", False)],
)
def test_selfcheck_probes_see_pins_and_collects(workload, expect_seen):
    result = _traced_run(workload)
    assert result["correct"], result
    pins = result["metrics"]["pin.calls"]["value"]
    collects = result["metrics"]["driver.collects"]["value"]
    if expect_seen:
        assert pins > 0 and collects > 0
    else:
        assert pins == 0 and collects == 0


def test_exits_nonzero_without_engine(tmp_path):
    bare = tmp_path / "bare"
    (bare / "perfbench").mkdir(parents=True)
    for f in HERE.glob("*.py"):
        (bare / "perfbench" / f.name).write_text(f.read_text())
    p = subprocess.run(
        [sys.executable, "perfbench/run.py", "--workload", "batch_sql", "--seed", "1", "--seconds", "1", "--trace", "0"],
        cwd=bare,
        capture_output=True,
        text=True,
        timeout=120,
    )
    assert p.returncode != 0
    assert p.stdout.strip() == ""
