"""Tests of the benchmark's own machinery.

    python3 -m pytest perfbench/ -q

`testdata/eventlog.jsonl` is a Spark event log recorded with
`spark.eventLog.compress=false` from a local[2] session that ran one
untagged job, then two spans from `spans.Tracer` (saved in
`testdata/spans.json`): `py_stage`, which slept 0.3 s on the driver and
then ran a 4-partition mapInPandas whose Python function sleeps 0.2 s
per batch, and `jvm_shuffle`, a 4-partition groupBy-count collected to
the driver. The log keeps only the job and task events and fields the
fold reads.
"""

from __future__ import annotations

import json
import re
import sys
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path.insert(0, str(HERE))
sys.path.insert(0, str(HERE.parent))

import inputs  # noqa: E402
import metrics  # noqa: E402
import spans  # noqa: E402


@pytest.fixture(scope="module")
def recorded():
    stats = spans.fold_events(spans.read_events(str(HERE / "testdata" / "eventlog.jsonl")))
    recorded_spans = {d["name"]: spans.Span(**d) for d in json.loads((HERE / "testdata" / "spans.json").read_text())}
    return stats, recorded_spans


def test_fold_attributes_jobs_to_their_group(recorded):
    stats, sp = recorded
    assert set(stats) == {"", sp["py_stage"].group, sp["jvm_shuffle"].group}
    py, jvm, untagged = stats[sp["py_stage"].group], stats[sp["jvm_shuffle"].group], stats[""]
    assert (py.jobs, py.tasks) == (1, 4)
    # AQE runs the shuffle map stage and the result stage as two jobs
    assert (jvm.jobs, jvm.tasks) == (2, 5)
    assert untagged.jobs == 2
    assert jvm.max_stage_rows == 20000 and py.max_stage_rows == 1000
    assert jvm.shuffle_write_mb > 0 and py.shuffle_write_mb == 0


def test_python_time_is_run_time_outside_jvm_cpu(recorded):
    stats, sp = recorded
    py, jvm = stats[sp["py_stage"].group], stats[sp["jvm_shuffle"].group]
    assert py.python_s == pytest.approx(py.exec_run_s - py.exec_cpu_s)
    # four tasks each waited >= 0.2 s on a sleeping Python worker
    assert py.python_s >= 0.8
    assert py.python_s > 5 * jvm.python_s


def test_outside_jobs_covers_driver_only_time(recorded):
    stats, sp = recorded
    m = spans.span_measures(sp["py_stage"], stats)
    (job_start, job_end), = stats[sp["py_stage"].group].job_intervals
    assert m["outside_jobs_s"] == pytest.approx(m["s"] - (job_end - job_start))
    assert 0.3 <= m["outside_jobs_s"] < m["s"]  # includes the 0.3 s driver sleep


def test_fold_on_synthetic_events():
    ev = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "a"}},
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1500, "Stage IDs": [1, 2],
         "Properties": {}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 2000, "Executor CPU Time": 5e8,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1 << 20, "Shuffle Records Written": 7}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Metrics": {
            "Executor Run Time": 1000, "Executor CPU Time": 5e8,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": 1 << 20, "Shuffle Records Written": 5}}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Metrics": {
            "Executor Run Time": 10, "Executor CPU Time": 1e6, "Input Metrics": {"Records Read": 3}}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2000},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 2500},
    ]
    st = spans.fold_events(ev)
    a = st["a"]
    assert (a.jobs, a.tasks) == (1, 2)
    assert a.exec_run_s == pytest.approx(3.0) and a.exec_cpu_s == pytest.approx(1.0)
    assert a.python_s == pytest.approx(2.0)
    assert a.shuffle_write_mb == pytest.approx(2.0)
    assert a.max_stage_rows == 12  # rows summed over the stage's tasks
    assert a.job_intervals == [(1.0, 2.0)]
    # stage 1 is listed by both jobs and stays with the first; stage 2 is untagged
    assert st[""].tasks == 1 and st[""].jobs == 1


def test_covered_seconds_merges_and_clips():
    assert spans.covered_seconds(0, 10, []) == 0
    assert spans.covered_seconds(0, 10, [(1, 3), (2, 4), (6, 7)]) == pytest.approx(4)
    assert spans.covered_seconds(2, 6, [(0, 3), (5, 9)]) == pytest.approx(2)
    assert spans.covered_seconds(0, 10, [(11, 12), (-5, -1)]) == 0


def test_prefix_layer_arithmetic():
    got = spans.prefix_layers(["a", "b", "c"], [1.0, 3.5, 4.0])
    assert got == {"a": 1.0, "b": 2.5, "c": 0.5}
    assert sum(got.values()) == 4.0  # the layers add up to the longest prefix
    with pytest.raises(ValueError):
        spans.prefix_layers(["a"], [1.0, 2.0])


def test_reading_removes_the_withheld_share():
    import clock

    assert clock.Reading(wall=10.0, cpu=30.0, steal=0.0).seconds == 10.0
    # asked for 40 CPU-seconds, got 30: a quarter of the wall was withheld
    assert clock.Reading(wall=10.0, cpu=30.0, steal=10.0).seconds == pytest.approx(7.5)
    assert clock.Reading(wall=2.0, cpu=0.0, steal=1.0).seconds == 2.0


def test_stopwatch_counts_child_cpu():
    import subprocess

    import clock

    sw = clock.Stopwatch()
    subprocess.run([sys.executable, "-c", "x = 0\nfor i in range(3_000_000): x += i"], check=True)
    r = sw.stop()
    assert r.cpu > 0.05 and r.wall >= r.seconds > 0 and r.steal >= 0


def test_resume_deltas_are_deterministic_and_newest():
    base = inputs.code_file_rows(200, seed=3)
    d1 = inputs.resume_deltas(base, 200, 3, n_deltas=2, new_files=5, new_commits=4)
    d2 = inputs.resume_deltas(base, 200, 3, n_deltas=2, new_files=5, new_commits=4)
    assert d1 == d2
    assert d1 != inputs.resume_deltas(inputs.code_file_rows(200, seed=4), 200, 4, 2, 5, 4)
    latest = {}
    for r in base:
        latest[(r[0], r[1])] = max(latest.get((r[0], r[1]), 0), r[6])
    for delta in d1:
        changed = [r for r in delta if (r[0], r[1]) in latest]
        assert len(changed) == 4
        assert all(r[6] > latest[(r[0], r[1])] for r in changed)
        assert all(int(r[1].rsplit("_", 1)[1].split(".")[0]) >= 200 for r in delta if (r[0], r[1]) not in latest)


def test_benchmark_json_matches_metric_definitions():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in bench["end_to_end"]] == [
        tuple(m) for m in metrics.END_TO_END
    ]
    assert [(m["name"], m["unit"], m["better"]) for m in bench["per_layer"]] == [tuple(m) for m in metrics.PER_LAYER]
    import workloads

    assert [w["name"] for w in bench["workloads"]] == list(workloads.WORKLOADS)
    names = [m["name"] for m in bench["end_to_end"] + bench["per_layer"]] + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert bounds["setup_s"] == max(bounds.values()) <= 0.25


def test_spark_digest_is_order_insensitive():
    from pyspark.sql import SparkSession

    import golden

    spark = SparkSession.builder.master("local[2]").config("spark.ui.enabled", "false").getOrCreate()
    try:
        rows = [(f"s{i}", "p", f"o{i % 3}") for i in range(50)]
        df = spark.createDataFrame(rows, "subj string, pred string, obj string")
        d = golden.spark_digest(df)
        assert d[0] == 50
        assert golden.spark_digest(df.orderBy("obj", "subj").repartition(5)) == d
        changed = spark.createDataFrame(rows[:-1] + [("s49", "p", "o9")], df.schema)
        assert golden.spark_digest(changed) != d
        assert golden.spark_digest(df.limit(49)) != d
    finally:
        spark.stop()
