"""Fast checks of the benchmark's own parts.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import sys

import numpy as np
import pytest

BENCH_DIR = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [BENCH_DIR, os.path.dirname(BENCH_DIR)]

import eventlog  # noqa: E402
import gen  # noqa: E402
import oracles  # noqa: E402


@pytest.mark.parametrize("workload", sorted(gen.WORKLOADS))
def test_generator_is_deterministic_per_seed_and_differs_across_seeds(tmp_path, workload):
    a = gen.generate(workload, 3, str(tmp_path / "a"))
    b = gen.generate(workload, 3, str(tmp_path / "b"))
    c = gen.generate(workload, 4, str(tmp_path / "c"))
    assert a["sha256"] == b["sha256"] != c["sha256"]
    src, dst = gen.read_pairs(a["path"])
    assert src.size == a["pairs"]
    assert gen.vertex_count(src, dst) == a["vertices"]
    assert 0 <= min(src.min(), dst.min()) and max(src.max(), dst.max()) < gen.WORKLOADS[workload][1]
    with open(tmp_path / "a" / "manifest.json") as fh:
        assert json.load(fh) == a


def test_generator_puts_hubs_at_low_ids(tmp_path):
    m = gen.generate("partition-powerlaw", 1, str(tmp_path))
    _, dst = gen.read_pairs(m["path"])
    n_ids = gen.WORKLOADS["partition-powerlaw"][1]
    # dst = u**2.5 * V: P(dst < V/10) = 0.1**0.4 ~ 0.40
    assert 0.35 < np.mean(dst < n_ids // 10) < 0.45


def _write_snap(path, pairs):
    path.write_text("".join(f"{a} {b}\n" for a, b in pairs))
    return str(path)


def test_oracles_on_a_hand_checked_graph(tmp_path):
    # K4 on {1,2,3,4} (4 triangles), a path 10-11-12, a duplicate and a loop
    pairs = [(1, 2), (1, 3), (1, 4), (2, 3), (2, 4), (3, 4), (10, 11), (11, 12), (2, 1), (5, 5)]
    g = oracles.Graph(_write_snap(tmp_path / "g.snap", pairs))
    assert g.n_edges == 8
    assert g.vid.tolist() == [1, 2, 3, 4, 10, 11, 12]
    assert oracles.triangles(g) == 4
    assert oracles.components(g).tolist() == [1, 1, 1, 1, 10, 10, 10]
    rank, _ = oracles.pagerank(g, 50)
    assert rank.sum() == pytest.approx(1.0)
    assert rank[0] == pytest.approx(rank[3])  # K4 is vertex-transitive
    # down-assignment: each edge goes to its lower-pos endpoint's part
    part = np.arange(g.vid.size)
    owner = np.where(g.pos[g.ilo] < g.pos[g.ihi], g.ilo, g.ihi)
    assert np.array_equal(oracles.down_parts(g, part), owner)


def _event_log(path, events):
    with open(path, "w") as f:
        for ev in events:
            f.write(json.dumps(ev) + "\n")
    return str(path)


def _task(stage, run_ms, result_bytes=0, failed=False):
    return {
        "Event": "SparkListenerTaskEnd", "Stage ID": stage,
        "Task Info": {"Failed": failed, "Killed": False,
                      "Accumulables": [{"Name": eventlog.PYTHON_RUN_METRIC, "Update": "250"}]},
        "Task Metrics": {"Executor Run Time": run_ms, "JVM GC Time": 10, "Result Size": result_bytes,
                         "Shuffle Write Metrics": {"Shuffle Bytes Written": 1024 * 1024}},
    }


def test_span_table_attributes_jobs_by_group_and_counts_reused_stages_once(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000_000, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "a#0"}},
        _task(0, 400), _task(1, 600, result_bytes=2 * 1024 * 1024),
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 1001_000,
         "Job Result": {"Result": "JobSucceeded"}},
        # job 1 reuses stage 0 (skipped) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": 1002_000, "Stage IDs": [0, 2],
         "Properties": {"spark.jobGroup.id": "b#0"}},
        _task(2, 100, failed=True),
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": 1002_500,
         "Job Result": {"Result": "JobSucceeded"}},
        # an untagged job inside span b's interval
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": 1002_600, "Stage IDs": [3]},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": 1002_700,
         "Job Result": {"Result": "JobSucceeded"}},
    ]
    path = _event_log(tmp_path / "log", events)
    spans = [{"key": "a#0", "t0": 999.5, "t1": 1001.5}, {"key": "b#0", "t0": 1001.8, "t1": 1003.0}]
    table, by_time = eventlog.span_table(path, spans)
    a, b = table["a#0"], table["b#0"]
    assert by_time == 1
    assert (a["spark_jobs"], a["spark_tasks"]) == (1, 2)
    assert a["task_run_s"] == pytest.approx(1.0)
    assert a["result_mb"] == pytest.approx(2.0)
    assert a["shuffle_write_mb"] == pytest.approx(2.0)
    assert a["python_run_s"] == pytest.approx(0.5)
    assert a["spark_busy_s"] == pytest.approx(1.0)
    assert a["driver_s"] == pytest.approx(1.0)
    assert (b["spark_jobs"], b["spark_tasks"], b["failed_tasks"]) == (2, 1, 1)
    assert b["spark_busy_s"] == pytest.approx(0.6)


def test_event_log_of_a_tiny_traced_job(tmp_path):
    """A real session: the tagged span owns its jobs and the parser reads
    Spark 4's uncompressed event log."""
    pytest.importorskip("pyspark")
    from pyspark.sql import SparkSession

    import ops

    log_dir = tmp_path / "eventlog"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]").appName("perfbench-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", str(log_dir))
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .getOrCreate()
    )
    try:
        tracer = ops.Tracer(spark, tagged=True)
        df = spark.range(1000)
        with tracer.span("tiny.groupby"):
            rows = df.groupBy((df.id % 7).alias("k")).count().collect()
        spark.range(10).count()  # outside any span
    finally:
        spark.stop()
    assert len(rows) == 7
    path = eventlog.find_log(str(log_dir))
    table, by_time = eventlog.span_table(path, tracer.spans)
    row = table["tiny.groupby#0"]
    assert by_time == 0
    assert row["spark_jobs"] >= 1
    assert row["spark_tasks"] >= 3
    assert row["shuffle_write_mb"] > 0
    assert 0 < row["spark_busy_s"] <= row["wall_s"]
    assert row["driver_s"] == pytest.approx(row["wall_s"] - row["spark_busy_s"])
