"""Event-log parsing and streaming-progress aggregation."""

from __future__ import annotations

import os

import pytest

from perfbench import sparklog


def _progress(run, rows, trigger, wal=1, commit=2, state_rows=0, parts=4, ts="2024-01-01T00:00:00.000Z"):
    return {
        "runId": run,
        "timestamp": ts,
        "numInputRows": rows,
        "durationMs": {"triggerExecution": trigger, "walCommit": wal, "commitOffsets": commit},
        "stateOperators": [{"numRowsTotal": state_rows, "numShufflePartitions": parts}],
    }


def test_stream_metrics_splits_fixed_and_per_row_cost():
    progress = [
        _progress("a", 1000, 300, state_rows=10),
        _progress("a", 0, 100, state_rows=12),
        _progress("b", 3000, 500, state_rows=5, parts=8),
        _progress("b", 0, 120, state_rows=7, parts=8),
    ]
    m = sparklog.stream_metrics(progress)
    assert m["batches"] == 4
    assert m["empty_batches"] == 2
    assert m["batch_ms_p50"] == 210
    assert m["batch_ms_max"] == 500
    assert m["empty_batch_ms"] == 110
    assert m["ms_per_krow"] == pytest.approx(1020 / 4.0)
    assert m["state_partitions"] == 8
    assert m["state_rows"] == 12 + 7  # last batch of each query
    assert m["commit_ms"] == 3


def test_stream_metrics_of_nothing_is_zero():
    m = sparklog.stream_metrics([])
    assert m["batches"] == 0 and m["batch_ms_p50"] == 0.0 and m["ms_per_krow"] == 0.0


def _task(stage, dur_ms, in_rows=0, shuffle_rows=0, accums=None):
    return sparklog.Task(
        stage=stage,
        launch=0.0,
        finish=dur_ms / 1000.0,
        cpu_s=0.5,
        gc_s=0.1,
        result_b=1024 * 1024,
        spill_b=0,
        shuffle_write_b=2 * 1024 * 1024,
        in_b=1024 * 1024,
        in_rows=in_rows,
        out_b=0,
        shuffle_read_rows=shuffle_rows,
        accums=accums or {},
    )


def test_task_metrics_counts_skew_and_empty_tasks():
    job = sparklog.Job(id=0, submit=0.0, group=None, stages=[0, 1])
    job.tasks = [
        _task(0, 100, in_rows=5, accums={7: 40.0, 8: 10.0, 9: 3.0}),
        _task(0, 100, in_rows=5),
        _task(0, 900, in_rows=5),
        _task(1, 50, shuffle_rows=2),
        _task(1, 50),
    ]
    log = sparklog.EventLog(jobs={0: job}, py_sent={7}, py_received={8}, py_rows={9})
    m = sparklog.task_metrics(log, [job])
    assert (m["jobs"], m["stages"], m["tasks"]) == (1, 2, 5)
    assert m["task_skew_max_over_median"] == pytest.approx(9.0)
    assert m["empty_task_ratio"] == pytest.approx(0.2)
    assert m["shuffle_write_mb"] == pytest.approx(10.0)
    assert m["scan_rows"] == 15
    assert (m["py_bytes_to"], m["py_bytes_from"], m["py_rows_from"]) == (40.0, 10.0, 3.0)


def test_parse_reads_a_log_the_engine_writes(tmp_path):
    """Capture a tiny event log from a real session and parse it back."""
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    logs = tmp_path / "eventlog"
    logs.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-eventlog-test")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.dir", f"file://{logs}")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.local.dir", str(tmp_path / "local"))
        .getOrCreate()
    )
    try:
        plus_one = F.udf(lambda x: x + 1, "long")
        df = spark.range(0, 1000, 1, 4).withColumn("y", plus_one("id"))
        rows = df.groupBy((F.col("y") % 7).alias("k")).count().collect()
    finally:
        spark.stop()
    assert sum(r["count"] for r in rows) == 1000

    files = [os.path.join(d, f) for d, _, fs in os.walk(logs) for f in fs]
    assert files, "no event log written"
    log = sparklog.parse(sparklog.read_lines(str(logs)))
    assert log.jobs
    m = sparklog.task_metrics(log, list(log.jobs.values()))
    assert m["tasks"] >= 4
    assert m["shuffle_write_mb"] > 0
    assert m["task_cpu_s"] > 0
    assert log.py_sent and log.py_received
    assert m["py_bytes_to"] > 0 and m["py_bytes_from"] > 0
    assert m["py_rows_from"] == 1000
