"""The event-log reducer against a tiny local session's real log."""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parents[2]))

from perfbench import eventlog  # noqa: E402


@pytest.fixture(scope="module")
def groups(tmp_path_factory):
    from pyspark.sql import SparkSession

    log_dir = tmp_path_factory.mktemp("events")
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-eventlog-test")
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.ui.enabled", "false")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.sql.shuffle.partitions", "3")
        .getOrCreate()
    )
    sc = spark.sparkContext
    try:
        # group a: one shuffle (map stage, 4 tasks) + result stage (3 tasks)
        rdd = sc.parallelize(range(1000), 4).map(lambda x: (x % 7, 1)).reduceByKey(
            lambda a, b: a + b, 3
        )
        sc.setJobGroup("a", "first")
        assert len(rdd.collect()) == 7
        # group b reuses a's shuffle output: its map stage is skipped and
        # must not be charged to b
        sc.setJobGroup("b", "second")
        assert rdd.count() == 7
        # group c: a DataFrame action with a Python worker (mapInPandas)
        sc.setJobGroup("c", "python")

        def double(batches):
            for pdf in batches:
                yield pdf.assign(id=pdf.id * 2)

        assert spark.range(100, numPartitions=2).mapInPandas(double, "id long").count() == 100
    finally:
        spark.stop()
    files = eventlog.log_files(log_dir)
    assert files, "no event log written"
    return eventlog.reduce_log(log_dir)


def test_log_is_the_rolling_zstd_format(groups, tmp_path_factory):
    logs = list(Path(tmp_path_factory.getbasetemp()).rglob("events_*"))
    assert any(p.suffix == ".zstd" for p in logs)
    assert any(p.parent.name.startswith("eventlog_v2_") for p in logs)


def test_totals_per_group(groups):
    a, b = groups["a"], groups["b"]
    assert (a.jobs, a.stages, a.tasks) == (1, 2, 4 + 3)
    assert a.shuffle_write_bytes > 0 and a.shuffle_read_bytes > 0
    assert a.run_ms >= 0 and a.cpu_ms > 0
    # the reused map stage is charged once, to the group that ran it
    assert (b.jobs, b.stages, b.tasks) == (1, 1, 3)
    assert b.shuffle_write_bytes == 0
    assert a.failed_tasks == b.failed_tasks == 0


def test_python_worker_metrics(groups):
    c = groups["c"]
    assert c.tasks >= 2
    assert c.py_bytes_sent > 0 and c.py_bytes_returned > 0
    assert c.py_run > 0
    assert groups["a"].py_bytes_sent == 0


def test_total_sums_matching_groups(groups):
    t = eventlog.total(groups, lambda g: g in ("a", "b"))
    assert t.tasks == groups["a"].tasks + groups["b"].tasks
    assert t.stages == 3
