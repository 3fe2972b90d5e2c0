"""The event-log reader on a tiny local job, and on hand-made events.

Run with ``python3 -m pytest perfbench -q`` from the repository root.
"""

import os
import sys

import pytest

import eventlog

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def groups(tmp_path_factory):
    pytest.importorskip("pyspark")
    import pandas as pd
    from pyspark.sql import SparkSession
    from pyspark.sql import functions as F

    log_dir = tmp_path_factory.mktemp("eventlog")
    os.environ["PYSPARK_PYTHON"] = sys.executable
    spark = (SparkSession.builder.master("local[2,2]")   # 2 task attempts
             .appName("eventlog-test")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .config("spark.sql.shuffle.partitions", "3")
             .config("spark.eventLog.enabled", "true")
             .config("spark.eventLog.dir", f"file://{log_dir}")
             .config("spark.eventLog.compress", "false")
             .config("spark.eventLog.rolling.enabled", "false")
             .getOrCreate())
    sc = spark.sparkContext
    try:
        def plus_one(s: pd.Series) -> pd.Series:
            return s + 1

        sc.setJobGroup("udf", "arrow udf")
        (spark.range(1000, numPartitions=2)
         .select(F.pandas_udf(plus_one, "long")("id").alias("x"))
         .write.format("noop").mode("overwrite").save())

        sc.setJobGroup("shuffle", "group by")
        spark.range(5000, numPartitions=2).groupBy(
            (F.col("id") % 7).alias("k")).count().collect()

        def flaky(x):
            from pyspark import TaskContext
            if TaskContext.get().attemptNumber() == 0 and x == 0:
                raise RuntimeError("first attempt fails")
            return x

        sc.setJobGroup("retry", "one failed attempt")
        spark.range(10, numPartitions=1).select(
            F.udf(flaky, "long")("id")).collect()
    finally:
        spark.stop()
    return eventlog.summarize(eventlog.read_events(
        eventlog.find_log(str(log_dir))))


def test_python_udf_metrics(groups):
    g = groups["udf"]
    assert (g.jobs, g.stages, g.tasks, g.failed_tasks) == (1, 1, 2, 0)
    assert g.python["pythonNumRowsReceived"] == 1000
    assert g.python["pythonDataSent"] > 8000      # 1000 longs and framing
    assert g.python["pythonDataReceived"] > 8000
    assert g.python["pythonTotalTime"] > 0
    assert g.executor_cpu_s > 0 and g.executor_run_s > 0
    assert g.shuffle_write_bytes == 0 and g.task_skew == 0


def test_shuffle_metrics(groups):
    g = groups["shuffle"]
    assert g.shuffle_write_bytes > 0
    assert g.shuffle_read_bytes == g.shuffle_write_bytes
    assert g.task_skew >= 1.0
    assert g.python["pythonNumRowsReceived"] == 0
    assert g.failed_tasks == 0


def test_failed_task_is_counted(groups):
    g = groups["retry"]
    assert g.failed_tasks == 1
    assert g.tasks == 2


def _task(stage, run_ms, reason="Success", shuffle_write=0):
    return {"Event": "SparkListenerTaskEnd", "Stage ID": stage,
            "Task End Reason": {"Reason": reason},
            "Task Info": {"Failed": reason != "Success", "Accumulables": []},
            "Task Metrics": {
                "Executor Run Time": run_ms,
                "Executor CPU Time": run_ms * 10**6,
                "Memory Bytes Spilled": 5, "Disk Bytes Spilled": 7,
                "Shuffle Write Metrics": {
                    "Shuffle Bytes Written": shuffle_write}}}


def test_skew_uses_the_largest_shuffle_stage():
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "g"}},
        # small shuffle stage, very skewed
        _task(0, 10, shuffle_write=10), _task(0, 1000, shuffle_write=10),
        _task(0, 10, shuffle_write=10),
        # large shuffle stage: slowest 40 ms vs median 20 ms
        _task(1, 20, shuffle_write=500), _task(1, 40, shuffle_write=500),
        _task(1, 10, shuffle_write=500),
        _task(1, 5, reason="ExceptionFailure"),
    ]
    g = eventlog.summarize(events)["g"]
    assert g.task_skew == pytest.approx(40 / 15)
    assert (g.jobs, g.stages, g.tasks, g.failed_tasks) == (1, 2, 7, 1)
    assert g.spill_bytes == 7 * 12
    assert g.executor_cpu_s == pytest.approx(1.095)
