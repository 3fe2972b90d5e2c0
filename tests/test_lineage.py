"""Resumability tests: skip-done, error isolation, byte-identical resume."""

import json
import os
import subprocess
import sys
import uuid

import pytest
from pyspark.sql import Observation
from pyspark.sql import functions as F

from discoverx_spark.lineage import (ResumableRunner, bucket_transcripts,
                                     list_partitions, write_bucketed)
from discoverx_spark.pipeline import PipelineConfig
from discoverx_spark.scanner import _read_parquet_if_exists
from discoverx_spark.scrub import PII_CLASSES
from discoverx_spark.transcripts import generate_transcripts

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

CFG = PipelineConfig()


@pytest.fixture(scope="module")
def bucketed_input(spark, tmp_path_factory):
    path = str(tmp_path_factory.mktemp("transcripts") / "in")
    df = generate_transcripts(spark, 80, seed=11)
    write_bucketed(df, path, n_buckets=4)
    return path


def read_decisions(spark, path):
    df = spark.read.parquet(path)
    rows = df.orderBy("conv_id", "turn_idx").collect()
    return [(r["conv_id"], r["turn_idx"], r["keep"], r["scrubbed_text"],
             tuple(r["drop_reasons"])) for r in rows]


def test_bucketing_is_conv_local(spark, bucketed_input):
    df = spark.read.parquet(bucketed_input)
    multi = (df.groupBy("conv_id")
             .agg(F.countDistinct("part_id").alias("n"))
             .filter(F.col("n") > 1).count())
    assert multi == 0
    assert sorted(list_partitions(bucketed_input)) == ["0", "1", "2", "3"]


def test_full_run_then_resume_noop(spark, bucketed_input, tmp_path):
    out = str(tmp_path / "out")
    state = str(tmp_path / "state")
    runner = ResumableRunner(spark, state)
    rep = runner.run(bucketed_input, out, CFG)
    assert sorted(rep.processed) == ["0", "1", "2", "3"] and not rep.failed

    rep2 = ResumableRunner(spark, state).run(bucketed_input, out, CFG)
    assert rep2.skipped == ["0", "1", "2", "3"] and not rep2.processed

    lin = runner.lineage()
    assert lin.filter(F.col("status") == "done").count() == 4
    met = runner.metrics()
    assert met.filter(F.col("class_name") == "keep_rate").count() == 4


def test_failure_isolation_and_resume_identical(spark, bucketed_input, tmp_path):
    out_a = str(tmp_path / "out_a")
    state_a = str(tmp_path / "state_a")
    runner = ResumableRunner(spark, state_a)
    rep = runner.run(bucketed_input, out_a, CFG, fail_on=lambda p: p == "2")
    assert sorted(rep.processed) == ["0", "1", "3"]
    assert "2" in rep.failed and "injected" in rep.failed["2"]
    lin = runner.lineage()
    assert lin.filter((F.col("partition_id") == "2")
                      & (F.col("status") == "failed")).count() == 1

    # resume: only the failed partition runs
    rep2 = ResumableRunner(spark, state_a).run(bucketed_input, out_a, CFG)
    assert rep2.processed == ["2"] and sorted(rep2.skipped) == ["0", "1", "3"]

    # one-shot run in a fresh state dir → byte-identical decisions
    out_b = str(tmp_path / "out_b")
    ResumableRunner(spark, str(tmp_path / "state_b")).run(bucketed_input, out_b, CFG)
    assert read_decisions(spark, out_a) == read_decisions(spark, out_b)


def test_timestamps_only_in_lineage(spark, bucketed_input, tmp_path):
    out = str(tmp_path / "o")
    runner = ResumableRunner(spark, str(tmp_path / "s"))
    runner.run(bucketed_input, out, CFG, partitions=["0"])
    dec_cols = spark.read.parquet(os.path.join(out, "part_id=0")).columns
    assert "effective_timestamp" not in dec_cols
    assert "effective_timestamp" in runner.lineage().columns


def _lineage_by_part(runner):
    return {r["partition_id"]: r for r in runner.lineage().collect()}


def test_commit_job_budget_and_observed_metrics(spark, bucketed_input,
                                                 tmp_path):
    """Each partition costs at most 4 jobs (schema read, observed write,
    metrics append, lineage append), and the observed numbers equal an
    independent aggregate over the written decisions."""
    sc = spark.sparkContext
    out = str(tmp_path / "out")
    runner = ResumableRunner(spark, str(tmp_path / "state"))
    group = f"runner-budget-{uuid.uuid4().hex}"
    sc.setJobGroup(group, "runner job budget")
    try:
        rep = runner.run(bucketed_input, out, CFG, partitions=["0", "1"])
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert rep.processed == ["0", "1"] and not rep.failed
    n_jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert 0 < n_jobs <= 4 * len(rep.processed)

    lineage = _lineage_by_part(runner)
    scores = {(r["partition_id"], r["class_name"]): r["score"]
              for r in runner.metrics().collect()}
    matched_any = False
    for part in rep.processed:
        d = spark.read.parquet(os.path.join(out, f"part_id={part}"))
        n, kept = d.count(), d.filter(F.col("keep")).count()
        lin = lineage[part]
        assert (lin["status"], lin["rows_in"], lin["rows_kept"],
                lin["rows_dropped"]) == ("done", n, kept, n - kept)
        want = d.agg(
            *[F.avg((F.coalesce(F.col("pii_counts").getItem(c), F.lit(0)) > 0)
                    .cast("int")).alias(c) for c in PII_CLASSES],
            F.avg(F.col("keep").cast("int")).alias("keep_rate")).first()
        got = {c: scores[(part, c)] for c in want.asDict()}
        assert got == want.asDict()
        matched_any |= any(got[c] for c in PII_CLASSES)
    assert matched_any  # the input plants PII, so some score is nonzero


def test_zero_row_partition(spark, bucketed_input, tmp_path):
    src = str(tmp_path / "in")
    (spark.read.parquet(os.path.join(bucketed_input, "part_id=0")).limit(0)
     .write.parquet(os.path.join(src, "part_id=0")))
    out = str(tmp_path / "out")
    runner = ResumableRunner(spark, str(tmp_path / "state"))
    rep = runner.run(src, out, CFG)
    assert rep.processed == ["0"] and not rep.failed
    assert spark.read.parquet(os.path.join(out, "part_id=0")).count() == 0
    lin = _lineage_by_part(runner)["0"]
    assert (lin["status"], lin["rows_in"], lin["rows_kept"],
            lin["rows_dropped"]) == ("done", 0, 0, 0)
    met = runner.metrics().collect()
    assert sorted(r["class_name"] for r in met) == sorted(
        [*PII_CLASSES, "keep_rate"])
    assert all(r["score"] is None for r in met)


def test_missing_path_probe_after_observed_write(spark, tmp_path,
                                                 monkeypatch):
    """After an Observation has run, a failing read logs a listener stack
    trace; the probe must answer a missing path without issuing one."""
    obs = Observation()
    (spark.range(10).observe(obs, F.count(F.lit(1)).alias("n"))
     .write.parquet(str(tmp_path / "w")))
    assert obs.get["n"] == 10

    reads = []
    reader = type(spark.read)
    real_parquet = reader.parquet
    monkeypatch.setattr(reader, "parquet", lambda self, *paths, **kw:
                        reads.append(paths) or real_parquet(self, *paths, **kw))
    assert _read_parquet_if_exists(spark, str(tmp_path / "missing")) is None
    assert reads == []
    assert _read_parquet_if_exists(spark, str(tmp_path / "w")).count() == 10


_RETRY_SCRIPT = r"""
import json, os, sys
from pyspark import TaskContext
from pyspark.sql import SparkSession, functions as F
from discoverx_spark import lineage
from discoverx_spark.scanner import _read_parquet_if_exists
from discoverx_spark.transcripts import generate_transcripts

work = sys.argv[1]
marker = os.path.join(work, "failed_once")
spark = (SparkSession.builder.master("local[2,2]")
         .config("spark.ui.enabled", "false")
         .config("spark.sql.shuffle.partitions", "2")
         .config("spark.driver.memory", "1g").getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
src = os.path.join(work, "in")
lineage.write_bucketed(generate_transcripts(spark, 120, seed=5), src, 2)

seen = []  # per deserialized task: rows this attempt has passed through

@F.udf("string")
def flaky(v):
    tc = TaskContext.get()
    if tc.partitionId() == 0 and tc.attemptNumber() == 0:
        seen.append(v)
        if len(seen) > 100:
            open(marker, "w").close()
            raise RuntimeError("injected failure on a first task attempt")
    return v

decide = lineage.decide
lineage.decide = lambda df, cfg: decide(df, cfg).withColumn(
    "conv_id", flaky("conv_id"))
out = os.path.join(work, "out")
runner = lineage.ResumableRunner(spark, os.path.join(work, "state"))
rep = runner.run(src, out)
lin = {r["partition_id"]: r for r in runner.lineage().collect()}
parts = {}
for p in rep.processed:
    d = spark.read.parquet(os.path.join(out, f"part_id={p}"))
    parts[p] = {"lineage": [lin[p]["rows_in"], lin[p]["rows_kept"]],
                "written": [d.count(), d.filter(F.col("keep")).count()]}
missing = _read_parquet_if_exists(spark, os.path.join(work, "missing"))
print(json.dumps({"processed": rep.processed, "failed": rep.failed,
                  "parts": parts, "retried": os.path.exists(marker),
                  "missing_is_none": missing is None}))
spark.stop()
"""


def test_observed_counts_exact_under_task_retry(tmp_path):
    """local[2,2] retries failed tasks: the first attempt of each
    partition's write task raises midway, and the lineage counts still
    equal the written output (failed attempts' metrics are dropped).  The
    missing-path probe afterwards logs no listener stack trace."""
    env = dict(os.environ, PYSPARK_PYTHON=sys.executable,
               PYTHONPATH=os.pathsep.join(
                   p for p in (REPO, os.environ.get("PYTHONPATH")) if p))
    res = subprocess.run([sys.executable, "-c", _RETRY_SCRIPT, str(tmp_path)],
                         env=env, capture_output=True, text=True, timeout=600)
    assert res.returncode == 0, res.stderr[-3000:]
    got = json.loads(res.stdout.strip().splitlines()[-1])
    assert got["retried"] and not got["failed"]
    assert sorted(got["processed"]) == ["0", "1"]
    for part, counts in got["parts"].items():
        assert counts["lineage"] == counts["written"], part
    assert got["missing_is_none"]
    assert "ExecutionListenerBus" not in res.stderr
