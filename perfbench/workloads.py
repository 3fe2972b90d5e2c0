"""The two benchmark workloads.

Each workload makes its inputs in ``prepare`` (counted in set-up), runs
its public calls once in ``warm`` (also set-up), then repeats
``iterate`` in a closed loop: one call is issued only after the previous
one returned.  ``check`` verifies the outputs of the last iteration;
``layer_metrics`` turns the spans and event-log groups of a traced run
into ``<module>.<quantity>`` numbers.

Spans are named ``<module>.<call>``; the module part names the layer.
"""

from __future__ import annotations

import json
import os
import statistics
from typing import Dict

import pandas as pd
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from discoverx_spark.lineage import ResumableRunner, write_bucketed
from discoverx_spark.msql import (delete_by_class, scrub_by_classes,
                                  select_by_classes)
from discoverx_spark.operators import (conversation_near_duplicates,
                                       conversation_stats,
                                       minhash_near_duplicates)
from discoverx_spark.oracle_ref import reference_decide
from discoverx_spark.pipeline import DECISION_COLUMNS, decide, write_decisions
from discoverx_spark.scanner import Scanner, ScanResult, TableRegistry

import inputs

MODULES = ("transcripts", "pipeline", "lineage", "scanner", "msql",
           "operators")


def force(df) -> None:
    df.write.format("noop").mode("overwrite").save()


def parquet_rows(path: str) -> int:
    return pq.ParquetDataset(path).read(columns=[]).num_rows


def count_files(path: str) -> int:
    return sum(1 for _root, _dirs, files in os.walk(path)
               for f in files if f.endswith(".parquet"))


def median_span(tracer, name: str) -> float:
    spans = tracer.by_name(name)
    return statistics.median(s.duration_s for s in spans) if spans else 0.0


def median_attr(tracer, name: str, attr: str) -> float:
    spans = tracer.by_name(name)
    return statistics.median(s.attrs[attr] for s in spans) if spans else 0.0


def digest(df) -> tuple:
    """Order-free digest of a decisions frame: row count and the sum of a
    64-bit hash of every row (maps hashed through their sorted entries)."""
    h = F.xxhash64(*[F.to_json(F.array_sort(F.map_entries(c)))
                     if c == "pii_counts" else F.col(c)
                     for c in DECISION_COLUMNS])
    row = df.agg(F.count(F.lit(1)).alias("n"),
                 F.sum(h.cast("decimal(38,0)")).alias("s")).first()
    return int(row["n"]), str(row["s"])


class Workload:
    name = ""
    modules: tuple = ()       # layers whose per-layer metrics it reports

    def __init__(self, ctx):
        self.ctx = ctx
        self.rows = 0               # input rows one iteration processes
        self.iterations = 0

    def path(self, *parts: str) -> str:
        return os.path.join(self.ctx.work_dir, *parts)

    def generate(self, df, out: str) -> int:
        with self.ctx.tracer.span("transcripts.generate"):
            df.write.mode("overwrite").parquet(out)
        return parquet_rows(out)

    def probe(self):
        """Extra traced-only calls, made after the timed loop."""


# ---------------------------------------------------------------------------

class QcPipeline(Workload):
    """Everything that runs the fused Python UDF: ``write_decisions(decide())``
    over distinct-text transcripts, then a fresh ``ResumableRunner.run``
    over a bucketed slice of them and a resume that must skip every
    partition."""

    name = "qc_pipeline"
    modules = ("transcripts", "pipeline", "lineage")
    N_CONVS = 3_500
    RUNNER_SLICE = 8          # one conversation in 8 goes to the runner
    BUCKETS = 2

    def prepare(self):
        c = self.ctx
        self.input = self.path("turns")
        self.n_turns = self.generate(
            inputs.distinct_turns(c.spark, c.seed, self.N_CONVS,
                                  c.cpus * 2), self.input)
        self.bucketed = self.path("bucketed")
        with c.tracer.span("transcripts.generate"):
            write_bucketed(c.spark.read.parquet(self.input).filter(
                F.pmod(F.xxhash64(F.lit(c.seed), "conv_id"),
                       F.lit(self.RUNNER_SLICE)) == 0),
                self.bucketed, self.BUCKETS)
        self.runner_rows = parquet_rows(self.bucketed)
        self.rows = self.n_turns + self.runner_rows
        self.partitions = sorted(
            n.split("=", 1)[1] for n in os.listdir(self.bucketed)
            if n.startswith("part_id="))
        self.fresh_runs = 0

    def warm(self):
        self.iterate()

    def _write(self, out):
        write_decisions(decide(self.ctx.spark.read.parquet(self.input)), out)

    def iterate(self):
        c = self.ctx
        with c.tracer.span("pipeline.write_decisions"):
            self._write(self.path("out"))
        self.fresh_runs += 1
        i = self.fresh_runs
        self.state, self.runs = self.path(f"state{i}"), self.path(f"runs{i}")
        self.runner = ResumableRunner(c.spark, self.state)
        with c.tracer.span("lineage.run"):
            first = self.runner.run(self.bucketed, self.runs)
        with c.tracer.span("lineage.resume"):
            again = self.runner.run(self.bucketed, self.runs)
        fails = [f"partition {p} failed: {m}" for p, m in first.failed.items()]
        if again.processed or again.failed:
            fails.append(f"resume processed {len(again.processed)} and "
                         f"failed {len(again.failed)} partitions")
        # write_decisions, every partition, the resume and its check
        return len(self.partitions) + 3, fails

    def probe(self):
        """``decide()`` alone, into the noop sink (traced runs only)."""
        for _ in range(3):
            with self.ctx.tracer.span("pipeline.decide"):
                force(decide(self.ctx.spark.read.parquet(self.input)))

    def check(self):
        c = self.ctx
        fails = []
        n_out = parquet_rows(self.path("out"))
        if n_out != self.n_turns:
            fails.append(f"decisions rows {n_out} != input {self.n_turns}")
        pick = F.pmod(F.xxhash64(F.lit(c.seed + 1), "conv_id"),
                      F.lit(48)) == 0
        got = (c.spark.read.parquet(self.path("out")).filter(pick)
               .toPandas().sort_values(["conv_id", "turn_idx"])
               .reset_index(drop=True))
        src = (c.spark.read.parquet(self.input).filter(pick).toPandas()
               .sort_values(["conv_id", "turn_idx"]).reset_index(drop=True))
        want = reference_decide(src)
        got["drop_reasons"] = got["drop_reasons"].map(",".join)
        got["pii_counts"] = got["pii_counts"].map(
            lambda m: json.dumps(dict(sorted(dict(m or {}).items())),
                                 separators=(",", ":")))
        got["turn_idx"] = got["turn_idx"].astype(want["turn_idx"].dtype)
        if len(want) == 0:
            fails.append("reference sample is empty")
        try:
            pd.testing.assert_frame_equal(got[DECISION_COLUMNS], want,
                                          check_exact=True)
        except AssertionError as e:
            fails.append(f"decisions differ from reference_decide: {e}")

        union = c.spark.read.parquet(self.runs).drop("part_id")
        want_digest = digest(decide(c.spark.read.parquet(self.bucketed)))
        got_digest = digest(union)
        if got_digest != want_digest:
            fails.append(f"runner output digest {got_digest} != decide() "
                         f"{want_digest}")
        lin = self.runner.lineage().filter(F.col("status") == "done")
        rows_in = lin.agg(F.sum("rows_in")).first()[0]
        if rows_in != self.runner_rows:
            fails.append(f"lineage rows_in {rows_in} != runner input "
                         f"{self.runner_rows}")
        return 4, fails

    def layer_metrics(self, groups, tracer) -> Dict[str, float]:
        n = self.iterations
        g = groups("pipeline.write_decisions")
        py = g.python
        run, resume = groups("lineage.run"), groups("lineage.resume")
        parts = n * len(self.partitions)
        run_s = median_span(tracer, "lineage.run")
        return {
            "pipeline.decide_s": median_span(tracer, "pipeline.decide"),
            "pipeline.write_decisions_s":
                median_span(tracer, "pipeline.write_decisions"),
            "pipeline.py_cpu_s": median_attr(
                tracer, "pipeline.write_decisions", "py_cpu_s"),
            "pipeline.jvm_cpu_s": median_attr(
                tracer, "pipeline.write_decisions", "jvm_cpu_s"),
            "pipeline.py_boot_s": py["pythonBootTime"] / 1e3 / n,
            "pipeline.py_init_s": py["pythonInitTime"] / 1e3 / n,
            "pipeline.py_total_s": py["pythonTotalTime"] / 1e3 / n,
            "pipeline.arrow_bytes_to_py": py["pythonDataSent"] / n,
            "pipeline.arrow_bytes_from_py": py["pythonDataReceived"] / n,
            "pipeline.py_rows_returned": py["pythonNumRowsReceived"] / n,
            "pipeline.tasks": g.tasks / n,
            "lineage.run_s": run_s,
            "lineage.partition_s": run_s / len(self.partitions),
            "lineage.jobs_per_partition": run.jobs / parts,
            "lineage.tasks_per_partition": run.tasks / parts,
            "lineage.files_written":
                count_files(self.runs) + count_files(self.state),
            "lineage.resume_s": median_span(tracer, "lineage.resume"),
            "lineage.resume_jobs": resume.jobs / n,
            "lineage.py_cpu_s": median_attr(tracer, "lineage.run",
                                            "py_cpu_s"),
            "lineage.jvm_cpu_s": median_attr(tracer, "lineage.run",
                                             "jvm_cpu_s"),
        }


# ---------------------------------------------------------------------------

class GovernDedup(Workload):
    """The JVM-only path, no Python UDF: scan -> classify -> save (MERGE)
    -> select / scrub / what-if delete over a transcripts table, four
    star-schema tables and a planted PII table; then salted conversation
    stats and both MinHash near-dup families over the same transcripts,
    which carry a hot tail and planted duplicate conversations."""

    name = "govern_dedup"
    modules = ("transcripts", "scanner", "msql", "operators")
    N_CONVS = 200
    N_HOT, HOT_TURNS = 3, 600
    N_PLANTS = 24
    SCALE_FACTOR = 0.01
    PLANTED_ROWS = 5_000
    N_DELETE = 37
    TRANSCRIPTS = "bench.qc.transcripts"
    PLANTED = "bench.pii.planted"

    def prepare(self):
        c = self.ctx
        self.turns = self.path("transcripts")
        df, self.conv_pairs, self.turn_pairs = inputs.dedup_turns(
            c.spark, c.seed, self.N_CONVS, c.cpus * 2, self.N_HOT,
            self.HOT_TURNS, self.N_PLANTS)
        self.n_turns = self.generate(df, self.turns)
        paths = {self.TRANSCRIPTS: self.turns}
        star = inputs.write_star_schema(c.seed, c.work_dir,
                                        self.SCALE_FACTOR)
        paths.update({f"bench.tpch.{k}": v for k, v in star.items()})
        paths[self.PLANTED] = self.path("planted.parquet")
        self.planted = inputs.write_planted_pii(
            c.seed, paths[self.PLANTED], self.PLANTED_ROWS, self.N_DELETE)
        self.registry = TableRegistry()
        for name, p in paths.items():
            self.registry.register(
                name, lambda p=p: self.ctx.spark.read.parquet(p))
        self.rows = sum(parquet_rows(p) for p in paths.values())
        cat, sch, tbl = self.PLANTED.split(".")
        self.expected = sorted((cat, sch, tbl, col, cls) for col, cls
                               in inputs.PLANTED_CLASSES.items())
        self.state = self.path("scan_state")

    def warm(self):
        # also leaves scan state behind: the timed save takes the MERGE path
        self.iterate()

    def iterate(self):
        # eight calls plus the class and delete-count checks
        return 10, self._govern() + self._dedup()

    def _govern(self):
        c = self.ctx
        t = c.tracer
        with t.span("scanner.scan"):
            result = Scanner(self.registry, sample_size=None).scan()
            classes = sorted(result.get_classes())
        with t.span("scanner.save"):
            result.save(self.state)
        # act on the persisted classification, as a later session would
        result = ScanResult.load(c.spark, self.state)
        with t.span("msql.select"):
            force(select_by_classes(c.spark, self.registry, result))
        with t.span("msql.scrub"):
            self.scrubbed = scrub_by_classes(c.spark, self.registry, result)
            for df in self.scrubbed.values():
                force(df)
        with t.span("msql.delete_whatif"):
            summary, plans = delete_by_class(
                c.spark, self.registry, result, "*.*.*", "email",
                self.planted["delete_emails"])
            deleted = sorted(tuple(r) for r in summary.collect())
        fails = []
        if classes != self.expected:
            fails.append(f"get_classes {classes} != planted {self.expected}")
        want = [(self.PLANTED, "contact_email", self.N_DELETE)]
        if deleted != want or plans is not None:
            fails.append(f"what-if delete {deleted} != {want}")
        return fails

    def _dedup(self):
        t = self.ctx.tracer
        turns = self.ctx.spark.read.parquet(self.turns)
        with t.span("operators.conv_stats"):
            conversation_stats(turns, salt_buckets=8).write.mode(
                "overwrite").parquet(self.path("stats"))
        with t.span("operators.conv_neardup"):
            conversation_near_duplicates(turns).write.mode(
                "overwrite").parquet(self.path("conv_pairs"))
        with t.span("operators.turn_neardup"):
            with_id = turns.withColumn(
                "turn_id", F.concat_ws(":", "conv_id",
                                       F.col("turn_idx").cast("string")))
            minhash_near_duplicates(with_id, "text", "turn_id").write.mode(
                "overwrite").parquet(self.path("turn_pairs"))
        return []

    def _pairs(self, name, prefix):
        df = self.ctx.spark.read.parquet(self.path(name))
        return {(r["id_a"], r["id_b"]) for r in
                df.filter(F.col("id_a").startswith(prefix)
                          | F.col("id_b").startswith(prefix))
                .select("id_a", "id_b").collect()}

    def check(self):
        c = self.ctx
        fails = []
        df = self.scrubbed.get(self.PLANTED)
        if df is None:
            fails.append("planted table was not scrubbed")
        else:
            cols = list(self.planted["values"])
            cells = df.select(*cols).toPandas()
            n = sum(int(cells[col].isin(self.planted["values"][col]).sum())
                    for col in cols)
            if n:
                fails.append(f"{n} planted values survived the scrub")
        stats = c.spark.read.parquet(self.path("stats"))
        total = stats.agg(F.sum("n_turns")).first()[0]
        if total != self.n_turns:
            fails.append(f"sum(n_turns) {total} != input turns "
                         f"{self.n_turns}")
        conv = self._pairs("conv_pairs", "plant")
        missing = [p for p in self.conv_pairs if p not in conv]
        if missing:
            fails.append(f"{len(missing)} planted conversation pairs "
                         f"missing, e.g. {missing[0]}")
        turn = self._pairs("turn_pairs", "plant")
        missing = [p for p in self.turn_pairs if p not in turn]
        if missing:
            fails.append(f"{len(missing)} planted turn pairs missing, "
                         f"e.g. {missing[0]}")
        self.pairs_emitted = (parquet_rows(self.path("conv_pairs"))
                              + parquet_rows(self.path("turn_pairs")))
        return 4, fails

    def layer_metrics(self, groups, tracer) -> Dict[str, float]:
        n = self.iterations
        scan, save = groups("scanner.scan"), groups("scanner.save")
        msql = [groups(g) for g in
                ("msql.select", "msql.scrub", "msql.delete_whatif")]
        ops = [groups(g) for g in ("operators.conv_stats",
                                   "operators.conv_neardup",
                                   "operators.turn_neardup")]
        return {
            "scanner.scan_s": median_span(tracer, "scanner.scan"),
            "scanner.save_s": median_span(tracer, "scanner.save"),
            "scanner.jobs": (scan.jobs + save.jobs) / n,
            "scanner.executor_cpu_s":
                (scan.executor_cpu_s + save.executor_cpu_s) / n,
            "scanner.rows_scanned": scan.input_records / n,
            "msql.select_s": median_span(tracer, "msql.select"),
            "msql.scrub_s": median_span(tracer, "msql.scrub"),
            "msql.delete_whatif_s": median_span(tracer,
                                                "msql.delete_whatif"),
            "msql.jobs": sum(g.jobs for g in msql) / n,
            "operators.conv_stats_s": median_span(tracer,
                                                  "operators.conv_stats"),
            "operators.conv_neardup_s":
                median_span(tracer, "operators.conv_neardup"),
            "operators.turn_neardup_s":
                median_span(tracer, "operators.turn_neardup"),
            "operators.shuffle_write_bytes":
                sum(g.shuffle_write_bytes for g in ops) / n,
            "operators.spill_bytes": sum(g.spill_bytes for g in ops) / n,
            "operators.task_skew": max(g.task_skew for g in ops),
            "operators.pairs_emitted": self.pairs_emitted,
        }


WORKLOADS = {w.name: w for w in (QcPipeline, GovernDedup)}
