#!/usr/bin/env python
"""Plan-and-output digest of the governance call sites.

Builds scan, save/load, select, search, scrub, delete, M-SQL and explorer
calls on a fixed in-memory fixture in a fresh ``local[2]`` session and
prints one line per call site::

    <site> <sha of the normalized optimized plan> <sha of the sorted rows>

Plans are normalized by masking expression ids (``#12``, ``#12L``),
``plan_id=`` values, temp-view names (``dxs_...``) and the scratch
directory, so two processes building the same plans print the same lines.
To check that a refactor keeps plans and outputs, run it against two trees
and diff the output::

    PYTHONPATH=<old tree> python scripts/plan_digest.py > old.txt
    PYTHONPATH=<new tree> python scripts/plan_digest.py > new.txt
    diff old.txt new.txt

The package is imported from ``PYTHONPATH``, never from this file's tree.
"""

from __future__ import annotations

import hashlib
import os
import re
import shutil
import sys
import tempfile

from pyspark.sql import SparkSession


def fixture(spark):
    """Three tables: ``users`` has two email columns (one class, two
    columns) and a zip column that is classified integer_number,
    decimal_number and us_zip_code at once."""
    return {
        "main.default.users": spark.createDataFrame(
            [(1, "a@x.org", "b@y.org", "12345", "1.2.3.4"),
             (2, "c@z.org", "a@x.org", "54321", "10.0.0.1"),
             (3, "keep@me.org", "safe@too.org", "90210", "8.8.8.8")],
            "id int, email_1 string, email_2 string, zip string, ip string"),
        "main.default.contacts": spark.createDataFrame(
            [(1, "a@x.org", "123-456-7890"), (2, "d@w.net", "987-654-3210")],
            "id int, email string, phone string"),
        "main.other.hosts": spark.createDataFrame(
            [(1, "192.168.0.1", "00-B0-D0-63-C2-26", "primary host"),
             (2, "3.4.5.60", "00-B0-D0-63-C2-24", "backup host")],
            "id int, ip string, mac string, note string"),
    }


def _sha(text: str) -> str:
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def digest(df, scratch: str) -> str:
    plan = df._jdf.queryExecution().optimizedPlan().toString()
    plan = re.sub(r"#\d+L?", "#", plan)
    plan = re.sub(r"plan_id=\d+", "plan_id=", plan)
    plan = re.sub(r"\bdxs_\w+", "dxs_", plan)
    plan = plan.replace(scratch, "<scratch>")
    rows = sorted(repr(tuple(r)) for r in df.collect())
    return f"{_sha(plan)} {_sha(chr(10).join(rows))}"


def sites(spark, scratch: str):
    from discoverx_spark.dx import DX
    from discoverx_spark.scanner import ScanResult

    dx = DX(spark, locale="us")
    for name, df in fixture(spark).items():
        dx.register(name, df)
    result = dx.scan(sample_size=None)
    yield "scan", result.df

    state = os.path.join(scratch, "scan_state")
    result.save(state)
    yield "save_1_load", ScanResult.load(spark, state).df
    result.save(state)
    yield "save_2_load", ScanResult.load(spark, state).df

    yield "select_all", dx.select_by_classes()
    yield "select_email", dx.select_by_classes(by_classes=["email"])
    yield "select_main_default", dx.select_by_classes(
        from_tables="main.default.*")
    yield "search", dx.search("a@x.org", by_class="email")

    scrubbed = dx.scrub_by_classes()
    for name in sorted(scrubbed):
        yield f"scrub:{name}", scrubbed[name]

    summary, _ = dx.delete_by_class("*.*.*", "email", ["a@x.org"])
    yield "delete_what_if", summary
    _, plans = dx.delete_by_class("*.*.*", "email", ["a@x.org"],
                                  yes_i_am_sure=True)
    for name in sorted(plans):
        yield f"delete_plan:{name}", plans[name]

    yield "msql_select", dx.msql("SELECT [email] AS e, id FROM main.*.*")
    yield "explorer_with_sql", (
        dx.from_tables("*.*.*")
        .with_sql("SELECT id, '{full_table_name}' AS src "
                  "FROM {full_table_name} WHERE id > 1")
        .apply())
    yield "explorer_unpivot_string", (
        dx.from_tables("*.*.*").unpivot_string_columns().apply())


def main() -> int:
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)
    spark = (SparkSession.builder.master("local[2]")
             .appName("plan-digest")
             .config("spark.sql.shuffle.partitions", "4")
             .config("spark.sql.session.timeZone", "UTC")
             .config("spark.ui.enabled", "false")
             .config("spark.ui.showConsoleProgress", "false")
             .getOrCreate())
    spark.sparkContext.setLogLevel("ERROR")
    scratch = tempfile.mkdtemp(prefix="plan_digest_")
    try:
        for site, df in sites(spark, scratch):
            print(site, digest(df, scratch), flush=True)
    finally:
        spark.stop()
        shutil.rmtree(scratch, ignore_errors=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
