"""M-SQL: class-placeholder queries over scan results.

Re-expression of the reference's second compiler
(``/root/reference/discoverx/msql.py``): a query containing
``[class_name]`` placeholders is resolved, per table, against persisted
scan results — each placeholder becomes every concrete column classified
with that class (cartesian product across classes, ``msql.py:46-74``),
commands are limited to SELECT and DELETE (``msql.py:26-30,176-188``),
tables are matched with Unix wildcards (``msql.py:76-112``), per-unit
errors are isolated (``msql.py:130-134``), and results are folded with a
union (``msql.py:114-144``).

Spark-first differences: units of work execute as DataFrames against a
:class:`~discoverx_spark.scanner.TableRegistry` (temp views + ``spark.sql``
— one Catalyst plan per unit, broadcast/AQE decided by Spark), and DELETE
compiles to a keep-filter + rewrite plan instead of an in-place mutation,
returning both the surviving DataFrame and the matched-row count.
"""

from __future__ import annotations

import itertools
import operator
import re
from dataclasses import dataclass
from functools import reduce
from typing import Dict, List, Optional, Tuple

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .explorer import _run_sql_units
from .scanner import (ScanResult, TableRegistry, _columns_by_table,
                      _union_all, qcol)

_CLASS_RX = re.compile(r"\[([\w_-]+)\]")
_FROM_RX = re.compile(
    r"(?i)\bfrom\s+(([0-9a-zA-Z_*-]+)\.([0-9a-zA-Z_*-]+)\.([0-9a-zA-Z_*-]+))")
VALID_COMMANDS = ("SELECT", "DELETE")


@dataclass
class SQLRow:
    """One compiled unit of work (reference msql.py:15-21)."""

    catalog: str
    schema: str
    table: str
    sql: str


class Msql:
    """Parse/compile a class-placeholder query."""

    def __init__(self, msql: str):
        self.msql = msql.strip()
        self.command = self.msql.split(None, 1)[0].upper() if self.msql else ""
        if self.command not in VALID_COMMANDS:
            raise ValueError(
                f"Only {VALID_COMMANDS} commands are supported, "
                f"got {self.command!r}")
        self.classes: List[str] = list(dict.fromkeys(_CLASS_RX.findall(self.msql)))
        if not self.classes:
            raise ValueError("M-SQL expression contains no [class] placeholders")
        m = _FROM_RX.search(self.msql)
        if not m:
            raise ValueError(
                "M-SQL expression must contain FROM catalog.schema.table "
                "(wildcards allowed)")
        self.from_pattern = m.group(1)
        self._from_span = m.span(1)

    def build(self, classified_columns: List[Tuple[str, str, str, str, str]],
              ) -> List[SQLRow]:
        """Compile to one SQLRow per (table × class-column combination).

        ``classified_columns``: (catalog, schema, table, column, class)
        tuples, e.g. ``ScanResult.get_classes(min_score)``.
        """
        by_table = _columns_by_table(classified_columns, self.from_pattern,
                                     self.classes)
        rows: List[SQLRow] = []
        for name, cls_cols in by_table.items():
            if not all(k in cls_cols for k in self.classes):
                continue  # table lacks a referenced class → skipped (msql.py:94-100)
            combos = itertools.product(
                *[[(k, c) for c in cls_cols[k]] for k in self.classes])
            for combo in combos:
                sql = self.msql
                for klass, col in combo:
                    sql = sql.replace(f"[{klass}]", f"`{col}`")
                sql = _FROM_RX.sub(f"FROM {name}", sql, count=1)
                rows.append(SQLRow(*name.split("."), sql))
        return rows

    # -- execution ---------------------------------------------------------

    def execute(self, spark: SparkSession, registry: TableRegistry,
                classified_columns, what_if: bool = False,
                ) -> Optional[DataFrame]:
        """Run all compiled units, union-fold the results
        (reference msql.py:114-144). SELECT only — DELETE goes through
        :func:`compile_delete`."""
        if self.command == "DELETE":
            # compile-parity only (the reference executes DELETE on Delta
            # tables); parquet-backed temp views cannot run it — route
            # row deletion through delete_by_class, which rewrites plans
            raise ValueError(
                "DELETE M-SQL compiles (use .build()/what_if) but cannot "
                "execute against parquet-backed views — use "
                "delete_by_class() for actual row deletion")
        rows = self.build(classified_columns)
        if not rows:
            raise ValueError(
                f"no classified tables match {self.from_pattern!r} with "
                f"classes {self.classes} (run a scan first, or lower "
                f"min_score)")
        if what_if:
            for r in rows:
                print(r.sql)
            return None
        frames, failures = _run_sql_units(
            spark, registry,
            [(f"{r.catalog}.{r.schema}.{r.table}", lambda src, sql=r.sql: sql)
             for r in rows])
        if not frames:
            # reference raises when no unit succeeds (msql.py:141-142)
            raise ValueError(
                "No M-SQL units were successfully executed. "
                + "; ".join(failures))
        # provenance columns first, then the unit's own columns — the
        # reference contract (msql.py:114-128): rows stay attributable to
        # their source table, and the fold is a POSITIONAL union
        # (msql.py:144) so same-class columns with different per-table
        # names still line up.
        prov = ("table_catalog", "table_schema", "table_name")
        return reduce(DataFrame.union, [
            df.select(*[F.lit(v).alias(p)
                        for p, v in zip(prov, name.split("."))],
                      *[c for c in df.columns if c not in prov])
            for name, df in frames])


def select_by_classes(spark: SparkSession, registry: TableRegistry,
                      scan: ScanResult, from_tables: str = "*.*.*",
                      by_classes: Optional[List[str]] = None,
                      min_score: float = 0.95) -> DataFrame:
    """Rows of every matched table with its classified columns surfaced as
    ``classified: map<class, value>`` plus the full row as JSON — the
    DataFrame-native analog of the reference's nested named_struct select
    (``dx.py:311-325``)."""
    by_table = _columns_by_table(scan.get_classes(min_score), from_tables,
                                 by_classes)
    frames = []
    for name in registry.resolve(from_tables):
        if name not in by_table:
            continue
        df = registry.get(name)
        cat, sch, tbl = name.split(".")
        # two columns sharing a class would duplicate the map key (Spark
        # default mapKeyDedupPolicy=EXCEPTION crashes at runtime): keys
        # stay the bare class when unique, 'class:column' otherwise
        entries = []
        for k, cols in by_table[name].items():
            for c in cols:
                key = k if len(cols) == 1 else f"{k}:{c}"
                entries += [F.lit(key), qcol(df, c).cast("string")]
        frames.append(df.select(
            F.lit(cat).alias("table_catalog"),
            F.lit(sch).alias("table_schema"),
            F.lit(tbl).alias("table_name"),
            F.create_map(*entries).alias("classified"),
            F.to_json(F.struct(*[qcol(df, c).alias(c) for c in df.columns]))
            .alias("row_json"),
        ))
    if not frames:
        raise ValueError(f"no classified tables match {from_tables!r} "
                         f"at min_score {min_score}")
    return _union_all(frames)


def search(spark: SparkSession, registry: TableRegistry, scan: ScanResult,
           search_term: str, from_tables: str = "*.*.*",
           by_class: Optional[str] = None, min_score: float = 0.95) -> DataFrame:
    """Find rows whose classified column equals the literal term
    (reference dx.search, dx.py:236-282)."""
    sel = select_by_classes(spark, registry, scan, from_tables,
                            [by_class] if by_class else None, min_score)
    vals = F.map_values(F.col("classified"))
    return sel.filter(F.array_contains(vals, search_term))


def delete_by_class(spark: SparkSession, registry: TableRegistry,
                    scan: ScanResult, from_tables: str, by_class: str,
                    values: List[str], min_score: float = 0.95,
                    yes_i_am_sure: bool = False):
    """Compile per-table delete plans: rows whose ``by_class`` column is in
    ``values`` are removed.  Returns a summary DataFrame
    ``(table, num_deleted)`` and, when confirmed, a dict of surviving
    DataFrames to rewrite — the what-if guard mirrors ``dx.py:376-388``."""
    by_table = _columns_by_table(scan.get_classes(min_score), from_tables,
                                 [by_class])
    plans = {}
    counts = []
    cand_rows = []
    for name, cls_cols in by_table.items():
        df = registry.get(name)
        for col in cls_cols[by_class]:
            # one unioned agg instead of a count() action per table: the
            # matched-row counts come back from a single Spark job however
            # many tables are classified
            cand_rows.append((name, col))
            counts.append(df.filter(qcol(df, col).isin(values)).select(
                F.lit(name).alias("table"), F.lit(col).alias("column")))
        if yes_i_am_sure:
            # ONE plan per table over ALL its classified columns: a
            # per-column plans[name] assignment would keep only the last
            # column's filter and silently retain rows matching the
            # earlier columns
            plans[name] = df.filter(reduce(operator.and_, [
                ~qcol(df, col).isin(values) | qcol(df, col).isNull()
                for col in cls_cols[by_class]]))
    if not counts:
        summary = spark.createDataFrame(
            [], "table string, column string, num_deleted long")
    else:
        agg = _union_all(counts).groupBy("table", "column").agg(
            F.count("*").cast("long").alias("num_deleted"))
        cand = spark.createDataFrame(cand_rows, "table string, column string")
        summary = (cand.join(agg, on=["table", "column"], how="left")
                   .withColumn("num_deleted",
                               F.coalesce("num_deleted", F.lit(0).cast("long"))))
    if not yes_i_am_sure:
        return summary, None  # what-if mode: nothing is rewritten
    # pin the summary to PRE-delete state: the caller will materialize the
    # surviving plans back over the source paths, and a lazy summary
    # evaluated afterwards would count post-delete data (num_deleted = 0)
    summary = summary.localCheckpoint(eager=True)
    return summary, plans


def scrub_by_classes(spark: SparkSession, registry: TableRegistry,
                     scan: ScanResult, from_tables: str = "*.*.*",
                     min_score: float = 0.95) -> Dict[str, DataFrame]:
    """Redact every classified column in-place with its class token — the
    quality-filter extension of M-SQL DELETE: instead of dropping rows,
    rewrite the PII cells.  Returns {table: rewritten DataFrame}."""
    by_table = _columns_by_table(scan.get_classes(min_score), from_tables)
    out = {}
    for name in registry.resolve(from_tables):
        if name not in by_table:
            continue
        df = registry.get(name)
        # (column, class) order: a column with several classes ends up
        # with the token of its last class
        for col, klass in sorted((c, k) for k, cols in by_table[name].items()
                                 for c in cols):
            df = df.withColumn(
                col, F.when(qcol(df, col).isNotNull(),
                            F.lit(f"[REDACTED_{klass.upper()}]"))
                .otherwise(F.lit(None)))
        out[name] = df
    return out
