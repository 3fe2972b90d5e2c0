"""End-to-end facade tests: scan → search → select → delete → msql →
explorer. Mirrors reference tests/unit/dx_test.py:103-198 and
msql_test.py:81-238 (compile goldens)."""

import pytest
from pyspark.sql import functions as F

from discoverx_spark.dx import DX
from discoverx_spark.msql import Msql, SQLRow


@pytest.fixture(scope="module")
def dx(spark):
    d = DX(spark, locale="us")
    d.register("main.default.tb_1", spark.createDataFrame(
        [(1, "1.2.3.4", "00-B0-D0-63-C2-26", "this is a description"),
         (2, "3.4.5.60", "00-B0-D0-63-C2-24", "some ip address")],
        "id int, ip string, mac string, description string"))
    d.register("main.default.tb_2", spark.createDataFrame(
        [(1, "a@b.org"), (2, "x@y.museum")],
        "id int, email string"))
    d.scan(sample_size=None)
    return d


def test_scan_classes(dx):
    classes = {(c[2], c[3], c[4]) for c in dx.scan_result.get_classes(0.95)}
    assert ("tb_1", "ip", "ip_v4") in classes
    assert ("tb_1", "mac", "mac_address") in classes
    assert ("tb_2", "email", "email") in classes


def test_search(dx):
    hits = dx.search("1.2.3.4", by_class="ip_v4").collect()
    assert len(hits) == 1
    assert hits[0]["table_name"] == "tb_1"
    assert hits[0]["classified"]["ip_v4"] == "1.2.3.4"
    assert "description" in hits[0]["row_json"]


def test_select_by_classes(dx):
    rows = dx.select_by_classes(by_classes=["email"]).collect()
    assert {r["table_name"] for r in rows} == {"tb_2"}
    assert sorted(r["classified"]["email"] for r in rows) == \
        ["a@b.org", "x@y.museum"]


def test_delete_by_class_what_if(dx):
    summary, plans = dx.delete_by_class("*.*.*", "ip_v4", ["1.2.3.4"])
    assert plans is None  # what-if: nothing rewritten (dx.py:376-388 guard)
    row = summary.collect()[0]
    assert row["num_deleted"] == 1 and row["table"] == "main.default.tb_1"


def test_delete_by_class_confirmed(dx):
    summary, plans = dx.delete_by_class("*.*.*", "ip_v4", ["1.2.3.4"],
                                        yes_i_am_sure=True)
    surviving = plans["main.default.tb_1"]
    assert surviving.count() == 1
    assert surviving.first()["ip"] == "3.4.5.60"


def test_scrub_by_classes(dx):
    out = dx.scrub_by_classes("main.default.tb_2")
    df = out["main.default.tb_2"]
    assert set(r["email"] for r in df.collect()) == {"[REDACTED_EMAIL]"}


def test_msql_select(dx):
    df = dx.msql("SELECT [ip_v4] AS ip, id FROM main.default.tb_1 "
                 "WHERE [ip_v4] = '1.2.3.4'")
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["ip"] == "1.2.3.4"


def test_msql_unknown_class_raises(dx):
    with pytest.raises(ValueError, match="no classified tables"):
        dx.msql("SELECT [nonexistent_class] FROM main.default.tb_1")


def test_msql_what_if(dx, capsys):
    out = dx.msql("SELECT [ip_v4] FROM main.default.tb_1", what_if=True)
    assert out is None
    assert "FROM main.default.tb_1" in capsys.readouterr().out


# ---------------------------------------------------------------------------
# Msql compile goldens (reference msql_test.py:106-238 semantics)
# ---------------------------------------------------------------------------

CLASSIFIED = [
    ("c", "s", "t1", "email_col", "email"),
    ("c", "s", "t1", "ip_col", "ip_v4"),
    ("c", "s", "t2", "email_col_a", "email"),
    ("c", "s", "t2", "email_col_b", "email"),
]


def test_msql_compile_single():
    rows = Msql("SELECT [email] FROM c.s.t1").build(CLASSIFIED)
    assert rows == [SQLRow("c", "s", "t1", "SELECT `email_col` FROM c.s.t1")]


def test_msql_compile_cartesian():
    rows = Msql("SELECT [email] FROM c.s.*").build(CLASSIFIED)
    assert [r.sql for r in rows] == [
        "SELECT `email_col` FROM c.s.t1",
        "SELECT `email_col_a` FROM c.s.t2",
        "SELECT `email_col_b` FROM c.s.t2",
    ]


def test_msql_compile_multi_class_product():
    rows = Msql("SELECT [email], [ip_v4] FROM c.s.*").build(CLASSIFIED)
    # t2 has no ip_v4 → skipped entirely (msql.py:94-100)
    assert [r.sql for r in rows] == [
        "SELECT `email_col`, `ip_col` FROM c.s.t1",
    ]


def test_msql_requires_class_and_from():
    with pytest.raises(ValueError):
        Msql("SELECT x FROM c.s.t")        # no [class]
    with pytest.raises(ValueError):
        Msql("SELECT [email] FROM badname")  # bad FROM
    with pytest.raises(ValueError):
        Msql("DROP TABLE [email]")           # command not allowed


def test_msql_delete_command_accepted():
    q = Msql("DELETE FROM c.s.t1 WHERE [ip_v4] = '1.2.3.4'")
    rows = q.build(CLASSIFIED)
    assert rows[0].sql == "DELETE FROM c.s.t1 WHERE `ip_col` = '1.2.3.4'"


# ---------------------------------------------------------------------------
# Explorer
# ---------------------------------------------------------------------------

def test_explorer_template_apply(dx):
    out = (dx.from_tables("main.default.*")
           .with_sql("SELECT COUNT(*) AS n FROM {full_table_name}")
           .apply())
    rows = {r["table_name"]: r["n"] for r in out.collect()}
    assert rows == {"tb_1": 2, "tb_2": 2}
    assert set(out.columns) == {"n", "table_catalog", "table_schema",
                                "table_name"}


def test_explorer_having_columns(dx):
    ex = dx.from_tables("*.*.*").having_columns("ip", "mac")
    assert ex.table_names() == ["main.default.tb_1"]


def test_explorer_stack_template(dx):
    out = (dx.from_tables("main.default.tb_1")
           .with_sql("SELECT {stack_string_columns} AS (col, val) "
                     "FROM {full_table_name}")
           .apply())
    vals = {(r["col"], r["val"]) for r in out.collect()}
    assert ("ip", "1.2.3.4") in vals and ("mac", "00-B0-D0-63-C2-24") in vals


def test_explorer_unpivot_string_columns(dx):
    """Named spelling of the stack template (reference
    explorer.py:127-143): same rows as the {stack_string_columns} form,
    and sample_size bounds rows per table via TABLESAMPLE."""
    out = dx.from_tables("main.default.tb_1").unpivot_string_columns().apply()
    vals = {(r["column_name"], r["string_value"]) for r in out.collect()}
    assert ("ip", "1.2.3.4") in vals and ("mac", "00-B0-D0-63-C2-24") in vals

    sampled = (dx.from_tables("main.default.tb_1")
               .unpivot_string_columns(sample_size=1).apply())
    # 1 sampled row × n string columns of tb_1
    src = dx.registry.get("main.default.tb_1")
    n_str = sum(1 for f in src.schema.fields
                if f.dataType.simpleString() == "string")
    assert sampled.count() == n_str


def test_explorer_unpivot_all_columns(dx):
    """All-column melt casts non-strings to string
    (reference explorer.py:145-160)."""
    out = dx.from_tables("main.default.tb_2").unpivot_all_columns().apply()
    cols = {r["column_name"] for r in out.collect()}
    # every column of tb_2 appears, including non-string ones
    src_cols = set(dx.registry.get("main.default.tb_2").columns)
    assert cols == src_cols


def test_explorer_data_source_format_filter(spark):
    from discoverx_spark.dx import DX
    d = DX(spark)
    d.registry.register("c.s.pq", spark.createDataFrame(
        [(1, "a")], "id int, v string"))
    d.registry.register("c.s.csvt", spark.createDataFrame(
        [(1, "b")], "id int, v string"), data_source_format="CSV")
    ex = d.from_tables("c.s.*")
    assert sorted(ex.table_names()) == ["c.s.csvt", "c.s.pq"]
    assert ex.with_data_source_formats(["PARQUET"]).table_names() == \
        ["c.s.pq"]
    assert ex.with_data_source_formats(["CSV"]).table_names() == ["c.s.csvt"]
    # default: production formats (ICEBERG) + the sandbox emulation
    assert ex.with_data_source_formats().table_names() == ["c.s.pq"]


def test_explorer_explain(dx, capsys):
    sqls = (dx.from_tables("main.default.tb_2")
            .with_sql("SELECT COUNT(*) AS n FROM {full_table_name}").explain())
    assert sqls == ["SELECT COUNT(*) AS n FROM main.default.tb_2"]
    assert "tb_2" in capsys.readouterr().out


def test_explorer_having_tag(spark):
    from discoverx_spark.dx import DX
    d = DX(spark)
    d.registry.register("c.s.pii_table", spark.createDataFrame(
        [(1, "a@b.org")], "id int, email string"), tags={"pii": "true"})
    d.registry.register("c.s.clean_table", spark.createDataFrame(
        [(1, "x")], "id int, v string"), tags={"pii": "false"})
    ex = d.from_tables("c.s.*")
    assert ex.having_tag("pii", "true").table_names() == ["c.s.pii_table"]
    assert sorted(ex.having_tag("pii").table_names()) == \
        ["c.s.clean_table", "c.s.pii_table"]
    assert d.registry.tags("c.s.pii_table") == {"pii": "true"}


def test_explorer_map(dx):
    counts = dict(dx.from_tables("main.default.*")
                  .map(lambda name, df: (name, df.count())))
    assert counts["main.default.tb_1"] == 2


def test_intro_mentions_the_lifecycle(spark):
    from discoverx_spark.dx import DX
    text = DX(spark).intro()
    for kw in ("register", "scan", "search", "scrub_by_classes",
               "display_rules"):
        assert kw in text


def test_duplicate_class_columns_select_and_delete(spark):
    d = DX(spark, locale="us")
    d.register("main.default.dup", spark.createDataFrame(
        [(1, "a@x.org", "b@y.org"), (2, "c@z.org", "a@x.org"),
         (3, "keep@me.org", "safe@too.org")],
        "id int, email_1 string, email_2 string"))
    d.scan(sample_size=None)
    # two columns share the 'email' class: the classified map must not
    # crash on duplicate keys (keys become class:column)
    rows = d.select_by_classes(by_classes=["email"]).collect()
    assert len(rows) == 3
    keys = set(rows[0]["classified"].keys())
    assert keys == {"email:email_1", "email:email_2"}
    # delete must remove rows matching EITHER column, not just the last
    summary, plans = d.delete_by_class(
        "main.default.dup", "email", ["a@x.org"], yes_i_am_sure=True)
    surviving = plans["main.default.dup"].collect()
    assert [r["id"] for r in surviving] == [3]


@pytest.mark.parametrize("call", [
    lambda d: d.delete_by_class("main.default", "email", ["a@b.org"],
                                yes_i_am_sure=True),
    lambda d: d.select_by_classes("main.default"),
    lambda d: d.scrub_by_classes("main.default"),
    lambda d: d.from_tables("main.default").table_names(),
], ids=["delete_by_class", "select_by_classes", "scrub_by_classes",
        "from_tables"])
def test_delete_by_class_rejects_malformed_pattern(dx, call):
    # every path that resolves a table pattern shares one check: a
    # two-part pattern must not silently match a whole schema
    with pytest.raises(ValueError, match="catalog.schema.table"):
        call(dx)


# ---------------------------------------------------------------------------
# Shared SQL-unit runner: per-unit isolation and FROM/JOIN rewriting
# ---------------------------------------------------------------------------

def test_msql_isolates_unregistered_table(dx):
    classified = dx.scan_result.get_classes(0.95) + [
        ("main", "gone", "t", "email", "email")]
    df = Msql("SELECT [email] AS e FROM main.*.*").execute(
        dx.spark, dx.registry, classified)
    assert sorted(r["e"] for r in df.collect()) == ["a@b.org", "x@y.museum"]
    assert {r["table_name"] for r in df.collect()} == {"tb_2"}


def test_explorer_isolates_failing_unit(dx):
    ex = (dx.from_tables("main.default.*")
          .with_sql("SELECT id, email FROM {full_table_name}"))
    with pytest.warns(UserWarning, match=r"1 unit\(s\) failed"):
        out = ex.apply()
    rows = sorted((r["table_name"], r["id"]) for r in out.collect())
    assert rows == [("tb_2", 1), ("tb_2", 2)]


def test_msql_self_join(dx):
    df = dx.msql("SELECT a.[email] AS e, b.id FROM main.default.tb_2 a "
                 "JOIN main.default.tb_2 b ON a.id = b.id")
    assert sorted((r["e"], r["id"]) for r in df.collect()) == \
        [("a@b.org", 1), ("x@y.museum", 2)]
