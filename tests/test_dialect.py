"""Dialect-frontend tests: DuckDB/ClickHouse-isms → Spark SQL, executed
against real fixture views to prove the rewrites parse AND evaluate."""

from __future__ import annotations

import pytest

from quackflight_spark.plans.dialect import (
    run_script,
    sanitize_query,
    split_statements,
    strip_catalog_prefix,
    transpile,
)


@pytest.fixture(scope="module", autouse=True)
def views(spark, sf_dir):
    from quackflight_spark.sources.fixtures import register_all

    register_all(spark, sf_dir)


def test_sanitize_format():
    sql, fmt = sanitize_query("SELECT 1 FORMAT JSONCompact")
    assert sql == "SELECT 1" and fmt == "JSONCompact"
    sql, fmt = sanitize_query("SELECT 1;")
    assert fmt is None
    # FORMAT inside a string literal is untouched
    sql, fmt = sanitize_query("SELECT 'FORMAT JSON'")
    assert fmt is None and "FORMAT" in sql


def test_count_zero_arg(spark):
    out = transpile("SELECT count() AS c FROM nation")
    assert "count(*" in out.lower()
    assert spark.sql(out).collect()[0]["c"] == 25


def test_dcolon_cast(spark):
    out = transpile("SELECT '42'::INTEGER AS i, n_nationkey::VARCHAR AS s FROM nation LIMIT 1")
    row = spark.sql(out).collect()[0]
    assert row["i"] == 42 and isinstance(row["s"], str)


def test_dcolon_cast_dotted_and_call(spark):
    out = transpile("SELECT nation.n_nationkey::BIGINT AS k FROM nation LIMIT 1")
    assert spark.sql(out).collect()[0]["k"] == 0
    out = transpile("SELECT abs(-3)::DOUBLE AS d")
    assert spark.sql(out).collect()[0]["d"] == 3.0
    out = transpile("SELECT o_totalprice::DECIMAL(18,2) AS p FROM orders LIMIT 1")
    spark.sql(out).collect()


def test_trailing_comma(spark):
    out = transpile("SELECT n_name, n_regionkey, FROM nation")
    assert spark.sql(out).count() == 25


def test_read_parquet_rewrite(spark, sf_dir):
    q = transpile(
        f"SELECT read_parquet.l_returnflag AS f, count() AS c "
        f"FROM read_parquet('{sf_dir}/lineitem.parquet') "
        f"WHERE read_parquet.l_returnflag == 'R' GROUP BY f"
    )
    rows = spark.sql(q).collect()
    assert rows[0]["f"] == "R" and rows[0]["c"] > 0


def test_readme_demo_shape(spark, sf_dir):
    """The reference's README demo query (README.md:5), verbatim shape,
    through the frontend."""
    q = (
        f"SELECT town, district, count() AS c "
        f"FROM (SELECT l_returnflag AS town, l_linestatus AS district "
        f"      FROM read_parquet('{sf_dir}/lineitem.parquet')) t "
        f"WHERE town == 'R' GROUP BY town, district ORDER BY c DESC LIMIT 10 "
        f"FORMAT JSONCompact"
    )
    sql, fmt = sanitize_query(q)
    assert fmt == "JSONCompact"
    rows = spark.sql(transpile(sql)).collect()
    assert len(rows) > 0 and rows[0]["town"] == "R"


def test_multiif(spark):
    out = transpile(
        "SELECT multiIf(n_regionkey = 0, 'a', n_regionkey = 1, 'b', 'z') AS x "
        "FROM nation WHERE n_nationkey = 0"
    )
    assert spark.sql(out).collect()[0]["x"] in ("a", "b", "z")


def test_qualify(spark):
    out = transpile(
        "SELECT o_custkey, o_orderkey FROM orders "
        "QUALIFY row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC) <= 2"
    )
    df = spark.sql(out)
    assert "__q" not in df.columns
    counts = df.groupBy("o_custkey").count().agg({"count": "max"}).collect()[0][0]
    assert counts <= 2


def test_distinct_on(spark):
    out = transpile(
        "SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice "
        "FROM orders ORDER BY o_totalprice DESC, o_orderkey"
    )
    df = spark.sql(out)
    assert "__rn" not in df.columns
    # one row per custkey
    assert df.count() == df.select("o_custkey").distinct().count()


def test_strip_catalog_prefix():
    assert (
        strip_catalog_prefix("SELECT * FROM deltalake.s.t WHERE x = 'deltalake.y'")
        == "SELECT * FROM s.t WHERE x = 'deltalake.y'"
    )


def test_split_statements():
    s = split_statements("CREATE TABLE t AS SELECT 1; SELECT ';' AS semi; ")
    assert len(s) == 2
    assert s[1] == "SELECT ';' AS semi"


def test_run_script_returns_last(spark):
    df = run_script(
        spark,
        "CREATE OR REPLACE TEMPORARY VIEW _dlt AS SELECT version(), now(); "
        "SELECT * FROM _dlt;",
    )
    assert df is not None and df.count() == 1


def test_show_all_tables_dedupes_temp_views_and_rejects_qualifiers(spark):
    """SHOW ALL TABLES lists a session temp view exactly once (Spark's
    listTables repeats temp views under every database); a qualified
    'SHOW ALL TABLES FROM db' is NOT the DuckDB statement and must not
    silently execute the bare form."""
    spark.sql("CREATE OR REPLACE TEMPORARY VIEW _sat_probe AS SELECT 1 AS x")
    try:
        out = run_script(spark, "SHOW ALL TABLES").collect()
        probe = [r for r in out if r["name"] == "_sat_probe"]
        assert len(probe) == 1, probe
        assert probe[0]["database"] == "temp"
        with pytest.raises(Exception):
            run_script(spark, "SHOW ALL TABLES FROM nowhere_db")
    finally:
        spark.catalog.dropTempView("_sat_probe")


def test_python_udtf_lateral(spark):
    """§2.10(c): Python UDTF as a SQL table function with LATERAL."""
    from quackflight_spark.functions.udtf_demo import register_udtfs

    register_udtfs(spark)
    rows = spark.sql(
        "SELECT n_name, word, pos FROM nation, "
        "LATERAL split_words(replace(n_name, '_', ' ')) WHERE n_nationkey = 3"
    ).collect()
    assert [r["word"] for r in rows] == ["NATION", "3"]
    assert [r["pos"] for r in rows] == [0, 1]


def test_all_chsql_functions_registered(spark):
    """Every typed chsql signature must resolve as a session function."""
    from quackflight_spark.functions.chsql import CHSQL_SIGNATURES

    for name in CHSQL_SIGNATURES:
        spark.sql(f"DESCRIBE FUNCTION {name}").collect()


def test_star_exclude_rewrite(spark):
    out = transpile("SELECT * EXCLUDE (n_name) FROM nation LIMIT 1")
    assert "EXCEPT" in out and "EXCLUDE" not in out.upper()
    cols = spark.sql(out).columns
    assert "n_name" not in cols and "n_nationkey" in cols
    # a column/alias literally named exclude is not touched
    assert "EXCLUDE" not in transpile("SELECT 1 AS exclude").upper().split("AS")[0]


def test_duckdb_group_order_by_all_native(spark):
    """GROUP BY ALL / ORDER BY ALL / * EXCEPT are DuckDB idioms Spark ≥3.4
    accepts natively — the frontend must pass them through unchanged."""
    sql = ("SELECT n_regionkey, count(*) AS n FROM nation "
           "GROUP BY ALL ORDER BY ALL")
    rows = spark.sql(transpile(sql)).collect()
    assert len(rows) == 5 and rows[0]["n_regionkey"] == 0
    assert "n_name" not in spark.sql(
        transpile("SELECT * EXCEPT (n_name) FROM nation")
    ).columns


def test_leading_from_shorthand(spark):
    assert transpile("FROM nation").startswith("SELECT *")
    assert spark.sql(transpile("FROM nation")).count() == 25
    rows = spark.sql(transpile("FROM nation WHERE n_regionkey = 0")).collect()
    assert all(r["n_regionkey"] == 0 for r in rows)
    # FROM in normal position untouched
    assert not transpile("SELECT n_name FROM nation").startswith("SELECT * ")
    # FROM-first with an explicit SELECT is native Spark SQL: no prefix
    sql = "FROM nation SELECT n_name LIMIT 1"
    assert transpile(sql) == sql
    assert spark.sql(transpile(sql)).columns == ["n_name"]
    # a SELECT inside a subquery is not the statement's own SELECT
    sub = transpile("FROM (SELECT n_name FROM nation) s")
    assert sub.startswith("SELECT * ") and spark.sql(sub).count() == 25


def test_summarize_statement(spark):
    out = run_script(spark, "SUMMARIZE nation")
    stats = {r["summary"] for r in out.collect()}
    assert {"count", "min", "max", "mean"} <= stats
    # works over a subquery too
    out2 = run_script(spark, "SUMMARIZE SELECT n_regionkey FROM nation")
    assert out2.columns == ["summary", "n_regionkey"]
