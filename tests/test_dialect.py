"""Dialect-frontend tests: DuckDB/ClickHouse-isms → Spark SQL, executed
against real fixture views to prove the rewrites parse AND evaluate."""

from __future__ import annotations

import pytest
from pyspark.errors import AnalysisException

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
    # FORMAT inside a string literal or a comment is untouched
    sql, fmt = sanitize_query("SELECT 'FORMAT JSON'")
    assert fmt is None and "FORMAT" in sql
    assert sanitize_query("SELECT 1 -- FORMAT JSON") == ("SELECT 1 -- FORMAT JSON", None)


def test_count_zero_arg(spark):
    out = transpile("SELECT count() AS c FROM nation")
    assert "count(*" in out.lower()
    assert spark.sql(out).collect()[0]["c"] == 25


def test_backslash_escaped_quote_stays_in_literal(spark):
    """Spark's parser reads `\\'` inside a literal as an escaped quote, so the
    lexer must too, or a rewrite matches inside the string. Spark only:
    DuckDB reads the backslash as a plain character, so this case is not
    in the DuckDB corpus."""
    q = r"""SELECT 'it\'s count() here' AS s, "a \" count() b" AS d"""
    row = spark.sql(transpile(q)).collect()[0]
    assert row["s"] == "it's count() here"
    assert row["d"] == 'a " count() b'


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


def test_chsql_functions_callable_on_fresh_session(spark):
    """Every chsql name is a session function (no dialect rewrite stands
    in for a missing one), including the arithmetic and extractAll."""
    from quackflight_spark.functions.chsql import (
        CHSQL_REWRITES,
        CHSQL_SIGNATURES,
        ensure_chsql_functions,
    )

    assert set(CHSQL_REWRITES) == set(CHSQL_SIGNATURES)
    fresh = spark.newSession()
    ensure_chsql_functions(fresh)
    row = fresh.sql(
        "SELECT plus(1, 2) AS p, minus(1, 2.5) AS m, multiply(3, 4) AS x,"
        " divide(1, 4) AS d, extractAll('a1b22c', '[0-9]+') AS e,"
        " extractAll('abc', '[0-9]') AS none"
    ).collect()[0]
    assert (row["p"], row["m"], row["x"], row["d"]) == (3.0, -1.5, 12.0, 0.25)
    assert row["e"] == ["1", "22"] and row["none"] == []


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


# --- differential corpus: DuckDB 1.0.0 (the reference engine) against
# spark.sql(transpile(q)), both through tools/check.py's canonicalizer.
# Entries are (served SQL, DuckDB SQL or None when the served SQL runs on
# DuckDB as it is). Every computed column is aliased: the two engines name
# unaliased expressions differently.

_MULTIIF_REF = ("SELECT CASE WHEN n_regionkey = 0 THEN 'a' WHEN n_regionkey = 1 THEN 'b' "
                "ELSE 'z' END AS x FROM nation WHERE n_nationkey = 0")
_QUALIFY_GROUPED = ("SELECT c_nationkey, count() AS n FROM customer GROUP BY {group} "
                    "QUALIFY row_number() OVER (ORDER BY n DESC, c_nationkey) <= 3 "
                    "ORDER BY n DESC")

CORPUS = [
    # the transpile inputs of the tests above
    ("SELECT count() AS c FROM nation", None),
    ("SELECT '42'::INTEGER AS i, n_nationkey::VARCHAR AS s FROM nation LIMIT 1", None),
    ("SELECT nation.n_nationkey::BIGINT AS k FROM nation LIMIT 1", None),
    ("SELECT abs(-3)::DOUBLE AS d", None),
    ("SELECT o_totalprice::DECIMAL(18,2) AS p FROM orders LIMIT 1", None),
    ("SELECT n_name, n_regionkey, FROM nation", None),
    ("SELECT read_parquet.l_returnflag AS f, count() AS c "
     "FROM read_parquet('{sf}/lineitem.parquet') "
     "WHERE read_parquet.l_returnflag == 'R' GROUP BY f", None),
    ("SELECT town, district, count() AS c "
     "FROM (SELECT l_returnflag AS town, l_linestatus AS district "
     "      FROM read_parquet('{sf}/lineitem.parquet')) t "
     "WHERE town == 'R' GROUP BY town, district ORDER BY c DESC LIMIT 10 "
     "FORMAT JSONCompact", None),
    ("SELECT multiIf(n_regionkey = 0, 'a', n_regionkey = 1, 'b', 'z') AS x "
     "FROM nation WHERE n_nationkey = 0", _MULTIIF_REF),
    ("SELECT o_custkey, o_orderkey FROM orders QUALIFY row_number() OVER "
     "(PARTITION BY o_custkey ORDER BY o_totalprice DESC) <= 2", None),
    ("SELECT DISTINCT ON (o_custkey) o_custkey, o_orderkey, o_totalprice "
     "FROM orders ORDER BY o_totalprice DESC, o_orderkey", None),
    ("SELECT * EXCLUDE (n_name) FROM nation LIMIT 1", None),
    ("SELECT 1 AS exclude", None),
    ("SELECT n_regionkey, count(*) AS n FROM nation GROUP BY ALL ORDER BY ALL", None),
    ("SELECT * EXCEPT (n_name) FROM nation", "SELECT * EXCLUDE (n_name) FROM nation"),
    ("FROM nation", None),
    ("FROM nation WHERE n_regionkey = 0", None),
    ("SELECT n_name FROM nation", None),
    ("FROM nation SELECT n_name LIMIT 1", None),
    ("FROM (SELECT n_name FROM nation) s", None),
    ("SELECT 'read_parquet.x' AS s", None),
    ("SELECT 'multiIf(a, b)' AS s", None),
    ("SELECT 'x' AS s -- multiIf(\nFROM nation WHERE n_nationkey < 2", None),
    ("SELECT DISTINCT ON (g) g, id FROM (SELECT n_regionkey AS g, n_nationkey AS id "
     "FROM nation ORDER BY id) s ORDER BY g, id", None),
    # QUALIFY over an aggregate, with a select-list alias inside OVER (…)
    (_QUALIFY_GROUPED.format(group="c_nationkey"), None),
    # … on a source column the projection drops
    ("SELECT o_orderkey FROM orders QUALIFY row_number() OVER "
     "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1", None),
    # … before DISTINCT: the top 5 orders' statuses, not the statuses' top 5
    ("SELECT DISTINCT o_orderstatus FROM orders "
     "QUALIFY row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) <= 5", None),
    # … with ORDER BY and LIMIT tails
    ("SELECT o_custkey, o_orderkey, o_totalprice FROM orders QUALIFY row_number() OVER "
     "(PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) <= 2 "
     "ORDER BY o_totalprice DESC, o_orderkey LIMIT 7", None),
    # … on a window column's alias
    ("SELECT o_custkey, o_orderkey, row_number() OVER (PARTITION BY o_custkey "
     "ORDER BY o_orderkey) AS rn FROM orders QUALIFY rn = 1", None),
    # … where an alias shadows a source column: the source column is meant
    ("SELECT o_custkey, -o_totalprice AS o_totalprice FROM orders QUALIFY row_number() "
     "OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) = 1", None),
    ("SELECT o_custkey % 10 AS o_custkey, o_orderkey FROM orders QUALIFY row_number() "
     "OVER (PARTITION BY o_custkey ORDER BY o_orderkey) = 1", None),
    # … ordered by a source column, or an aggregate, the projection drops
    ("SELECT o_orderkey FROM orders QUALIFY row_number() OVER (PARTITION BY o_custkey "
     "ORDER BY o_totalprice DESC, o_orderkey) = 1 ORDER BY o_totalprice DESC, o_orderkey "
     "LIMIT 5", None),
    ("SELECT c_nationkey FROM customer GROUP BY c_nationkey QUALIFY row_number() "
     "OVER (ORDER BY count(*) DESC, c_nationkey) <= 10 "
     "ORDER BY count(*) DESC, c_nationkey LIMIT 3", None),
]


def _dashboard_corpus() -> list[tuple[str, str]]:
    """The served dashboard templates, instantiated with a fixed seed."""
    import random

    from servebench.workloads import DASHBOARD

    rng = random.Random(0)
    return [(served.format(db="", **p), (ref or served).format(db="", **p))
            for served, ref, params in DASHBOARD for p in [params(rng)]]


@pytest.fixture(scope="module")
def duck(sf_dir):
    duckdb = pytest.importorskip("duckdb")
    con = duckdb.connect()
    for t in ("nation", "region", "customer", "orders", "lineitem", "supplier", "part"):
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{sf_dir}/{t}.parquet')")
    yield con
    con.close()


def test_dialect_corpus_matches_duckdb(spark, duck, sf_dir):
    from tools.check import canonical_frame

    corpus = [(q.format(sf=sf_dir), (ref or q).format(sf=sf_dir)) for q, ref in CORPUS]
    failures = []
    for q, ref in corpus + _dashboard_corpus():
        want = canonical_frame(duck.execute(sanitize_query(ref)[0]).df())[:2]
        got = canonical_frame(spark.sql(transpile(q)).toPandas())[:2]
        if got != want:
            failures.append((q, got, want))
    assert not failures, failures


def test_qualify_group_by_all_equals_explicit(spark):
    """DuckDB 1.0.0 rejects QUALIFY with GROUP BY ALL, so this form is
    checked against the explicit GROUP BY form on Spark only."""
    def rows(group):
        return spark.sql(transpile(_QUALIFY_GROUPED.format(group=group))).collect()

    assert rows("ALL") == rows("c_nationkey") and len(rows("ALL")) == 3
    # ORDER BY on a column GROUP BY ALL does not group stays an error: a
    # hidden column for it would silently become a grouping key
    with pytest.raises(AnalysisException):
        spark.sql(transpile("SELECT c_nationkey FROM customer GROUP BY ALL QUALIFY row_number() "
                            "OVER (ORDER BY c_nationkey) <= 3 ORDER BY c_name")).collect()
