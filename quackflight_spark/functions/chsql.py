"""ClickHouse-compat scalar functions (the chsql surface), Spark-native.

The reference installs/loads the `chsql` DuckDB community extension at
startup (reference main.py:83-86) so ClickHouse-dialect queries resolve.
Our equivalent: register the same-named functions on the SparkSession
(`register_chsql_functions`, run by session.get_spark;
`ensure_chsql_functions` for sessions built elsewhere). Each one is a
Spark 4 SQL function (``CREATE TEMPORARY FUNCTION ... RETURN <expr>``)
whose body composes built-in Catalyst expressions — no Python UDFs, so
Catalyst inlines the body and the whole surface stays inside
WholeStageCodegen. The dialect frontend (plans/dialect.py) does not
rewrite these call sites; it rewrites only the variadic multiIf.
"""

from __future__ import annotations

from pyspark.sql import SparkSession

def _fmt_readable_sql(
    x: str, div: str, base: int, suffixes: list[str]
) -> str:
    """CASE-ladder SQL for ClickHouse formatReadableSize/-Quantity,
    parameterized on the integer-division token so the IDENTICAL logic
    emits Spark SQL (`DIV`) and DuckDB SQL (`//`). Two decimals by
    integer truncation — no float printf, no libm, deterministic on any
    engine with BIGINT division. Input below 2^56 stays inside BIGINT
    through the *100 scaling."""
    branches = []
    for k, suffix in enumerate(suffixes):
        scale = base ** k
        v100 = f"(({x}) * 100 {div} {scale})"
        s = (
            f"CONCAT(CAST({v100} {div} 100 AS STRING), '.', "
            f"LPAD(CAST({v100} % 100 AS STRING), 2, '0'), '{suffix}')"
        )
        if k < len(suffixes) - 1:
            branches.append(f"WHEN ({x}) < {base ** (k + 1)} THEN {s}")
        else:
            branches.append(f"ELSE {s}")
    return "(CASE " + " ".join(branches) + " END)"


# ClickHouse name -> Spark SQL expression template ({0}, {1}, ... args):
# the body of the session function `register_chsql_functions` creates,
# typed by CHSQL_SIGNATURES. Keeping this table data-driven makes the
# surface auditable. ClickHouse's if, lcase and ucase are absent: they are
# Spark built-ins of the same meaning, which refuse a replacement.
CHSQL_REWRITES: dict[str, str] = {
    # type casts
    "toString": "CAST({0} AS STRING)",
    "toInt8": "CAST({0} AS TINYINT)",
    "toInt16": "CAST({0} AS SMALLINT)",
    "toInt32": "CAST({0} AS INT)",
    "toInt64": "CAST({0} AS BIGINT)",
    "toUInt8": "CAST({0} AS SMALLINT)",
    "toUInt16": "CAST({0} AS INT)",
    "toUInt32": "CAST({0} AS BIGINT)",
    "toUInt64": "CAST({0} AS BIGINT)",
    "toFloat32": "CAST({0} AS FLOAT)",
    "toFloat64": "CAST({0} AS DOUBLE)",
    # date/time
    "toDate": "CAST({0} AS DATE)",
    "toDateTime": "CAST({0} AS TIMESTAMP)",
    "formatDateTime": "DATE_FORMAT({0}, {1})",
    "toYYYYMM": "CAST(DATE_FORMAT({0}, 'yyyyMM') AS INT)",
    "toYYYYMMDD": "CAST(DATE_FORMAT({0}, 'yyyyMMdd') AS INT)",
    "toStartOfDay": "DATE_TRUNC('DAY', {0})",
    "toStartOfMonth": "CAST(DATE_TRUNC('MONTH', {0}) AS DATE)",
    "toStartOfYear": "CAST(DATE_TRUNC('YEAR', {0}) AS DATE)",
    "toStartOfHour": "DATE_TRUNC('HOUR', {0})",
    "toStartOfMinute": "DATE_TRUNC('MINUTE', {0})",
    "toStartOfWeek": "CAST(DATE_TRUNC('WEEK', {0}) AS DATE)",
    "toYear": "YEAR({0})",
    "toMonth": "MONTH({0})",
    "toDayOfMonth": "DAY({0})",
    "toHour": "HOUR({0})",
    "toMinute": "MINUTE({0})",
    "toSecond": "SECOND({0})",
    # math / int
    "intDiv": "CAST(FLOOR({0} / {1}) AS BIGINT)",
    "intDivOrZero": "CAST(CASE WHEN {1} = 0 THEN 0 ELSE FLOOR({0} / {1}) END AS BIGINT)",
    "plus": "({0} + {1})",
    "minus": "({0} - {1})",
    "multiply": "({0} * {1})",
    "divide": "({0} / {1})",
    "modulo": "({0} % {1})",
    # string / regex
    "match": "({0} RLIKE {1})",
    "empty": "(LENGTH({0}) = 0)",
    "notEmpty": "(LENGTH({0}) > 0)",
    "leftPad": "LPAD({0}, {1}, {2})",
    "rightPad": "RPAD({0}, {1}, {2})",
    # every whole match: REGEXP_EXTRACT_ALL's default is group 1, which
    # fails on a pattern without groups (ClickHouse takes the first group
    # when the pattern has one)
    "extractAll": "REGEXP_EXTRACT_ALL({0}, {1}, 0)",
    "splitByChar": "SPLIT({0}, {1})",
    # URL
    "domain": "PARSE_URL({0}, 'HOST')",
    "path": "PARSE_URL({0}, 'PATH')",
    "protocol": "PARSE_URL({0}, 'PROTOCOL')",
    # IPv4
    "IPv4NumToString": (
        "CONCAT(CAST(({0} DIV 16777216) % 256 AS STRING), '.',"
        " CAST(({0} DIV 65536) % 256 AS STRING), '.',"
        " CAST(({0} DIV 256) % 256 AS STRING), '.',"
        " CAST({0} % 256 AS STRING))"
    ),
    "IPv4StringToNum": (
        "(CAST(SPLIT({0}, '\\\\.')[0] AS BIGINT) * 16777216"
        " + CAST(SPLIT({0}, '\\\\.')[1] AS BIGINT) * 65536"
        " + CAST(SPLIT({0}, '\\\\.')[2] AS BIGINT) * 256"
        " + CAST(SPLIT({0}, '\\\\.')[3] AS BIGINT))"
    ),
    # human-readable formatting (ClickHouse formatReadable*). Contract:
    # truncate-to-2-decimals integer arithmetic (no float printf), so the
    # string is deterministic on every engine that can do BIGINT division.
    "formatReadableSize": _fmt_readable_sql("{0}", "DIV", 1024,
                                            [" B", " KiB", " MiB", " GiB",
                                             " TiB", " PiB", " EiB"]),
    "formatReadableQuantity": _fmt_readable_sql("{0}", "DIV", 1000,
                                                ["", " thousand", " million",
                                                 " billion", " trillion",
                                                 " quadrillion"]),
    # JSON
    "JSONExtractString": "GET_JSON_OBJECT({0}, CONCAT('$.', {1}))",
    "JSONExtractInt": "CAST(GET_JSON_OBJECT({0}, CONCAT('$.', {1})) AS BIGINT)",
    "JSONExtractFloat": "CAST(GET_JSON_OBJECT({0}, CONCAT('$.', {1})) AS DOUBLE)",
    "JSONHas": "(GET_JSON_OBJECT({0}, CONCAT('$.', {1})) IS NOT NULL)",
}

# multiIf(c1, v1, c2, v2, ..., else) is variadic — handled structurally in
# the dialect frontend (plans/dialect.py), not by a fixed-arity template.

# Typed signatures for session-function registration (Spark SQL UDFs need
# concrete parameter/return types; implicit casts cover mixed call sites).
# name -> (param_types, return_type), one per CHSQL_REWRITES entry.
# plus/minus/multiply compute in DOUBLE (exact for integers below 2^53),
# where ClickHouse keeps an integer result type.
CHSQL_SIGNATURES: dict[str, tuple[tuple[str, ...], str]] = {
    "toString": (("STRING",), "STRING"),
    "toInt8": (("DOUBLE",), "TINYINT"),
    "toInt16": (("DOUBLE",), "SMALLINT"),
    "toInt32": (("DOUBLE",), "INT"),
    "toInt64": (("DOUBLE",), "BIGINT"),
    "toUInt8": (("DOUBLE",), "SMALLINT"),
    "toUInt16": (("DOUBLE",), "INT"),
    "toUInt32": (("DOUBLE",), "BIGINT"),
    "toUInt64": (("DOUBLE",), "BIGINT"),
    "toFloat32": (("DOUBLE",), "FLOAT"),
    "toFloat64": (("DOUBLE",), "DOUBLE"),
    "toDate": (("TIMESTAMP",), "DATE"),
    "toDateTime": (("STRING",), "TIMESTAMP"),
    "formatDateTime": (("TIMESTAMP", "STRING"), "STRING"),
    "toYYYYMM": (("TIMESTAMP",), "INT"),
    "toYYYYMMDD": (("TIMESTAMP",), "INT"),
    "toStartOfDay": (("TIMESTAMP",), "TIMESTAMP"),
    "toStartOfMonth": (("TIMESTAMP",), "DATE"),
    "toStartOfYear": (("TIMESTAMP",), "DATE"),
    "toStartOfHour": (("TIMESTAMP",), "TIMESTAMP"),
    "toStartOfMinute": (("TIMESTAMP",), "TIMESTAMP"),
    "toStartOfWeek": (("TIMESTAMP",), "DATE"),
    "toYear": (("TIMESTAMP",), "INT"),
    "toMonth": (("TIMESTAMP",), "INT"),
    "toDayOfMonth": (("TIMESTAMP",), "INT"),
    "toHour": (("TIMESTAMP",), "INT"),
    "toMinute": (("TIMESTAMP",), "INT"),
    "toSecond": (("TIMESTAMP",), "INT"),
    "intDiv": (("BIGINT", "BIGINT"), "BIGINT"),
    "intDivOrZero": (("BIGINT", "BIGINT"), "BIGINT"),
    "plus": (("DOUBLE", "DOUBLE"), "DOUBLE"),
    "minus": (("DOUBLE", "DOUBLE"), "DOUBLE"),
    "multiply": (("DOUBLE", "DOUBLE"), "DOUBLE"),
    "divide": (("DOUBLE", "DOUBLE"), "DOUBLE"),
    "modulo": (("BIGINT", "BIGINT"), "BIGINT"),
    "match": (("STRING", "STRING"), "BOOLEAN"),
    "empty": (("STRING",), "BOOLEAN"),
    "notEmpty": (("STRING",), "BOOLEAN"),
    "leftPad": (("STRING", "INT", "STRING"), "STRING"),
    "rightPad": (("STRING", "INT", "STRING"), "STRING"),
    "extractAll": (("STRING", "STRING"), "ARRAY<STRING>"),
    "splitByChar": (("STRING", "STRING"), "ARRAY<STRING>"),
    "domain": (("STRING",), "STRING"),
    "path": (("STRING",), "STRING"),
    "protocol": (("STRING",), "STRING"),
    "IPv4NumToString": (("BIGINT",), "STRING"),
    "IPv4StringToNum": (("STRING",), "BIGINT"),
    "formatReadableSize": (("BIGINT",), "STRING"),
    "formatReadableQuantity": (("BIGINT",), "STRING"),
    "JSONExtractString": (("STRING", "STRING"), "STRING"),
    "JSONExtractInt": (("STRING", "STRING"), "BIGINT"),
    "JSONExtractFloat": (("STRING", "STRING"), "DOUBLE"),
    "JSONHas": (("STRING", "STRING"), "BOOLEAN"),
}


def register_chsql_functions(spark: SparkSession) -> None:
    """Register the ClickHouse-compat surface as session SQL functions.

    Spark 4.x ``CREATE OR REPLACE TEMPORARY FUNCTION`` SQL UDFs: pure SQL
    bodies inlined by Catalyst, zero Python overhead, full codegen. A
    function that fails to register fails here, loudly: nothing else
    would resolve its name.
    """
    for name, (param_types, ret) in CHSQL_SIGNATURES.items():
        template = CHSQL_REWRITES[name]
        params = ", ".join(f"p{i} {t}" for i, t in enumerate(param_types))
        body = template.format(*[f"p{i}" for i in range(len(param_types))])
        spark.sql(
            f"CREATE OR REPLACE TEMPORARY FUNCTION {name}({params}) "
            f"RETURNS {ret} RETURN {body}"
        )


def ensure_chsql_functions(spark: SparkSession) -> None:
    """Idempotently register the chsql surface on *this* session.

    Queries that exercise chsql names via ``spark.sql`` (scalar_suite
    fn_cast_ch/fn_date_ch/fn_url_ip) must not assume the session came from
    session.get_spark — the correctness driver builds its own bare
    SparkSession, where the startup registration never ran. Guarded by a
    per-session attribute so repeated calls cost one getattr.
    """
    if getattr(spark, "_quackflight_chsql_registered", False):
        return
    register_chsql_functions(spark)
    try:
        spark._quackflight_chsql_registered = True
    except Exception:  # pragma: no cover - frozen session proxy
        pass
