"""ClickHouse-compatible result formats — SURVEY.md §2.1 S12-S16.

The reference renders DuckDB results into five ClickHouse HTTP formats
(converters at reference main.py:135-193, dispatch :233-246):

- JSONCompact  meta/data/rows/statistics envelope  (main.py:145-160)
- JSON         row-objects envelope                (main.py:163-181)
- JSONEachRow  NDJSON                              (main.py:135-142)
- TSV / CSV    header + rows                       (main.py:184-193)
- default      JSON array of row arrays            (main.py:243-246)

Both protocols take results off the engine through `arrow_batches`: Arrow
record batches streamed partition by partition. Flight sends them as they
are; the serializers here render their `to_pylist()` values. Deliberate
deviations from reference bugs (SURVEY §7 "not to replicate"):
- CSV output IS quoted/escaped (reference does bare str() — main.py:191);
  TSV escapes tabs/newlines.
- Type names in meta are ClickHouse names mapped from Spark types (the
  reference leaks raw DuckDB names).
- DECIMALs are exact JSON numbers and NaN is `nan` in TSV/CSV, as
  ClickHouse writes them.
"""

from __future__ import annotations

import contextlib
import csv
import io
import json
import math
import socket
from datetime import date, datetime
from decimal import Decimal
from json.encoder import encode_basestring
from typing import Any, Iterator

import pyarrow as pa
from py4j.protocol import Py4JJavaError
from pyspark.errors.exceptions.captured import UnknownException, convert_exception
from pyspark.serializers import NoOpSerializer, read_int, write_int
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.util import local_connect_and_auth

_CH_TYPE = {
    T.StringType: "String",
    T.LongType: "Int64",
    T.IntegerType: "Int32",
    T.ShortType: "Int16",
    T.ByteType: "Int8",
    T.DoubleType: "Float64",
    T.FloatType: "Float32",
    T.BooleanType: "Bool",
    T.DateType: "Date",
    T.TimestampType: "DateTime64(6)",
    T.BinaryType: "String",
}


def ch_type_name(dt: T.DataType) -> str:
    if isinstance(dt, T.DecimalType):
        return f"Decimal({dt.precision}, {dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"Array({ch_type_name(dt.elementType)})"
    if isinstance(dt, T.MapType):
        return f"Map({ch_type_name(dt.keyType)}, {ch_type_name(dt.valueType)})"
    if isinstance(dt, T.StructType):
        inner = ", ".join(f"{f.name} {ch_type_name(f.dataType)}" for f in dt.fields)
        return f"Tuple({inner})"
    return _CH_TYPE.get(type(dt), dt.simpleString())


def arrow_schema(df: DataFrame) -> pa.Schema:
    """The Arrow schema of `df`'s result, from Catalyst analysis only."""
    large = df.sparkSession._jconf.arrowUseLargeVarTypes()
    return to_arrow_schema(df.schema, prefers_large_types=large)


def arrow_batches(df: DataFrame) -> Iterator[pa.RecordBatch]:
    """The result of `df` as Arrow record batches in result order, one
    partition at a time with at most one more prefetched, so the caller
    never has to hold the whole result. The executors encode the batches
    (`toArrowBatchRdd`); `toLocalIteratorAndServe` runs a job per
    partition and serves them on a local socket (private JVM entry points,
    pinned by tests/test_serving.py). Each read first sets TCP_QUICKACK:
    the JVM writes in small unbuffered pieces, and Nagle's algorithm would
    hold each one back for our delayed ACK (40 ms a partition on Linux)."""
    schema = arrow_schema(df)
    rdd = df._jdf.toArrowBatchRdd()
    port, secret, server = df.sparkSession._jvm.PythonRDD.toLocalIteratorAndServe(rdd, True)
    sockfile, sock = local_connect_and_auth(port, secret)
    sock.settimeout(None)

    def ack_now():
        if hasattr(socket, "TCP_QUICKACK"):  # Linux only
            sock.setsockopt(socket.IPPROTO_TCP, socket.TCP_QUICKACK, 1)

    status, messages = 0, iter(())
    try:
        while True:
            write_int(1, sockfile)  # ask for the next partition
            sockfile.flush()
            ack_now()
            status = read_int(sockfile)  # 1: a partition follows, 0: done
            if status == -1:
                try:
                    server.getResult()
                except Py4JJavaError as e:
                    raise _job_error(e) from None
            if status != 1:
                return
            messages = NoOpSerializer().load_stream(sockfile)
            for message in messages:
                yield pa.ipc.read_record_batch(pa.ipc.read_message(message), schema)
                ack_now()
    finally:
        if status == 1:  # the consumer stopped early: finish the partition, stop the JVM
            with contextlib.suppress(OSError):
                for _ in messages:
                    pass
                write_int(0, sockfile)
                sockfile.flush()
        sockfile.close()
        sock.close()


def _job_error(e: Py4JJavaError) -> Exception:
    """The failed job's own error under its awaitResult wrappers, as the
    pyspark exception collect() would raise."""
    cause = e.java_exception
    while cause is not None:
        converted = convert_exception(cause)
        if not isinstance(converted, UnknownException):
            return converted
        cause = cause.getCause()
    return e


def _pylist(col: pa.Array) -> list:
    """A column's values as Row values carry them: MAPs as dicts, nested
    ones included (pyarrow 16's to_pylist gives (key, value) pair lists)."""
    def py(v: Any, t: pa.DataType) -> Any:
        if v is None:
            return None
        if pa.types.is_map(t):
            return {k: py(x, t.item_type) for k, x in v}
        if pa.types.is_struct(t):
            return {f.name: py(v[f.name], f.type) for f in t}
        if pa.types.is_list(t) or pa.types.is_large_list(t):
            return [py(x, t.value_type) for x in v]
        return v

    values = col.to_pylist()
    return [py(v, col.type) for v in values] if pa.types.is_nested(col.type) else values


def _rows(df: DataFrame) -> list[tuple]:
    rows: list[tuple] = []
    for batch in arrow_batches(df):
        rows += zip(*map(_pylist, batch.columns))
    return rows


def _cell(v: Any) -> Any:
    """JSON-ready cell value: ClickHouse renders non-finite floats as null;
    timestamps are naive local time, as Row values carry them."""
    if isinstance(v, float) and (math.isnan(v) or math.isinf(v)):
        return None
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone().replace(tzinfo=None)
        return v.isoformat(sep=" ")
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, bytes):
        return v.decode("utf-8", "replace")
    if isinstance(v, dict):
        return {_cell(k): _cell(x) for k, x in v.items()}
    if isinstance(v, list):
        return [_cell(x) for x in v]
    return v


def _json(v: Any) -> str:
    """`json.dumps(v, ensure_ascii=False)` of a `_cell` value, except that
    a DECIMAL is an exact JSON number, ClickHouse's default
    (output_format_json_quote_decimals=0)."""
    if isinstance(v, str):
        return encode_basestring(v)
    if isinstance(v, Decimal):
        return format(v, "f")
    if isinstance(v, list):
        return "[" + ", ".join(map(_json, v)) + "]"
    if isinstance(v, dict):
        return "{" + ", ".join(
            f"{encode_basestring(k if isinstance(k, str) else _json(k))}: {_json(x)}"
            for k, x in v.items()
        ) + "}"
    return json.dumps(v)


def _stats(n_rows: int, elapsed: float, cells: list[list[Any]]) -> dict[str, Any]:
    # shape from reference main.py:154-158, incl. its bytes_read metric:
    # the total rendered-string length of every cell
    return {
        "elapsed": round(elapsed, 6),
        "rows_read": n_rows,
        "bytes_read": sum(len(str(v)) for row in cells for v in row),
    }


def format_result(df: DataFrame, fmt: str | None, elapsed: float = 0.0) -> tuple[bytes, str]:
    """Render a (final) DataFrame in a ClickHouse HTTP format.

    Returns (payload, content_type). fmt=None → the reference's default:
    JSON array of row arrays (main.py:243-246).
    """
    rows = _rows(df)
    cols = df.columns
    fmt_norm = (fmt or "").lower()

    if fmt_norm in ("tsv", "tabseparated", "tsvwithnames"):
        def tsv_cell(v: Any) -> str:
            if v is None:
                return "\\N"
            s = str(v if isinstance(v, float) else _cell(v))
            return s.replace("\\", "\\\\").replace("\t", "\\t").replace("\n", "\\n")

        lines = ["\t".join(cols)] + ["\t".join(tsv_cell(v) for v in row) for row in rows]
        return ("\n".join(lines) + "\n").encode(), "text/tab-separated-values"

    if fmt_norm == "csv":
        buf = io.StringIO()
        w = csv.writer(buf, lineterminator="\n")
        w.writerow(cols)
        for row in rows:
            w.writerow(["" if v is None else v if isinstance(v, float) else _cell(v) for v in row])
        return buf.getvalue().encode(), "text/csv"

    data = [[_cell(v) for v in row] for row in rows]
    if fmt_norm == "jsoneachrow":
        lines = [_json(dict(zip(cols, row))) + "\n" for row in data]
        return "".join(lines).encode(), "application/x-ndjson"

    meta = [{"name": f.name, "type": ch_type_name(f.dataType)} for f in df.schema.fields]
    if fmt_norm == "jsoncompact":
        body = {
            "meta": meta,
            "data": data,
            "rows": len(data),
            # reference main.py:153 — JSONCompact (and only JSONCompact)
            # carries rows_before_limit_at_least
            "rows_before_limit_at_least": len(data),
            "statistics": _stats(len(data), elapsed, data),
        }
        return _json(body).encode(), "application/json"

    if fmt_norm == "json":
        body = {
            "meta": meta,
            "data": [dict(zip(cols, row)) for row in data],
            "rows": len(data),
            "statistics": _stats(len(data), elapsed, data),
        }
        return _json(body).encode(), "application/json"

    # default: plain JSON list of row-lists (reference main.py:243-246)
    return _json(data).encode(), "application/json"


def _register_format_key() -> None:
    """`fmt_jsoncompact` (SURVEY §2.1 S12): drive the real
    ClickHouse-JSONCompact serializer over a small deterministic query
    and surface the envelope as a 1-row DataFrame, value-oracled since
    r4; the envelope bytes are pinned in tests/test_serving.py."""
    from quackflight_spark.registry import query
    from quackflight_spark.sources.fixtures import load_table

    @query("fmt_jsoncompact", oracle="""
        WITH agg AS (
          SELECT r_name, CAST(count(*) AS BIGINT) AS cnt
          FROM nation JOIN region ON n_regionkey = r_regionkey
          GROUP BY r_name
        ), arr AS (
          SELECT CAST(to_json(list(json_array(r_name, cnt) ORDER BY r_name))
                      AS VARCHAR) AS data_json,
                 CAST(count(*) AS INT) AS n_rows
          FROM agg
        )
        SELECT 'application/json' AS content_type, 2 AS n_cols,
               CAST(n_rows AS BIGINT) AS n_rows, data_json
        FROM arr
    """)
    def fmt_jsoncompact(spark: SparkSession, sf_dir: str) -> DataFrame:
        """Oracle-BACKED since r4 (was rows-only): the envelope's data
        array re-serializes compactly on both sides — DuckDB builds the
        identical JSON text from the same aggregate, so the driver
        value-hashes the protocol path end-to-end (the full envelope's
        exact bytes are additionally pinned by the golden-bytes tests)."""
        n = load_table(spark, sf_dir, "nation")
        r = load_table(spark, sf_dir, "region")
        agg = (
            n.join(r, n.n_regionkey == r.r_regionkey)
            .groupBy("r_name")
            .count()
            .orderBy("r_name")
        )
        payload, content_type = format_result(agg, "jsoncompact", elapsed=0.0)
        body = json.loads(payload)
        return spark.createDataFrame(
            [(
                content_type,
                len(body["meta"]),
                body["rows"],
                json.dumps(body["data"], ensure_ascii=False,
                           separators=(",", ":")),
            )],
            "content_type string, n_cols int, n_rows long, data_json string",
        )


_register_format_key()
