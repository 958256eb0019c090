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
are; `format_result` renders them column-wise, consecutive batches merged
into chunks of up to RENDER_ROWS rows (`_merged`). Each chunk column
becomes an Arrow string array of its cells' text in the format's spelling
(csv, tsv or json, `_cells`), and the format's literals join those arrays
into rows (`_joined`). Integer, float, string, bool and date columns stay in
`pyarrow.compute`, which releases the GIL; timestamp, decimal, binary and
nested values go value by value through `_cell`/`_json`. The bytes are
those of the row-wise spelling (str/repr, the stdlib csv writer,
json.dumps): tests/test_serving.py checks them against a row-wise
reference. Deliberate deviations from reference bugs (SURVEY §7 "not to
replicate"):
- CSV output IS quoted/escaped (reference does bare str() — main.py:191);
  TSV escapes tabs/newlines.
- Type names in meta are ClickHouse names mapped from Spark types (the
  reference leaks raw DuckDB names).
- DECIMALs are exact JSON numbers and NaN is `nan` in TSV/CSV, as
  ClickHouse writes them.
"""

from __future__ import annotations

import contextlib
import json
import math
import socket
from datetime import date, datetime
from decimal import Decimal
from json.encoder import encode_basestring
from typing import Any, Callable, Iterator

import pyarrow as pa
import pyarrow.compute as pc
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


_NULL = pa.scalar(None, pa.string())
# the stdlib csv writer's QUOTE_MINIMAL with "\n" line ends (Python 3.11): a
# field holding the delimiter, the quote char or "\n" is quoted (a bare "\r"
# is not); so is a row's lone empty field, which would read as a blank line
_CSV_QUOTE, _CSV_LONE_QUOTE = '[\n",]', '^$|[\n",]'
_TSV_ESCAPES = (("\\", "\\\\"), ("\t", "\\t"), ("\n", "\\n"))
# encode_basestring's escapes, backslash first so that no later one is re-escaped
_JSON_ESCAPES = tuple((c, encode_basestring(c)[1:-1]) for c in '\\"' + "".join(map(chr, range(32))))


def _patched(arr: pa.Array, hit: pa.Array | str, fix: Callable[[pa.Array], pa.Array]) -> pa.Array:
    """`arr` with `fix` applied to just the cells where `hit` is true (or
    that match the regex `hit`)."""
    hit = (pc.match_substring_regex(arr, hit) if isinstance(hit, str) else hit).fill_null(False)
    if not pc.any(hit).as_py():
        return arr
    return pc.replace_with_mask(arr, hit, fix(arr.filter(hit)))


def _replaced(arr: pa.Array, pairs: tuple[tuple[str, str], ...]) -> pa.Array:
    for old, new in pairs:
        arr = pc.replace_substring(arr, old, new)
    return arr


def _quoted(arr: pa.Array) -> pa.Array:
    return pc.binary_join_element_wise('"', arr, '"', "")


def _text(col: pa.Array) -> pa.Array:
    """Each cell as `str` spells its Row value: a float's repr, any other
    value through `_cell`; nulls stay null."""
    t = col.type
    if pa.types.is_boolean(t):
        return pc.if_else(col, "True", "False")
    if pa.types.is_floating(t):
        # Arrow's cast has repr's shortest digits but prints 100.0 as 100
        # and picks exponents by other rules (1e-07 as 1e-7). Inside
        # 1e-4 <= |x| < 1e16 repr uses no exponent: there the integral
        # cells gain ".0"; the cells Arrow gives an exponent there, the
        # ones outside and NaN/±inf take repr.
        col = col.cast(pa.float64())
        text = col.cast(pa.string())
        text = _patched(text, r"^-?\d+$", lambda a: pc.binary_join_element_wise(a, ".0", ""))
        mag = pc.abs(col)
        fixed = pc.or_(pc.and_(pc.greater_equal(mag, 1e-4), pc.less(mag, 1e16)), pc.equal(mag, 0))
        odd = pc.or_(pc.invert(fixed), pc.match_substring(text, "e")).fill_null(False)
        return _patched(text, odd, lambda a: pa.array(
            list(map(float.__repr__, col.filter(odd).to_pylist())), pa.string()))
    if (pa.types.is_integer(t) or pa.types.is_string(t) or pa.types.is_large_string(t)
            or pa.types.is_date32(t)):
        return col.cast(pa.string())
    return pa.array([None if v is None else str(_cell(v)) for v in _pylist(col)], pa.string())


def _cells(col: pa.Array, spelling: str, lone: bool = False) -> tuple[pa.Array, int]:
    """One result column as each cell's text in `spelling` ("tsv", "csv"
    or "json"; `lone`: the column is a csv row's only field), with no
    nulls; and the column's share of bytes_read, sum(len(str(_cell(v))))."""
    t = col.type
    text = _text(col)
    shown = pc.if_else(pc.is_finite(col), text, _NULL) if pa.types.is_floating(t) else text
    size = (pc.sum(pc.utf8_length(shown)).as_py() or 0) + 4 * shown.null_count  # None: 4
    plain = (pa.types.is_integer(t) or pa.types.is_floating(t) or pa.types.is_boolean(t)
             or pa.types.is_date32(t))
    if spelling == "tsv":
        if not plain:
            text = _patched(text, r"[\\\t\n]", lambda a: _replaced(a, _TSV_ESCAPES))
        return text.fill_null("\\N"), size
    if spelling == "csv":
        text = text.fill_null("")
        if lone or not plain:
            text = _patched(text, _CSV_LONE_QUOTE if lone else _CSV_QUOTE,
                            lambda a: _quoted(pc.replace_substring(a, '"', '""')))
        return text, size
    if pa.types.is_boolean(t):
        cells = pc.if_else(col, "true", "false")
    elif pa.types.is_integer(t) or pa.types.is_floating(t):
        cells = shown
    elif pa.types.is_date32(t):
        cells = _quoted(text)
    elif pa.types.is_string(t) or pa.types.is_large_string(t):
        cells = _quoted(_patched(text, r'[\x00-\x1f"\\]', lambda a: _replaced(a, _JSON_ESCAPES)))
    else:
        cells = pa.array([_json(_cell(v)) for v in _pylist(col)], pa.string())
    return cells.fill_null("null"), size


# Spark sends Arrow batches of at most 10k rows (maxRecordsPerBatch), and
# `_cells` pays a fixed cost per batch column (a dozen kernel calls, each
# taking the GIL back from the Flight streams this process serves); so the
# renderer merges batches up to this many rows, or input bytes, first.
RENDER_ROWS, RENDER_BYTES = 1 << 16, 1 << 24


def _merged(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
    """The non-empty `batches` in order, consecutive ones merged until
    each holds RENDER_ROWS rows or RENDER_BYTES bytes (the last may hold
    fewer)."""
    group: list[pa.RecordBatch] = []
    rows = size = 0
    for batch in batches:
        if not batch.num_rows or not batch.num_columns:
            continue  # a zero-column result has no rows, as zip() of none
        group.append(batch)
        rows, size = rows + batch.num_rows, size + batch.nbytes
        if rows >= RENDER_ROWS or size >= RENDER_BYTES:
            yield _concat(group)
            group, rows, size = [], 0, 0
    if group:
        yield _concat(group)


def _concat(group: list[pa.RecordBatch]) -> pa.RecordBatch:
    if len(group) == 1:
        return group[0]
    return pa.Table.from_batches(group).combine_chunks().to_batches()[0]


def _joined(cells: list[pa.Array], lits: list[str]) -> memoryview:
    """One batch's rows back to back, each row its cells between the
    literals: lits[0] cells[0] lits[1] ... cells[-1] lits[-1]."""
    parts: list[Any] = [lits[0]]
    for col, lit in zip(cells, lits[1:]):
        parts += (col, lit)
    rows = pc.binary_join_element_wise(*parts, "")
    offsets = memoryview(rows.buffers()[1]).cast("i")
    return memoryview(rows.buffers()[2])[offsets[rows.offset]:offsets[rows.offset + len(rows)]]


# format: (content type, cell spelling, row separator, row open, cell
# separator, row close)
_LAYOUTS = {
    "tsv": ("text/tab-separated-values", "tsv", "", "", "\t", "\n"),
    "csv": ("text/csv", "csv", "", "", ",", "\n"),
    "jsoneachrow": ("application/x-ndjson", "json", "", "{", ", ", "}\n"),
    "json": ("application/json", "json", ", ", "{", ", ", "}"),
    "jsoncompact": ("application/json", "json", ", ", "[", ", ", "]"),
    "": ("application/json", "json", ", ", "[", ", ", "]"),
}


def format_result(df: DataFrame, fmt: str | None, elapsed: float = 0.0) -> tuple[bytes, str]:
    """Render a (final) DataFrame in a ClickHouse HTTP format.

    Returns (payload, content_type). fmt=None → the reference's default:
    JSON array of row arrays (main.py:243-246).

    Column-wise: each Arrow batch's columns become string arrays of their
    cells' text (`_cells`), joined with the format's literals into rows.
    """
    names = df.columns
    fmt_norm = (fmt or "").lower()
    if fmt_norm in ("tabseparated", "tsvwithnames"):
        fmt_norm = "tsv"
    if fmt_norm not in _LAYOUTS:
        fmt_norm = ""
    ctype, spelling, row_sep, row_open, cell_sep, row_close = _LAYOUTS[fmt_norm]
    lone = spelling == "csv" and len(names) == 1

    # the column each JSON-object key shows: as in dict(zip()), a repeated
    # name keeps its first position and its last column
    picked = {name: i for i, name in enumerate(names)}
    if fmt_norm in ("json", "jsoneachrow"):
        order, keys = list(picked.values()), [encode_basestring(k) + ": " for k in picked]
    else:
        order, keys = list(range(len(names))), [""] * len(names)
    lits = [row_sep + row_open + k if i == 0 else cell_sep + k for i, k in enumerate(keys)]
    lits.append(row_close)

    pieces: list[Any] = []
    n_rows = bytes_read = 0
    for batch in _merged(arrow_batches(df)):
        cells = [_cells(col, spelling, lone) for col in batch.columns]
        bytes_read += sum(size for _, size in cells)
        pieces.append(_joined([cells[i][0] for i in order], lits))
        n_rows += batch.num_rows
    if pieces:
        pieces[0] = pieces[0][len(row_sep):]

    head = foot = ""
    if fmt_norm == "tsv":
        head = "\t".join(names) + "\n"
    elif fmt_norm == "csv":
        head = ",".join(_cells(pa.array(names, pa.string()), "csv", lone)[0].to_pylist()) + "\n"
    elif fmt_norm != "jsoneachrow":
        head, foot = "[", "]"
    if fmt_norm in ("json", "jsoncompact"):
        meta = [{"name": f.name, "type": ch_type_name(f.dataType)} for f in df.schema.fields]
        head = f'{{"meta": {_json(meta)}, "data": ['
        # reference main.py:153 — JSONCompact (and only JSONCompact)
        # carries rows_before_limit_at_least
        before = f', "rows_before_limit_at_least": {n_rows}' if fmt_norm == "jsoncompact" else ""
        # shape from reference main.py:154-158, incl. its bytes_read metric:
        # the total rendered-string length of every cell
        stats = _json({"elapsed": round(elapsed, 6), "rows_read": n_rows, "bytes_read": bytes_read})
        foot = f'], "rows": {n_rows}{before}, "statistics": {stats}}}'
    return b"".join([head.encode(), *pieces, foot.encode()]), ctype


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
