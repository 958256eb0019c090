"""Seeded request lists, reference answers and answer checking.

Every workload is planned before the server starts: the seed fixes each
client's operation list, and DuckDB (the reference engine) computes the
expected answer of every read over the same parquet files. Parameters vary
with the seed; the shape of the work (templates, row counts, protocol mix)
does not, so runs with different seeds cost about the same.
"""

from __future__ import annotations

import csv
import io
import json
import math
import random
from dataclasses import dataclass, field

TPCH = ("lineitem", "orders", "customer", "nation", "region", "supplier", "part")
ALL_TABLES = TPCH + ("events", "documents", "embeddings")

USERS = (("alice", "a-secret"), ("bob", "b-secret"))


@dataclass
class Op:
    """One client operation. ``sql`` is what the server receives; ``ref``
    is the DuckDB-runnable form that computes its expected answer; ``fmt``
    is the ``default_format`` parameter (None when the SQL ends in a
    FORMAT clause)."""

    kind: str
    sql: str = ""
    ref: str = ""
    fmt: str | None = None
    user: tuple[str, str] | None = None
    query_id: str | None = None
    table: str = ""
    rows: list = field(default_factory=list)
    columns: tuple[str, ...] = ()


# --- http_dashboard ---------------------------------------------------------
# Each template: (served SQL, reference SQL or None when the served SQL is
# DuckDB-runnable, parameter sampler). {db} is "" for anonymous requests and
# "default." for the basic-auth users, whose requests run in a per-user
# namespace session. Results stay <= 100 rows; the seed moves filters, not
# result sizes, so rows per request do not depend on it.

def _day(rng: random.Random, lo: str = "1995-01-01", span_days: int = 2200) -> str:
    # orders run from 1995-01-01 to 2001-08-01: a window drawn here and up
    # to 200 days long always has orders, so result sizes do not vary
    import datetime as dt

    d = dt.date.fromisoformat(lo) + dt.timedelta(days=rng.randrange(span_days))
    return d.isoformat()


def _plus(day: str, days: int) -> str:
    import datetime as dt

    return (dt.date.fromisoformat(day) + dt.timedelta(days=days)).isoformat()


DASHBOARD = [
    ("SELECT l_returnflag, l_linestatus, count() AS n, sum(l_quantity)::BIGINT AS qty "
     "FROM {db}lineitem WHERE l_shipdate <= DATE '{d}' GROUP BY ALL ORDER BY ALL",
     None,
     lambda r: {"d": _day(r, "1995-07-01", 1100)}),
    ("SELECT multiIf(o_totalprice < {a}, 'low', o_totalprice < {b}, 'mid', 'high') AS band, "
     "count() AS n FROM {db}orders WHERE o_orderdate >= DATE '{d}' GROUP BY ALL ORDER BY ALL",
     "SELECT CASE WHEN o_totalprice < {a} THEN 'low' WHEN o_totalprice < {b} THEN 'mid' "
     "ELSE 'high' END AS band, count() AS n FROM orders WHERE o_orderdate >= DATE '{d}' "
     "GROUP BY ALL ORDER BY ALL",
     lambda r: {"a": r.randrange(20000, 80000), "b": r.randrange(120000, 300000),
                "d": _day(r)}),
    ("SELECT o_orderkey, o_custkey, o_totalprice FROM {db}orders "
     "WHERE o_orderdate BETWEEN DATE '{d}' AND DATE '{d2}' "
     "QUALIFY row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) <= {k} "
     "ORDER BY o_totalprice DESC, o_orderkey",
     None,
     lambda r: (lambda d: {"d": d, "d2": _plus(d, r.randrange(60, 200)), "k": 50})(_day(r))),
    ("SELECT n_name, count() AS customers, avg(c_acctbal) AS avg_bal "
     "FROM {db}customer JOIN {db}nation ON c_nationkey = n_nationkey "
     "WHERE c_mktsegment = '{seg}' AND c_acctbal > {x} GROUP BY ALL ORDER BY ALL",
     None,
     lambda r: {"seg": r.choice(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD",
                                 "MACHINERY"]), "x": r.randrange(-1000, 3000)}),
    ("SELECT o_orderdate::DATE AS day, count() AS n, max(o_totalprice) AS top "
     "FROM {db}orders WHERE o_orderdate >= DATE '{d}' AND o_orderdate < DATE '{d2}' "
     "GROUP BY ALL ORDER BY ALL",
     None,
     lambda r: (lambda d: {"d": d, "d2": _plus(d, 60)})(_day(r))),
    ("SELECT s_nationkey, s_suppkey, s_acctbal FROM {db}supplier WHERE s_acctbal > {x} "
     "QUALIFY row_number() OVER (PARTITION BY s_nationkey ORDER BY s_acctbal DESC, "
     "s_suppkey) <= {k} ORDER BY s_nationkey, s_suppkey",
     None,
     lambda r: {"x": r.randrange(-1000, 3000), "k": 2}),
    ("SELECT p_brand, count() AS n, max(p_size) AS max_size, min(p_retailprice) AS low "
     "FROM {db}part WHERE p_size BETWEEN {a} AND {b} GROUP BY ALL "
     "ORDER BY n DESC, p_brand LIMIT {k}",
     None,
     lambda r: (lambda a: {"a": a, "b": a + r.randrange(10, 30), "k": 20})(r.randrange(1, 20))),
    ("SELECT multiIf(l_discount < 0.03, 'd0', l_discount < 0.06, 'd1', 'd2') AS band, "
     "l_returnflag, count() AS n, sum(l_quantity)::BIGINT AS qty FROM {db}lineitem "
     "WHERE l_orderkey % {m} = {r} GROUP BY ALL ORDER BY ALL",
     "SELECT CASE WHEN l_discount < 0.03 THEN 'd0' WHEN l_discount < 0.06 THEN 'd1' "
     "ELSE 'd2' END AS band, l_returnflag, count() AS n, sum(l_quantity)::BIGINT AS qty "
     "FROM lineitem WHERE l_orderkey % {m} = {r} GROUP BY ALL ORDER BY ALL",
     lambda r: (lambda m: {"m": m, "r": r.randrange(m)})(r.randrange(2, 9))),
]
DASHBOARD_FORMATS = ("JSONCompact", "JSON", "TSV")
DASHBOARD_CLIENTS = 3
DASHBOARD_PER_CLIENT = 40


def plan_dashboard(seed: int) -> list[list[Op]]:
    """Per-client request lists. Generated round-robin across clients so
    the replay window ("the last 20 issued") is well defined: every fourth
    request of a client replays a query_id from the 20 most recent
    requests, and every third is sent under a basic-auth user. Templates,
    replays and users sit at fixed positions; the seed draws parameters,
    formats and whether the format is a FORMAT clause."""
    rng = random.Random(seed)
    lists: list[list[Op]] = [[] for _ in range(DASHBOARD_CLIENTS)]
    for i in range(DASHBOARD_PER_CLIENT):
        for c in range(DASHBOARD_CLIENTS):
            n = i * DASHBOARD_CLIENTS + c
            if i % 4 == 3:
                # alternately the client's previous request (3 back overall,
                # still cached) and its request 6 before this one (18 back
                # overall; about 12 results are stored in between and the
                # cache holds 10, so it is evicted): the hit share and the
                # replayed templates are the same for every seed
                src = lists[c][i - 1 if (i // 4 + c) % 2 else max(0, i - 6)]
                lists[c].append(Op("replay", sql=src.sql, ref=src.ref, fmt=src.fmt,
                                   user=src.user, query_id=src.query_id))
                continue
            # template order is fixed, not seeded: every run sends the same
            # mix of templates, so run-to-run differences are the system's
            served, ref, params = DASHBOARD[(i + 3 * c) % len(DASHBOARD)]
            p = params(rng)
            user = USERS[n % 2] if n % 3 == 0 else None
            db = "default." if user else ""
            fmt = rng.choice(DASHBOARD_FORMATS)
            sql = served.format(db=db, **p)
            if rng.random() < 0.5:
                sql, fmt = f"{sql} FORMAT {fmt}", fmt
                param_fmt = None
            else:
                param_fmt = fmt
            op = Op("read", sql=sql, ref=(ref or served).format(db="", **p), fmt=param_fmt,
                    user=user, query_id=f"s{seed}-q{n}")
            lists[c].append(op)
    return lists


# --- bulk_export ------------------------------------------------------------
# One client per kind: client 0 fetches over Flight do_get, client 1 over
# HTTP as CSV or JSONEachRow; every request is a ~100k-row projection,
# alternating lineitem and orders, so requests cost about the same whatever
# the seed.

LINEITEM_COLS = ("l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
                 "l_extendedprice", "l_discount", "l_tax", "l_returnflag")
ORDERS_COLS = ("o_custkey", "o_orderstatus", "o_totalprice", "o_orderpriority")
EXPORT_KINDS = ("flight_get", "http_export")
EXPORT_PER_CLIENT = 12


def plan_export(seed: int) -> list[list[Op]]:
    rng = random.Random(seed)
    lists: list[list[Op]] = []
    for c, kind in enumerate(EXPORT_KINDS):
        lists.append([])
        for i in range(EXPORT_PER_CLIENT):
            if (i + c) % 2 == 0:
                cols = ("l_orderkey",) + tuple(sorted(rng.sample(LINEITEM_COLS, 3)))
                sql = (f"SELECT {', '.join(cols)} FROM lineitem "
                       f"WHERE l_orderkey % 6 = {rng.randrange(6)}")
            else:
                cols = ("o_orderkey",) + tuple(sorted(rng.sample(ORDERS_COLS, 2)))
                sql = (f"SELECT {', '.join(cols)} FROM orders "
                       f"WHERE o_orderkey % 3 <> {rng.randrange(3)}")
            fmt = None if kind == "flight_get" else ("CSV", "JSONEachRow")[i % 2]
            lists[c].append(Op(kind, sql=sql, fmt=fmt, columns=cols,
                               query_id=f"s{seed}-x{c}-{i}"))
    return lists


def checksum_sql(sql: str, columns: tuple[str, ...], types: dict[str, str]) -> str:
    """DuckDB query computing the row count and one exact checksum per
    column of ``sql``'s result (see ``checksums``)."""
    parts = ["count(*) AS n"]
    for c in columns:
        t = types[c]
        if t == "DOUBLE":
            parts.append(f"sum(CAST(round({c} * 100) AS BIGINT)) AS {c}")
        elif t == "VARCHAR":
            parts.append(f"sum(length({c})) AS {c}")
        else:
            parts.append(f"sum({c}) AS {c}")
    return f"SELECT {', '.join(parts)} FROM ({sql})"


def checksums(table, columns: tuple[str, ...], types: dict[str, str]) -> list[int]:
    """Client-side twin of ``checksum_sql`` over a received Arrow table:
    row count, then per column the sum of integers, of cents for doubles
    (every fixture double has at most two decimals) or of string lengths."""
    import pyarrow as pa
    import pyarrow.compute as pc

    out = [table.num_rows]
    for c in columns:
        col = table.column(c)
        if types[c] == "DOUBLE":
            s = pc.sum(pc.round(pc.multiply(col.cast(pa.float64()), 100)))
        elif types[c] == "VARCHAR":
            s = pc.sum(pc.utf8_length(col.cast(pa.string())))
        else:
            s = pc.sum(col.cast(pa.int64()))
        out.append(int(s.as_py() or 0))
    return out


def payload_table(body: bytes, fmt: str):
    """Arrow table of a CSV or JSONEachRow HTTP export body."""
    import pyarrow.csv as pcsv
    import pyarrow.json as pjson

    if fmt.lower() == "csv":
        return pcsv.read_csv(io.BytesIO(body))
    return pjson.read_json(io.BytesIO(body))


# --- ingest_while_query -----------------------------------------------------

INGEST_PATHS = ("flight_put", "flight_exchange", "http_insert")
INGEST_WRITERS = 2
INGEST_PER_WRITER = 60
INGEST_BATCH_ROWS = 1000
INGEST_TABLES = tuple(f"bench_w{w}.events" for w in range(INGEST_WRITERS))


def plan_ingest(seed: int) -> list[list[Op]]:
    """One request list per writer, then the reader's. Each writer sends
    seeded batches over the three ingest paths in a fixed rotation, so
    every run sees the same mix of paths. Keys are unique per writer, so
    the final row count checks that no acknowledged row was lost or
    doubled. The reader counts every writer's table in one query."""
    rng = random.Random(seed)
    lists: list[list[Op]] = []
    for w, table in enumerate(INGEST_TABLES):
        # writer 0 starts with do_put and writer 1 with the HTTP INSERT, so
        # the warm-up (each client's first request) runs both the Arrow and
        # the JSON append path; do_exchange shares the Arrow one
        cycle = INGEST_PATHS[-w:] + INGEST_PATHS[:-w] if w else INGEST_PATHS
        ops = []
        for i in range(INGEST_PER_WRITER):
            rows = [(i * INGEST_BATCH_ROWS + j, round(rng.random() * 1000, 2),
                     f"w{w}-{rng.randrange(10**6)}") for j in range(INGEST_BATCH_ROWS)]
            ops.append(Op(cycle[i % len(cycle)], table=table, rows=rows,
                          query_id=f"s{seed}-w{w}-{i}"))
        lists.append(ops)
    counts = " UNION ALL ".join(f"SELECT '{t}' AS t, count() AS n FROM {t}"
                                for t in INGEST_TABLES)
    lists.append([Op("count", sql=counts, fmt="JSONCompact")])
    return lists


# --- operator_library -------------------------------------------------------
# Relational (tpch_q3, tpch_q6), iterative graph (graph_kcore, which records
# graph.ROUND_TRACE), text (text_winnowing) and dedup (dedup_exact) keys,
# each with an oracle that DuckDB answers in seconds. graph_scc (~12 s a
# pass, ~19 s oracle), dedup_minhash_lsh (~24 s oracle) and graph_ktruss
# (~34 s a pass) do not fit one run at local[4].

LIBRARY_KEYS = ("tpch_q3", "tpch_q6", "graph_kcore", "text_winnowing", "dedup_exact")


def plan_library(seed: int) -> list[str]:
    return random.Random(seed).sample(LIBRARY_KEYS, len(LIBRARY_KEYS))


# --- answers ----------------------------------------------------------------

def duckdb_connection(fixtures: str):
    import duckdb

    con = duckdb.connect()
    con.execute("SET threads TO 4")
    for t in ALL_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{fixtures}/{t}.parquet')")
    return con


def _cell_str(v) -> str:
    """One canonical string per cell, as the oracle sweep compares them:
    floats by repr, dates and timestamps in pandas Timestamp form, nested
    values element-wise."""
    import datetime as dt

    import numpy as np
    import pandas as pd

    if v is None or v is pd.NaT or v is pd.NA:
        return "<NULL>"
    if isinstance(v, (float, np.floating)):
        f = float(v)
        return "<NaN>" if f != f else repr(f)
    if isinstance(v, (dt.date, dt.datetime, pd.Timestamp, np.datetime64)):
        return str(pd.Timestamp(v))
    if isinstance(v, (np.ndarray, list, tuple)):
        return "[" + ",".join(_cell_str(x) for x in v) + "]"
    if isinstance(v, dict):
        return "{" + ",".join(f"{k}:{_cell_str(x)}" for k, x in
                              sorted(v.items(), key=lambda t: str(t[0]))) + "}"
    if isinstance(v, (bytes, bytearray)):
        return v.hex()
    return str(v)


def canonical_rows(pdf) -> list[list[str]]:
    """Order-insensitive canonical form of a pandas frame: columns sorted by
    name, every cell stringified, rows sorted."""
    cols = sorted(pdf.columns)
    rows = [[_cell_str(v) for v in row] for row in pdf[cols].itertuples(index=False, name=None)]
    rows.sort()
    return [cols] + rows


def _same_cell(got, want) -> bool:
    if want is None or got is None:
        return (got in (None, "\\N", "")) and (want in (None, "\\N", ""))
    if isinstance(want, (int, float)) and not isinstance(want, bool):
        try:
            g = float(got)
        except (TypeError, ValueError):
            return False
        return math.isclose(g, float(want), rel_tol=1e-9, abs_tol=1e-9)
    if hasattr(want, "isoformat"):
        want = want.isoformat(sep=" ") if hasattr(want, "hour") else want.isoformat()
    return str(got) == str(want)


def parse_payload(body: bytes, fmt: str) -> tuple[list[str], list[list]]:
    """(column names, rows) of a ClickHouse-format HTTP response body."""
    f = fmt.lower()
    if f == "jsoncompact":
        obj = json.loads(body)
        return [m["name"] for m in obj["meta"]], obj["data"]
    if f == "json":
        obj = json.loads(body)
        names = [m["name"] for m in obj["meta"]]
        return names, [[r[n] for n in names] for r in obj["data"]]
    if f == "jsoneachrow":
        objs = [json.loads(ln) for ln in body.decode().splitlines() if ln]
        names = list(objs[0]) if objs else []
        return names, [[o[n] for n in names] for o in objs]
    if f == "tsv":
        lines = body.decode().rstrip("\n").split("\n")
        return lines[0].split("\t"), [ln.split("\t") for ln in lines[1:]]
    if f == "csv":
        rows = list(csv.reader(io.StringIO(body.decode())))
        return rows[0], rows[1:]
    raise ValueError(f"unknown format {fmt!r}")


def check_rows(names: list[str], rows: list[list], want_names: list[str],
               want_rows: list[tuple]) -> str | None:
    """None when the result equals the reference, else what differs."""
    if [n.lower() for n in names] != [n.lower() for n in want_names]:
        return f"columns {names} != {want_names}"
    if len(rows) != len(want_rows):
        return f"{len(rows)} rows != {len(want_rows)}"
    for i, (got, want) in enumerate(zip(rows, want_rows)):
        if len(got) != len(want) or not all(_same_cell(g, w) for g, w in zip(got, want)):
            return f"row {i}: {got} != {list(want)}"
    return None
