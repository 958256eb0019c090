"""Serving-layer tests: ClickHouse formats, query cache, HTTP app, Flight
server — the protocol behaviors the SQL oracle can't check (SURVEY §5.2)."""

from __future__ import annotations

import json

import pytest

from quackflight_spark.serving.cache import QueryCache
from quackflight_spark.serving.formats import format_result
from quackflight_spark.serving.namespaces import user_namespace


@pytest.fixture(scope="module", autouse=True)
def views(spark, sf_dir):
    from quackflight_spark.sources.fixtures import register_all

    register_all(spark, sf_dir)


@pytest.fixture(scope="module")
def small_df(spark):
    return spark.sql(
        "SELECT n_nationkey AS k, n_name AS name FROM nation ORDER BY k LIMIT 3"
    )


def test_jsoncompact_envelope(small_df):
    payload, ctype = format_result(small_df, "JSONCompact", elapsed=0.01)
    body = json.loads(payload)
    assert set(body) == {
        "meta", "data", "rows", "rows_before_limit_at_least", "statistics"
    }
    assert body["meta"] == [
        {"name": "k", "type": "Int32"},
        {"name": "name", "type": "String"},
    ]
    assert body["rows"] == 3
    assert body["data"][0] == [0, "NATION_0"]
    assert ctype == "application/json"


def test_json_row_objects(small_df):
    body = json.loads(format_result(small_df, "JSON")[0])
    assert body["data"][0] == {"k": 0, "name": "NATION_0"}


def test_jsoneachrow(small_df):
    payload, _ = format_result(small_df, "JSONEachRow")
    lines = payload.decode().strip().split("\n")
    assert len(lines) == 3
    assert json.loads(lines[0]) == {"k": 0, "name": "NATION_0"}


def test_tsv_csv(small_df):
    tsv, _ = format_result(small_df, "TSV")
    assert tsv.decode().splitlines()[0] == "k\tname"
    csv_out, _ = format_result(small_df, "CSV")
    assert csv_out.decode().splitlines()[0] == "k,name"


def test_csv_quoting(spark):
    """Deliberate fix of the reference's unquoted CSV (main.py:191)."""
    df = spark.sql("SELECT 'a,b' AS x, 'line\nbreak' AS y")
    out, _ = format_result(df, "CSV")
    assert '"a,b"' in out.decode()


def test_default_format_row_arrays(small_df):
    body = json.loads(format_result(small_df, None)[0])
    assert body == [[0, "NATION_0"], [1, "NATION_1"], [2, "NATION_2"]]


def test_cache_lru_eviction():
    c = QueryCache(maxsize=2)
    c.put("a", b"1", "t")
    c.put("b", b"2", "t")
    c.get("a")  # refresh a
    c.put("c", b"3", "t")  # evicts b
    assert c.get("a") and c.get("c") and c.get("b") is None


def test_user_namespace_hashing():
    assert user_namespace(None, None) == "default"
    a = user_namespace("alice", "pw")
    assert a.startswith("user_") and a == user_namespace("alice", "pw")
    assert a != user_namespace("alice", "other")


def test_path_like_database_param_missing_file_rejected(client):
    """The reference ATTACHes the `database` param as a DuckDB file path
    (main.py:284). Existing small files are bridged as a snapshot
    namespace (test_attach_duckdb_*); a path to a file that does NOT
    exist must produce an explicit 400, not a namespace quietly named
    like a path."""
    r = client.get("/?query=SELECT 1&database=/data/mydb.duckdb")
    assert r.status_code == 400
    assert b"not found" in r.data


def _make_duckdb_file(path):
    import duckdb

    con = duckdb.connect(path)
    con.execute("CREATE TABLE dim_color (id BIGINT, name VARCHAR)")
    con.execute("INSERT INTO dim_color VALUES (1, 'red'), (2, 'blue')")
    con.execute("CREATE TABLE dim_size (id BIGINT, label VARCHAR)")
    con.execute("INSERT INTO dim_size VALUES (10, 'S'), (20, 'M'), (30, 'L')")
    con.close()


def test_attach_duckdb_snapshot(spark, tmp_path):
    """ATTACH analog for external .duckdb files (reference main.py:284,
    326): every table in the file lands as a managed Spark table under
    the alias namespace, snapshot-at-attach semantics."""
    from quackflight_spark.serving.namespaces import attach_duckdb

    db = str(tmp_path / "meta.duckdb")
    _make_duckdb_file(db)
    alias = attach_duckdb(spark, db)
    assert alias == "attached_meta"
    rows = {
        (r["id"], r["name"])
        for r in spark.table("attached_meta.dim_color").collect()
    }
    assert rows == {(1, "red"), (2, "blue")}
    assert spark.table("attached_meta.dim_size").count() == 3
    spark.sql("DROP DATABASE attached_meta CASCADE")


def test_attach_duckdb_refresh_drops_ghost_tables(spark, tmp_path):
    """Re-attaching after the source dropped a table must NOT keep
    serving the stale snapshot table (r5 advisory): the refresh diffs
    the namespace against the source's table list and drops ghosts."""
    import duckdb

    from quackflight_spark.serving.namespaces import attach_duckdb

    db = str(tmp_path / "ghost.duckdb")
    _make_duckdb_file(db)
    alias = attach_duckdb(spark, db)
    assert spark.catalog.tableExists(f"{alias}.dim_size")
    con = duckdb.connect(db)
    con.execute("DROP TABLE dim_size")
    con.execute("INSERT INTO dim_color VALUES (3, 'green')")
    con.close()
    attach_duckdb(spark, db)  # refresh (file fingerprint changed)
    assert not spark.catalog.tableExists(f"{alias}.dim_size")
    assert spark.table(f"{alias}.dim_color").count() == 3
    spark.sql(f"DROP DATABASE {alias} CASCADE")


def test_attach_duckdb_via_http_database_param(client, spark, tmp_path):
    """End-to-end: the HTTP `database` param pointing at a real .duckdb
    file attaches it and the query runs against the snapshot."""
    db = str(tmp_path / "meta2.duckdb")
    _make_duckdb_file(db)
    r = client.get(
        "/?query=SELECT name FROM dim_color ORDER BY id&database=" + db
    )
    assert r.status_code == 200, r.data
    assert b"red" in r.data and b"blue" in r.data
    spark.sql("DROP DATABASE attached_meta2 CASCADE")


# --- HTTP app ---------------------------------------------------------------

@pytest.fixture(scope="module")
def client(spark):
    flask = pytest.importorskip("flask")  # noqa: F841
    from quackflight_spark.serving.http_app import create_app

    app = create_app(spark)
    app.config["TESTING"] = True
    return app.test_client()


def test_http_ping(client):
    r = client.get("/ping")
    assert r.status_code == 200 and r.data == b"Ok.\n"


def test_http_get_query(client):
    r = client.get("/?query=SELECT count() AS c FROM nation&default_format=JSONCompact")
    assert r.status_code == 200
    assert json.loads(r.data)["data"] == [[25]]


def test_http_format_clause_in_query(client):
    r = client.get("/?query=SELECT 1 AS one FORMAT JSONEachRow")
    assert json.loads(r.data.strip()) == {"one": 1}


def test_http_post_body_query(client):
    r = client.post("/", data=b"SELECT n_name FROM nation\nWHERE n_nationkey = 3")
    assert r.status_code == 200
    assert b"NATION_3" in r.data


def test_http_error_400(client):
    r = client.get("/?query=SELECT bogus_column FROM nation")
    assert r.status_code == 400
    assert b"bogus_column" in r.data or b"BOGUS_COLUMN" in r.data.upper()
    # a job that fails while its result streams: the job's own error, not
    # the socket server's wrapper exception
    r = client.get("/?query=SELECT raise_error('boom') AS x FROM range(3)")
    assert r.status_code == 400
    assert r.data.startswith(b"[USER_RAISED_EXCEPTION] boom"), r.data[:200]


def test_http_query_id_cache(client):
    r1 = client.get("/?query=SELECT 42 AS answer&query_id=qid1")
    assert r1.status_code == 200
    # reference behavior: query_id with NO query serves cached bytes
    r2 = client.get("/?query_id=qid1")
    assert r2.status_code == 200 and r2.data == r1.data


def test_http_get_play_console(client):
    """GET /play serves the browser query console (reference serves
    quack-ui's index.html, main.py:340-342)."""
    r = client.get("/play")
    assert r.status_code == 200
    assert r.content_type.startswith("text/html")
    assert b"<html" in r.data.lower() and b"query" in r.data.lower()
    # POST /play still executes queries (both routes, reference main.py:306)
    r2 = client.post("/play?default_format=JSONCompact", data=b"SELECT 1 AS one")
    assert r2.status_code == 200 and b'"one"' in r2.data
    # unknown paths fall back to the console, matching the reference's SPA
    # 404 handler (main.py:350-352)
    r3 = client.get("/no/such/path")
    assert r3.status_code == 200 and b"<html" in r3.data.lower()


def test_http_insert_ndjson(client, spark):
    spark.sql("DROP TABLE IF EXISTS _ins_test")
    spark.sql("CREATE TABLE _ins_test (a BIGINT, b STRING) USING parquet")
    body = b'{"a": 1, "b": "x"}\n{"a": 2, "b": "y"}\n'
    r = client.post("/?query=INSERT INTO _ins_test FORMAT JSONEachRow", data=body)
    assert r.status_code == 200
    assert spark.table("_ins_test").count() == 2
    spark.sql("DROP TABLE _ins_test")


def test_http_runs_dialect_statements(client):
    """HTTP requests go through the same statement runner as Flight
    tickets, so DuckDB's SHOW ALL TABLES and SUMMARIZE work here too."""
    r = client.get("/?query=SHOW ALL TABLES&default_format=JSONEachRow")
    assert r.status_code == 200, r.data
    rows = [json.loads(line) for line in r.data.decode().splitlines()]
    assert {"database": "temp", "name": "nation", "table_type": "view"} in rows
    r = client.get("/?query=SUMMARIZE nation&default_format=JSONCompact")
    assert r.status_code == 200, r.data
    body = json.loads(r.data)
    assert body["meta"][0]["name"] == "summary"
    assert {"count", "min", "max", "mean"} <= {row[0] for row in body["data"]}


# --- Flight server ----------------------------------------------------------

def _serve(session):
    import threading

    import pyarrow.flight as fl

    from quackflight_spark.serving.flight_server import SparkFlightServer

    server = SparkFlightServer(session, "grpc://127.0.0.1:0")
    threading.Thread(target=server.serve, daemon=True).start()
    return server, fl.connect(f"grpc://127.0.0.1:{server.port}")


@pytest.fixture(scope="module")
def flight_client(spark):
    pytest.importorskip("pyarrow.flight")
    server, client = _serve(spark)
    yield client
    server.shutdown()


def test_flight_do_get(flight_client):
    import pyarrow.flight as fl

    ticket = fl.Ticket(json.dumps({"query": "SELECT n_nationkey, n_name FROM nation"}).encode())
    table = flight_client.do_get(ticket).read_all()
    assert table.num_rows == 25
    assert table.column_names == ["n_nationkey", "n_name"]


def test_flight_do_get_multistatement(flight_client):
    """CTAS + SELECT multi-statement ticket (examples/flight_read.py:7)."""
    import pyarrow.flight as fl

    sql = (
        "CREATE OR REPLACE TEMPORARY VIEW _fl_t AS SELECT version(), now(); "
        "SELECT * FROM _fl_t;"
    )
    table = flight_client.do_get(fl.Ticket(sql.encode())).read_all()
    assert table.num_rows == 1


def test_flight_get_info_lazy_schema(flight_client):
    import pyarrow.flight as fl

    desc = fl.FlightDescriptor.for_command(b"SELECT n_nationkey, n_name FROM nation")
    info = flight_client.get_flight_info(desc)
    assert [f.name for f in info.schema] == ["n_nationkey", "n_name"]
    # analyzed through the same dialect rewrite do_get executes: ClickHouse
    # count() and DuckDB * EXCLUDE are accepted by both
    for sql, names in (
        ("SELECT count() AS c FROM nation", ["c"]),
        ("SELECT * EXCLUDE (n_regionkey) FROM nation", ["n_nationkey", "n_name"]),
    ):
        info = flight_client.get_flight_info(fl.FlightDescriptor.for_command(sql.encode()))
        assert info.schema.names == names
        table = flight_client.do_get(info.endpoints[0].ticket).read_all()
        assert table.schema.equals(info.schema)


def test_flight_batches_chunked(flight_client):
    """Results stream in ≤1024-row RecordBatches (reference main.py:782)."""
    import pyarrow.flight as fl

    ticket = fl.Ticket(b"SELECT l_orderkey FROM lineitem")
    reader = flight_client.do_get(ticket)
    sizes = [chunk.data.num_rows for chunk in reader]
    assert sum(sizes) == 6000
    assert max(sizes) <= 1024


def test_flight_do_get_equals_to_arrow(spark):
    """do_get over a sorted, 6-partition result with nested and logical
    types returns exactly df.toArrow(), in order, in batches of ≤1024
    rows. Pins the private toArrowBatchRdd / toLocalIteratorAndServe
    calls behind formats.arrow_batches against pyspark upgrades."""
    import pyarrow as pa
    import pyarrow.flight as fl

    session = spark.newSession()
    session.conf.set("spark.sql.shuffle.partitions", "6")
    session.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    sql = (
        "SELECT id, CAST(id AS DECIMAL(12, 2)) / 7 AS d,"
        " date_add(DATE'2020-01-01', CAST(id % 1000 AS INT)) AS dt,"
        " timestamp_seconds(id * 3600) AS ts, array(id, id + 1) AS arr,"
        " named_struct('a', id, 'b', CAST(id AS STRING)) AS st,"
        " map('k', id) AS m, CAST(CAST(id AS STRING) AS BINARY) AS bin"
        " FROM range(0, 20000, 1, 4) ORDER BY id DESC"
    )
    df = session.sql(sql)
    assert df._jdf.toArrowBatchRdd().getNumPartitions() >= 4
    expected = df.toArrow()
    server, client = _serve(session)
    try:
        chunks = [c.data for c in client.do_get(fl.Ticket(sql.encode()))]
    finally:
        server.shutdown()
    assert max(c.num_rows for c in chunks) <= 1024
    got = pa.Table.from_batches(chunks)
    assert got.schema.equals(expected.schema)
    assert got.equals(expected)


def test_flight_do_get_streams_partitions(flight_client, spark):
    """Egress is streamed: once the client holds the first batch of an
    8-partition result, the server has not run a job for every
    partition (one partition is fetched ahead at most)."""
    import time

    import pyarrow.flight as fl

    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    reader = flight_client.do_get(
        fl.Ticket(b"SELECT id, id * 2 AS x FROM range(0, 2000000, 1, 8)")
    )
    first = reader.read_chunk().data
    time.sleep(2)  # let a server that runs ahead do so
    jobs = set(tracker.getJobIdsForGroup()) - before
    assert first.num_rows <= 1024
    assert 1 <= len(jobs) < 8, jobs
    assert first.num_rows + reader.read_all().num_rows == 2_000_000


def test_flight_do_exchange_cancelled_writes_nothing(flight_client, spark):
    """do_exchange appends its whole stream in one commit: a stream
    cancelled after its first batch leaves the table unchanged, and a
    completed one acks and appends every row, across metadata-only
    messages."""
    import time

    import pyarrow as pa
    import pyarrow.flight as fl

    spark.sql("DROP TABLE IF EXISTS _xchg_test")
    spark.sql("CREATE TABLE _xchg_test (a BIGINT, b STRING) USING parquet")
    batch = pa.record_batch({"a": pa.array(range(100), pa.int64()),
                             "b": pa.array(["x"] * 100)})
    desc = fl.FlightDescriptor.for_path(b"_xchg_test")
    try:
        writer, reader = flight_client.do_exchange(desc)
        writer.begin(batch.schema)
        writer.write_batch(batch)
        time.sleep(2)  # a per-batch committer would have appended by now
        reader.cancel()
        time.sleep(1)
        assert spark.table("_xchg_test").count() == 0

        writer, reader = flight_client.do_exchange(desc)
        writer.begin(batch.schema)
        for _ in range(3):
            writer.write_batch(batch)
            writer.write_metadata(pa.py_buffer(b"app metadata"))  # no data: skipped
        writer.done_writing()
        assert reader.read_all()["rows_inserted"].to_pylist() == [300]
        writer.close()
        assert spark.table("_xchg_test").count() == 300
    finally:
        spark.sql("DROP TABLE IF EXISTS _xchg_test")


def test_flight_list_actions_create_schema(flight_client, spark):
    import pyarrow.flight as fl

    res = list(
        flight_client.do_action(
            fl.Action("create_schema", json.dumps({"schema": "cat.flight_test_db"}).encode())
        )
    )
    assert res[0].body.to_pybytes() == b"ok"
    assert any(d.name == "flight_test_db" for d in spark.catalog.listDatabases())
    res = list(flight_client.do_action(fl.Action("list_schemas", b"{}")))
    # reference envelope (main.py:581-594): [4-byte LE msgpack length,
    # zstd(msgpack(catalog_root))] as two Result bodies
    from quackflight_spark.serving.airport_codec import decode_action_reply

    assert len(res) == 2
    length_bytes = res[0].body.to_pybytes()
    compressed = res[1].body.to_pybytes()
    assert len(length_bytes) == 4
    assert compressed[:4] == bytes.fromhex("28b52ffd")  # zstd frame magic
    catalog_root = decode_action_reply(length_bytes, compressed)
    assert set(catalog_root) == {"contents", "schemas"}
    entries = {s["schema"]: s for s in catalog_root["schemas"]}
    assert "flight_test_db" in entries
    assert set(entries["flight_test_db"]) == {
        "schema", "description", "tags", "type", "contents"
    }


def test_flight_canned_flights_roundtrip(flight_client):
    """The four canned catalog flights (reference main.py:496-521) are
    listed as real FlightInfo objects and every ticket executes."""
    import pyarrow.flight as fl

    infos = list(flight_client.list_flights())
    canned = {
        i.descriptor.command.decode(): i
        for i in infos
        if i.descriptor.descriptor_type == fl.DescriptorType.CMD
    }
    assert set(canned) >= {"show_databases", "show_tables", "show_version",
                           "list_schemas"}
    for info in canned.values():
        table = flight_client.do_get(info.endpoints[0].ticket).read_all()
        assert table.schema.equals(info.schema)  # advertised schema is real
    dbs_ticket = canned["show_databases"].endpoints[0].ticket
    t = flight_client.do_get(dbs_ticket).read_all()
    assert "default" in t.to_pydict()[t.schema.names[0]]


def test_airport_codec_roundtrip():
    """Minimal msgpack encoder: canonical bytes for the payload shapes the
    envelope uses, verified against hand-computed spec encodings."""
    from quackflight_spark.serving.airport_codec import (
        decode_action_reply,
        encode_action_reply,
        packb,
        unpackb,
    )

    # spec vectors (msgpack.org): fixmap/fixstr/nil/true/fixint/fixarray
    assert packb({}) == b"\x80"
    assert packb([1, 2]) == b"\x92\x01\x02"
    assert packb("abc") == b"\xa3abc"
    assert packb(None) == b"\xc0"
    assert packb(True) == b"\xc3"
    assert packb(200) == b"\xcc\xc8"
    assert packb(-5) == b"\xfb"
    assert packb(70000) == b"\xce\x00\x01\x11\x70"
    payload = {
        "contents": {"url": None, "sha256": None, "serialized": None},
        "schemas": [
            {"schema": "s1", "description": "d", "tags": {}, "type": "table",
             "contents": {"url": None, "sha256": None, "serialized": None}},
        ],
    }
    assert unpackb(packb(payload)) == payload
    assert decode_action_reply(*encode_action_reply(payload)) == payload


def test_flight_bearer_auth_namespace(flight_client, spark):
    """Bearer user:password → per-user namespace session (reference
    main.py:749-762 semantics, race-free)."""
    import pyarrow.flight as fl

    opts = fl.FlightCallOptions(headers=[(b"authorization", b"Bearer erin:pw")])
    flight_client.do_get(
        fl.Ticket(b"CREATE TABLE IF NOT EXISTS flt (v BIGINT) USING parquet; "
                  b"INSERT INTO flt VALUES (7); SELECT 1 AS ok;"),
        options=opts,
    ).read_all()
    t = flight_client.do_get(
        fl.Ticket(b"SELECT max(v) AS v FROM flt"), options=opts
    ).read_all()
    assert t.to_pydict()["v"] == [7]
    # unauthenticated request resolves in the default namespace → no table
    import pytest as _pytest

    with _pytest.raises(Exception):
        flight_client.do_get(fl.Ticket(b"SELECT max(v) AS v FROM flt")).read_all()
    from quackflight_spark.serving.namespaces import user_namespace

    spark.sql(f"DROP DATABASE IF EXISTS {user_namespace('erin','pw')} CASCADE")


def test_flight_concurrent_insert_and_poll(spark):
    """The reference's flagship concurrency scenario (ST1/ST2,
    examples/flight_insert.py:40-95 + flight_watch.py:38-76) as a real
    two-client integration test: one gRPC client appends INSERT VALUES
    batches while a second concurrently polls COUNT(*) + a random sample.
    Asserts: no read errors, observed counts monotonically nondecreasing,
    final count = rows inserted."""
    fl = pytest.importorskip("pyarrow.flight")
    import threading
    import time as _time

    from quackflight_spark.serving.flight_server import SparkFlightServer

    server = SparkFlightServer(spark, "grpc://127.0.0.1:0")
    t = threading.Thread(target=server.serve, daemon=True)
    t.start()
    writer = fl.connect(f"grpc://127.0.0.1:{server.port}")
    monitor = fl.connect(f"grpc://127.0.0.1:{server.port}")

    def run_sql(client, sql):
        return client.do_get(fl.Ticket(sql.encode())).read_all()

    run_sql(writer, "DROP TABLE IF EXISTS concurrent_test")
    run_sql(
        writer,
        "CREATE TABLE IF NOT EXISTS concurrent_test "
        "(batch_id BIGINT, value DOUBLE, category STRING) USING PARQUET",
    )
    errors: list = []
    counts: list = []
    stop = threading.Event()

    def poll():
        while not stop.is_set():
            try:
                tbl = run_sql(
                    monitor, "SELECT COUNT(*) AS total FROM concurrent_test"
                )
                counts.append(tbl["total"][0].as_py())
                sample = run_sql(
                    monitor,
                    "SELECT * FROM concurrent_test ORDER BY RANDOM() LIMIT 1",
                )
                assert sample.num_rows <= 1
            except Exception as e:  # noqa: BLE001 — recorded and asserted empty
                errors.append(e)
            _time.sleep(0.05)

    mt = threading.Thread(target=poll)
    mt.start()
    n_batches, rows_per_batch = 6, 25
    try:
        for b in range(n_batches):
            vals = ",".join(
                f"({b}, {b}.{i}, '{'ABCD'[i % 4]}')" for i in range(rows_per_batch)
            )
            run_sql(writer, f"INSERT INTO concurrent_test VALUES {vals}")
    finally:
        stop.set()
        mt.join(timeout=30)
    final = run_sql(writer, "SELECT COUNT(*) AS total FROM concurrent_test")
    assert final["total"][0].as_py() == n_batches * rows_per_batch
    assert errors == [], errors
    assert len(counts) > 0
    assert counts == sorted(counts), counts  # appends never go backwards
    run_sql(writer, "DROP TABLE concurrent_test")
    server.shutdown()


# --- Golden-bytes format envelopes (r3 verdict item 5) ----------------------
# Pin the EXACT serialized bytes of every ClickHouse format over a fixed
# frame, so protocol parity survives refactors. Shapes follow reference
# main.py:135-193 (JSONCompact meta/data/rows/rows_before_limit_at_least/
# statistics field order, JSON without rows_before_limit, str()-length
# bytes_read); TSV/CSV pin OUR documented deviations (escaped TSV, quoted
# CSV — the reference's bare str() join is a recorded bug, SURVEY §7).


@pytest.fixture(scope="module")
def golden_df(spark):
    return spark.sql(
        "SELECT * FROM VALUES (1, 'plain', 0.5), (2, 'tab\there', 2.25), "
        "(3, CAST(NULL AS STRING), CAST('NaN' AS DOUBLE)) AS t(k, s, x)"
    )


def test_golden_bytes_jsoncompact(golden_df):
    payload, ctype = format_result(golden_df, "JSONCompact", elapsed=0.001234)
    assert ctype == "application/json"
    assert payload == (
        b'{"meta": [{"name": "k", "type": "Int32"}, {"name": "s", "type": "String"},'
        b' {"name": "x", "type": "Float64"}],'
        b' "data": [[1, "plain", 0.5], [2, "tab\\there", 2.25], [3, null, null]],'
        b' "rows": 3, "rows_before_limit_at_least": 3,'
        b' "statistics": {"elapsed": 0.001234, "rows_read": 3, "bytes_read": 31}}'
    ), payload


def test_golden_bytes_json(golden_df):
    payload, _ = format_result(golden_df, "JSON", elapsed=0.001234)
    assert payload == (
        b'{"meta": [{"name": "k", "type": "Int32"}, {"name": "s", "type": "String"},'
        b' {"name": "x", "type": "Float64"}],'
        b' "data": [{"k": 1, "s": "plain", "x": 0.5},'
        b' {"k": 2, "s": "tab\\there", "x": 2.25}, {"k": 3, "s": null, "x": null}],'
        b' "rows": 3,'
        b' "statistics": {"elapsed": 0.001234, "rows_read": 3, "bytes_read": 31}}'
    ), payload


def test_golden_bytes_jsoneachrow(golden_df):
    payload, ctype = format_result(golden_df, "JSONEachRow")
    assert ctype == "application/x-ndjson"
    assert payload == (
        b'{"k": 1, "s": "plain", "x": 0.5}\n'
        b'{"k": 2, "s": "tab\\there", "x": 2.25}\n'
        b'{"k": 3, "s": null, "x": null}\n'
    ), payload


def test_golden_bytes_tsv(golden_df):
    payload, ctype = format_result(golden_df, "TSV")
    assert ctype == "text/tab-separated-values"
    assert payload == (
        b"k\ts\tx\n"
        b"1\tplain\t0.5\n"
        b"2\ttab\\there\t2.25\n"
        b"3\t\\N\tnan\n"
    ), payload


def test_golden_bytes_csv(golden_df):
    payload, ctype = format_result(golden_df, "CSV")
    assert ctype == "text/csv"
    assert payload == (
        b"k,s,x\n"
        b"1,plain,0.5\n"
        b"2,tab\there,2.25\n"
        b"3,,nan\n"
    ), payload


def test_golden_bytes_default(golden_df):
    payload, ctype = format_result(golden_df, None)
    assert ctype == "application/json"
    assert payload == (
        b'[[1, "plain", 0.5], [2, "tab\\there", 2.25], [3, null, null]]'
    ), payload


@pytest.fixture(scope="module")
def decimal_df(spark):
    return spark.sql(
        "SELECT * FROM VALUES (CAST(1.5 AS DECIMAL(10,2)), "
        "CAST('12345678901234567890.123456789' AS DECIMAL(38,9))), "
        "(CAST(-0.25 AS DECIMAL(10,2)), CAST(NULL AS DECIMAL(38,9))) AS t(d, big)"
    )


def test_golden_bytes_decimal(decimal_df):
    """DECIMALs are exact JSON numbers in every JSON format (ClickHouse's
    default, output_format_json_quote_decimals=0) — not a 400, and not
    rounded through a double."""
    from decimal import Decimal

    meta = (b'{"meta": [{"name": "d", "type": "Decimal(10, 2)"},'
            b' {"name": "big", "type": "Decimal(38, 9)"}],')
    payload, _ = format_result(decimal_df, "JSONCompact", elapsed=0.5)
    assert payload == meta + (
        b' "data": [[1.50, 12345678901234567890.123456789], [-0.25, null]],'
        b' "rows": 2, "rows_before_limit_at_least": 2,'
        b' "statistics": {"elapsed": 0.5, "rows_read": 2, "bytes_read": 43}}'
    ), payload
    payload, _ = format_result(decimal_df, "JSON", elapsed=0.5)
    assert payload == meta + (
        b' "data": [{"d": 1.50, "big": 12345678901234567890.123456789},'
        b' {"d": -0.25, "big": null}], "rows": 2,'
        b' "statistics": {"elapsed": 0.5, "rows_read": 2, "bytes_read": 43}}'
    ), payload
    payload, _ = format_result(decimal_df, "JSONEachRow")
    assert payload == (
        b'{"d": 1.50, "big": 12345678901234567890.123456789}\n'
        b'{"d": -0.25, "big": null}\n'
    ), payload
    payload, _ = format_result(decimal_df, None)
    assert payload == b"[[1.50, 12345678901234567890.123456789], [-0.25, null]]"
    assert json.loads(payload, parse_float=Decimal)[0][1] == Decimal(
        "12345678901234567890.123456789"
    )
    payload, _ = format_result(decimal_df, "CSV")
    assert payload == b"d,big\n1.50,12345678901234567890.123456789\n-0.25,\n"


def test_attach_duckdb_row_cap(spark, tmp_path, monkeypatch):
    """Attaching a file past ATTACH_MAX_ROWS must refuse loudly (the cap
    is what keeps 'attach' an import of small metadata, not an accidental
    driver-side collect of a fact table)."""
    import duckdb

    from quackflight_spark.serving import namespaces

    db = str(tmp_path / "big.duckdb")
    con = duckdb.connect(db)
    con.execute("CREATE TABLE t AS SELECT * FROM range(100)")
    con.close()
    monkeypatch.setattr(namespaces, "ATTACH_MAX_ROWS", 10)
    with pytest.raises(ValueError, match="snapshot cap"):
        namespaces.attach_duckdb(spark, db)


def test_detach_managed_namespace_refused(spark):
    """DETACH must NOT drop a namespace that was not created by ATTACH —
    the reference's DETACH merely unmounts (no data loss), so mapping it
    to DROP DATABASE CASCADE on a managed namespace would permanently
    delete user tables through both the HTTP and Flight paths."""
    from quackflight_spark.serving.namespaces import maybe_handle_attach

    spark.sql("CREATE DATABASE IF NOT EXISTS precious_ns")
    spark.sql("CREATE TABLE IF NOT EXISTS precious_ns.t AS SELECT 1 AS x")
    try:
        with pytest.raises(ValueError, match="not an ATTACHed namespace"):
            maybe_handle_attach(spark, "DETACH precious_ns")
        assert spark.catalog.databaseExists("precious_ns")
        assert spark.table("precious_ns.t").count() == 1
    finally:
        spark.sql("DROP DATABASE IF EXISTS precious_ns CASCADE")


def test_attach_unchanged_file_skips_reimport(spark, tmp_path, monkeypatch):
    """Re-attaching an unchanged file must be a no-op (the HTTP path
    re-attaches the `database` param on EVERY request — a full re-read +
    non-atomic table overwrite per request races with in-flight
    readers). Freshness key = (path, mtime_ns, size)."""
    import os

    import duckdb

    from quackflight_spark.serving import namespaces

    db = str(tmp_path / "meta5.duckdb")
    _make_duckdb_file(db)
    alias = namespaces.attach_duckdb(spark, db)
    try:
        # prove the second attach never re-opens the file
        def boom(*a, **k):
            raise AssertionError("re-import attempted for unchanged file")

        monkeypatch.setattr(duckdb, "connect", boom)
        assert namespaces.attach_duckdb(spark, db) == alias
        monkeypatch.undo()
        # touching the file invalidates the snapshot -> real re-import
        os.utime(db, ns=(os.stat(db).st_mtime_ns + 1, os.stat(db).st_mtime_ns + 1))
        assert namespaces.attach_duckdb(spark, db) == alias
        assert spark.table(f"{alias}.dim_color").count() == 2
    finally:
        namespaces.detach_namespace(spark, alias)


def test_attach_detach_sql_statements(client, spark, tmp_path):
    """SQL-statement ATTACH '<file>' AS alias / DETACH alias through the
    HTTP path (the reference forwards both verbatim to DuckDB,
    main.py:284) — attach imports the snapshot, queries see it
    qualified, detach drops the namespace."""
    db = str(tmp_path / "meta3.duckdb")
    _make_duckdb_file(db)
    r = client.post("/", data=f"ATTACH '{db}' AS meta3".encode())
    assert r.status_code == 200, r.data
    r = client.get("/?query=SELECT count() AS c FROM meta3.dim_size")
    assert r.status_code == 200 and b"3" in r.data
    r = client.post("/", data=b"DETACH meta3")
    assert r.status_code == 200, r.data
    assert not any(d.name == "meta3" for d in spark.catalog.listDatabases())


def test_attach_sql_via_flight(spark, flight_client, tmp_path):
    """ATTACH/DETACH statements also work in Flight tickets (run_script
    shares the namespace-bridge handler with the HTTP path)."""
    import pyarrow.flight as fl

    db = str(tmp_path / "meta4.duckdb")
    _make_duckdb_file(db)
    sql = f"ATTACH '{db}' AS meta4; SELECT count(*) AS c FROM meta4.dim_color;"
    table = flight_client.do_get(fl.Ticket(sql.encode())).read_all()
    assert table["c"][0].as_py() == 2
    flight_client.do_get(fl.Ticket(b"DETACH meta4")).read_all()
    assert not any(d.name == "meta4" for d in spark.catalog.listDatabases())
