"""Served-request benchmark for quackflight_spark.

One run = one fresh server process (launcher.py: ClickHouse HTTP + Arrow
Flight over one SparkSession) driven by a closed-loop load generator from
this process over localhost sockets, for one workload:

    python3 servebench/run.py --workload http_dashboard --seed 1 --seconds 8 --trace 0

The last stdout line is one JSON object with ``correct``, ``attempted``,
``failed`` and ``metrics``: the end-to-end metrics with ``--trace 0``, the
per-layer metrics with ``--trace 1``. The lines before it describe the run
(conf, host noise, failures). See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import base64
import contextlib
import http.client
import itertools
import json
import os
import shutil
import signal
import subprocess
import sys
import threading
import time
import urllib.parse

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import measure  # noqa: E402
import workloads as wl  # noqa: E402

WORKLOADS = ("http_dashboard", "bulk_export", "ingest_while_query", "operator_library")


# --- the server process -----------------------------------------------------

class Server:
    """A launcher process, its ports, and a line-JSON control channel."""

    def __init__(self, run_dir: str, fixtures: str, trace: bool, trace_out: str):
        env = dict(os.environ)
        nproc = str(len(os.sched_getaffinity(0)))
        env.update({
            "SPARK_GRAFT_CPUS": nproc,
            "SPARK_GRAFT_DRIVER_MEM": measure.driver_memory(),
            "SPARK_LOCAL_DIRS": os.path.join(run_dir, "local"),
            "TMPDIR": os.path.join(run_dir, "tmp"),
            # every JVM (spark-submit's launcher too): temp files in the run
            # dir, and no /tmp/hsperfdata file left behind by the final kill
            "JAVA_TOOL_OPTIONS": f"-XX:-UsePerfData -Djava.io.tmpdir={run_dir}/tmp",
            "PYTHONPATH": ROOT,  # Spark's Python workers import the package too
        })
        env.pop("OMP_NUM_THREADS", None)
        for d in ("local", "tmp"):
            os.makedirs(os.path.join(run_dir, d), exist_ok=True)
        self.log_path = os.path.join(run_dir, "launcher.log")
        self._log = open(self.log_path, "wb")
        cmd = [sys.executable, os.path.join(HERE, "launcher.py"), "--run-dir", run_dir,
               "--fixtures", fixtures, "--trace", str(int(trace)), "--trace-out", trace_out]
        t0 = time.perf_counter()
        self.proc = subprocess.Popen(cmd, cwd=run_dir, env=env, stdin=subprocess.PIPE,
                                     stdout=subprocess.PIPE, stderr=self._log,
                                     start_new_session=True)
        try:
            self._start(t0)
        except BaseException:
            self.kill()
            raise

    def _start(self, t0: float) -> None:
        self.ready = self.recv(timeout=150)
        self.http_port = self.ready["http_port"]
        self.flight_port = self.ready["flight_port"]
        status, body, _, _ = http_get(self.http_port, "/ping")
        if status != 200:
            raise RuntimeError(f"/ping answered {status}: {body[:200]!r}")
        import pyarrow.flight as fl

        client = fl.connect(f"grpc://127.0.0.1:{self.flight_port}")
        flights = list(client.list_flights())
        client.close()
        if not any(f.descriptor.path and f.descriptor.path[0] == b"default.lineitem"
                   for f in flights):
            raise RuntimeError("list_flights does not list default.lineitem")
        self.setup_s = time.perf_counter() - t0

    def recv(self, timeout: float = 600) -> dict:
        timer = threading.Timer(timeout, self.proc.kill)
        timer.start()
        try:
            line = self.proc.stdout.readline()
        finally:
            timer.cancel()
        if not line:
            raise RuntimeError("launcher exited:\n" + self.log_tail())
        return json.loads(line)

    def call(self, msg: dict, timeout: float = 600) -> dict:
        self.proc.stdin.write((json.dumps(msg) + "\n").encode())
        self.proc.stdin.flush()
        return self.recv(timeout)

    def log_tail(self) -> str:
        self._log.flush()
        with open(self.log_path, "rb") as f:
            return f.read()[-4000:].decode(errors="replace")

    def stop(self) -> None:
        """Have the launcher write its trace, then kill it."""
        try:
            if self.proc.poll() is None:
                self.call({"cmd": "exit"}, timeout=120)
        except (RuntimeError, OSError, ValueError):
            pass
        finally:
            self.kill()

    def kill(self) -> None:
        """End the launcher's whole process tree (the Python launcher, its
        JVM and the JVM's Python workers) and wait until it is gone."""
        try:
            os.killpg(self.proc.pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        self.proc.wait()
        measure.stop_descendants(timeout=60)
        self._log.close()


class RssSampler(threading.Thread):
    """Resident memory of the server's process tree every 50 ms."""

    def __init__(self, pid: int):
        super().__init__(daemon=True)
        self.pid, self.samples, self._stop_evt = pid, [], threading.Event()

    def run(self):
        while not self._stop_evt.is_set():
            self.samples.append(measure.tree_rss_mb(self.pid))
            self._stop_evt.wait(0.05)

    def stop(self) -> float:
        self._stop_evt.set()
        self.join()
        return max(self.samples)


# --- protocol clients -------------------------------------------------------

def http_get(port: int, path: str, method: str = "GET", body: bytes | None = None,
             user: tuple[str, str] | None = None, op_id: str | None = None):
    """(status, body, seconds to first body byte, seconds to last byte)."""
    headers = {}
    if user:
        headers["Authorization"] = "Basic " + base64.b64encode(":".join(user).encode()).decode()
    if op_id:
        headers["X-Bench-Op"] = op_id
    conn = http.client.HTTPConnection("127.0.0.1", port, timeout=170)
    try:
        t0 = time.perf_counter()
        conn.request(method, path, body=body, headers=headers)
        resp = conn.getresponse()
        chunks = [resp.read1(1 << 16)]
        t_first = time.perf_counter() - t0
        chunks.append(resp.read())
        return resp.status, b"".join(chunks), t_first, time.perf_counter() - t0
    finally:
        conn.close()


def query_path(sql: str | None = None, fmt: str | None = None, query_id: str | None = None) -> str:
    params = {}
    if sql is not None:
        params["query"] = sql
    if fmt:
        params["default_format"] = fmt
    if query_id:
        params["query_id"] = query_id
    return "/?" + urllib.parse.urlencode(params)


def flight_options(op_id: str):
    import pyarrow.flight as fl

    return fl.FlightCallOptions(headers=[(b"x-bench-op", op_id.encode())], timeout=170)


# --- closed loop ------------------------------------------------------------

def closed_loop(op_lists: list[list], execute, seconds: float, tag: str,
                granule: int) -> list:
    """One thread per client; each sends its next operation only after the
    previous one completed, until ``seconds`` have passed. A client stops
    only after a whole multiple of ``granule`` operations, so a workload
    whose lists rotate through ``granule`` kinds of request measures the
    same mix in every run. Operations in flight at the deadline complete
    and count; every client sends at least one."""
    records: list = []
    lock = threading.Lock()
    t0 = time.perf_counter()
    deadline = t0 + seconds
    errors: list = []

    def client(c: int, ops: list):
        try:
            for i, op in enumerate(itertools.cycle(ops)):
                if i and i % granule == 0 and time.perf_counter() >= deadline:
                    return
                rec = execute(c, op, f"{tag}-c{c}-{i}")
                rec["client"], rec["end"] = c, time.perf_counter() - t0
                with lock:
                    records.append(rec)
        except BaseException as ex:  # surfaced after join
            errors.append(ex)
            raise

    threads = [threading.Thread(target=client, args=(c, ops)) for c, ops in enumerate(op_lists)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    if errors:
        raise errors[0]
    return records


def _record(op, status_ok: bool, t_first: float, t_total: float, result=None, error=None,
            rows: int = 0):
    return {"op": op, "ok": status_ok and error is None, "first_s": t_first, "latency_s": t_total,
            "result": result, "error": error, "rows": rows}


# --- workloads --------------------------------------------------------------

class Dashboard:
    # each client's list repeats every 8 requests (6 templates, 2 replays)
    granule = 8
    group = 1

    def __init__(self, seed: int, con):
        self.lists = wl.plan_dashboard(seed)
        self.expected = {}
        for op in itertools.chain.from_iterable(self.lists):
            if op.ref not in self.expected:
                cur = con.execute(op.ref)
                self.expected[op.ref] = ([d[0] for d in cur.description], cur.fetchall())

    def prepare(self, srv):
        pass  # HTTP needs no client state

    def execute(self, srv, c, op, op_id):
        if op.kind == "replay":
            status, body, t_first, t = http_get(srv.http_port, query_path(query_id=op.query_id),
                                                user=op.user, op_id=op_id)
            if status == 200 and body == b"Ok.":  # not cached: run it
                status, body, t_first2, t2 = http_get(
                    srv.http_port, query_path(op.sql, op.fmt, op.query_id), user=op.user,
                    op_id=op_id)
                t_first, t = t + t_first2, t + t2
        else:
            status, body, t_first, t = http_get(srv.http_port, query_path(op.sql, op.fmt, op.query_id),
                                                user=op.user, op_id=op_id)
        return _record(op, status == 200, t_first, t, result=body,
                       error=None if status == 200 else f"HTTP {status}: {body[:300]!r}")

    def check(self, rec) -> str | None:
        op = rec["op"]
        names, rows = wl.parse_payload(rec["result"], op.fmt or op.sql.rsplit(" ", 1)[1])
        rec["rows"] = len(rows)
        return wl.check_rows(names, rows, *self.expected[op.ref])


class Export:
    granule = 2  # lineitem, orders
    group = 1

    def __init__(self, seed: int, con):
        self.lists = wl.plan_export(seed)
        self.types, self.expected = {}, {}
        for op in itertools.chain.from_iterable(self.lists):
            if op.sql in self.expected:
                continue
            types = {r[0]: r[1] for r in con.execute(f"DESCRIBE {op.sql}").fetchall()}
            self.types[op.sql] = types
            self.expected[op.sql] = list(con.execute(
                wl.checksum_sql(op.sql, op.columns, types)).fetchone())

    def prepare(self, srv):
        import pyarrow.flight as fl

        self.flight = [fl.connect(f"grpc://127.0.0.1:{srv.flight_port}") for _ in self.lists]

    def execute(self, srv, c, op, op_id):
        if op.kind == "flight_get":
            import pyarrow.flight as fl

            t0 = time.perf_counter()
            reader = self.flight[c].do_get(fl.Ticket(op.sql.encode()), flight_options(op_id))
            chunks, t_first = [], None
            while True:
                try:
                    chunk = reader.read_chunk()
                except StopIteration:
                    break
                if t_first is None:
                    t_first = time.perf_counter() - t0
                chunks.append(chunk.data)
            t = time.perf_counter() - t0
            return _record(op, True, t_first or t, t, result=chunks,
                           rows=sum(b.num_rows for b in chunks))
        status, body, t_first, t = http_get(srv.http_port, query_path(op.sql, op.fmt),
                                            op_id=op_id)
        return _record(op, status == 200, t_first, t, result=body,
                       error=None if status == 200 else f"HTTP {status}: {body[:300]!r}")

    def check(self, rec) -> str | None:
        import pyarrow as pa

        op = rec["op"]
        if op.kind == "flight_get":
            table = pa.Table.from_batches(rec["result"])
        elif rec["result"].strip():
            table = wl.payload_table(rec["result"], op.fmt)
        else:
            return "empty response"
        if table.column_names != list(op.columns):
            return f"columns {table.column_names} != {list(op.columns)}"
        got = wl.checksums(table, op.columns, self.types[op.sql])
        rec["rows"] = got[0]
        want = self.expected[op.sql]
        return None if got == want else f"checksums {got} != {want}"


class Ingest:
    # an operation is one round of a client: a writer's three ingest paths,
    # or three of the reader's counts
    granule = group = len(wl.INGEST_PATHS)

    def __init__(self, seed: int, con):
        self.lists = wl.plan_ingest(seed)
        self.acked = dict.fromkeys(wl.INGEST_TABLES, 0)
        self.acked_bytes = 0
        self.last_count = dict.fromkeys(wl.INGEST_TABLES, 0)
        self.lock = threading.Lock()

    def prepare(self, srv):
        import pyarrow as pa
        import pyarrow.flight as fl

        self.schema = pa.schema([("k", pa.int64()), ("v", pa.float64()), ("s", pa.string())])
        self.flight = [fl.connect(f"grpc://127.0.0.1:{srv.flight_port}")
                       for _ in wl.INGEST_TABLES]
        hexschema = self.schema.serialize().to_pybytes().hex()
        for table in self.acked:
            ns, name = table.split(".")
            for action, body in (("create_schema", {"schema": ns}),
                                 ("create_table", {"schema": ns, "table": name,
                                                   "arrow_schema_hex": hexschema})):
                list(self.flight[0].do_action(fl.Action(action, json.dumps(body).encode())))

    def _arrow(self, rows):
        import pyarrow as pa

        k, v, s = zip(*rows)
        return pa.table([pa.array(k, pa.int64()), pa.array(v, pa.float64()), pa.array(s)],
                        schema=self.schema)

    def execute(self, srv, c, op, op_id):
        if op.kind == "count":
            return self.read(srv, op, op_id)
        import pyarrow.flight as fl

        table = self._arrow(op.rows)
        t0 = time.perf_counter()
        error = None
        desc = fl.FlightDescriptor.for_path(op.table)
        if op.kind == "flight_put":
            writer, _ = self.flight[c].do_put(desc, self.schema, flight_options(op_id))
            writer.write_table(table)
            writer.close()
        elif op.kind == "flight_exchange":
            writer, reader = self.flight[c].do_exchange(desc, flight_options(op_id))
            writer.begin(self.schema)
            for part in table.to_batches(max_chunksize=max(1, table.num_rows // 3 + 1)):
                writer.write_batch(part)
            writer.done_writing()
            ack = reader.read_all().column("rows_inserted")[0].as_py()
            writer.close()
            if ack != table.num_rows:
                error = f"do_exchange acked {ack} of {table.num_rows} rows"
        else:
            body = "\n".join(json.dumps({"k": k, "v": v, "s": s}) for k, v, s in op.rows)
            status, resp, _, _ = http_get(
                srv.http_port, query_path(f"INSERT INTO {op.table} FORMAT JSONEachRow"),
                method="POST", body=body.encode(), op_id=op_id)
            if status != 200 or resp.strip() != str(len(op.rows)).encode():
                error = f"INSERT answered {status}: {resp[:200]!r}"
        t = time.perf_counter() - t0
        if error is None:
            with self.lock:
                self.acked[op.table] += table.num_rows
                self.acked_bytes += table.nbytes
        return _record(op, True, t, t, error=error, rows=table.num_rows)

    def read(self, srv, op, op_id):
        """The concurrent reader's count of every writer's table; the counts
        must never decrease while the writers append. It reports no rows:
        ``rows_per_s`` on this workload counts acknowledged rows."""
        status, body, t_first, t = http_get(srv.http_port, query_path(op.sql, op.fmt),
                                            op_id=op_id)
        if status != 200:
            return _record(op, False, t_first, t, error=f"HTTP {status}: {body[:300]!r}")
        error = None
        for table, n in json.loads(body)["data"]:
            if n < self.last_count[table]:
                error = f"{table}: count went back from {self.last_count[table]} to {n}"
            self.last_count[table] = max(n, self.last_count[table])
        return _record(op, True, t_first, t, error=error)

    def final_check(self, srv) -> list[str]:
        status, body, _, _ = http_get(srv.http_port, query_path(self.lists[-1][0].sql,
                                                                "JSONCompact"))
        if status != 200:
            return [f"final count answered HTTP {status}: {body[:300]!r}"]
        stored = dict(json.loads(body)["data"])
        return [f"{table}: {stored[table]} rows stored, {acked} acknowledged"
                for table, acked in self.acked.items() if stored[table] != acked]

    def check(self, rec) -> str | None:
        return None  # writes are checked on acknowledgement and by final_check


class PhaseClock:
    """Wall seconds per phase of a run, for the run record."""

    def __init__(self):
        self.laps: dict[str, float] = {}
        self._t = time.perf_counter()

    def lap(self, name: str) -> None:
        now = time.perf_counter()
        self.laps[name] = now - self._t
        self._t = now


@contextlib.contextmanager
def served(args, out: dict, clock: PhaseClock):
    """A fresh server in a fresh run directory, both gone afterwards."""
    run_dir = os.path.join(ROOT, ".servebench", f"run-{os.getpid()}")
    shutil.rmtree(run_dir, ignore_errors=True)
    os.makedirs(run_dir)
    trace_out = os.path.join(ROOT, ".servebench", "traces",
                             f"{args.workload}-s{args.seed}-{os.getpid()}.jsonl")
    srv = None
    try:
        srv = Server(run_dir, args.fixtures, bool(args.trace), trace_out if args.trace else "")
        out.update(setup=srv.ready["setup"], setup_s=srv.setup_s, conf=srv.ready["conf"])
        clock.lap("setup")
        yield srv
    finally:
        if srv is not None:
            srv.stop()
        measure.stop_descendants(timeout=60)
        shutil.rmtree(run_dir, ignore_errors=True)
        clock.lap("stop")


def measured(args, srv, out: dict, phase) -> list:
    """Run ``phase(seconds, tag) -> records`` for the timed part of a run
    and record host noise and peak server RSS over it. With tracing, the
    middle third runs traced between two untraced thirds; the overhead is
    the untraced throughput (mean of both thirds, so that warm-up drift
    cancels) over the traced one."""
    cpu0 = measure.cpu_times()
    sampler = RssSampler(srv.proc.pid)
    sampler.start()
    if args.trace:
        third = args.seconds / 3
        before = phase(third, "plain1")
        srv.call({"cmd": "trace", "on": True})
        traced = phase(third, "traced")
        srv.call({"cmd": "trace", "on": False})
        after = phase(third, "plain2")
        out["layers"] = srv.call({"cmd": "layers"})
        out["traced"] = traced
        plain_rate = (_rate(before) + _rate(after)) / 2
        out["overhead_pct"] = 100.0 * (plain_rate / max(_rate(traced), 1e-9) - 1)
        recs = before + traced + after
    else:
        recs = phase(args.seconds, "run")
    out["rss_peak_mb"] = sampler.stop()
    out["steal_pct"] = measure.steal_pct(cpu0, measure.cpu_times())
    out["loadavg"] = os.getloadavg()[0]
    return recs


def _rate(recs: list) -> float:
    return client_rate(recs, lambda r: r["ok"])


def run_serving(args, kind, con) -> dict:
    clock = PhaseClock()
    w = kind(args.seed, con)
    out = {"problems": [], "wall": clock.laps, "group": w.group}
    clock.lap("plan")
    with served(args, out, clock) as srv:
        w.prepare(srv)

        def execute(c, op, op_id):
            try:
                return w.execute(srv, c, op, op_id)
            except Exception as ex:  # refused or broken request: counted as failed
                return _record(op, False, 0.0, 0.0, error=f"{type(ex).__name__}: {ex}"[:500])

        def phase(seconds, tag):
            return closed_loop(w.lists, execute, seconds, tag, w.granule if seconds else 1)

        phase(0, "warm")
        clock.lap("warmup")
        recs = measured(args, srv, out, phase)
        clock.lap("measure")
        if isinstance(w, Ingest):
            out["problems"] = w.final_check(srv)
            out["acked_bytes"] = w.acked_bytes
        for rec in recs:
            if rec["ok"]:
                rec["error"] = w.check(rec)
                rec["ok"] = rec["error"] is None
            rec["result"] = None
        out["records"] = recs
        clock.lap("check")
    return out


def run_library(args, con) -> dict:
    import __spark_entry__

    clock = PhaseClock()
    keys = wl.plan_library(args.seed)
    oracles = __spark_entry__.oracle_sql()
    # the operation is one pass over the keys, the wall time of a batch job
    out = {"problems": [], "wall": clock.laps, "group": len(keys)}
    clock.lap("plan")
    with served(args, out, clock) as srv:
        # Untimed correctness pass, which also warms the JIT and codegen.
        # DuckDB answers the oracles meanwhile; nothing is timed yet.
        wanted: dict = {}
        oracle = threading.Thread(target=lambda: wanted.update(
            {k: wl.canonical_rows(con.execute(oracles[k]).df()) for k in keys}))
        oracle.start()
        check = srv.call({"cmd": "library", "phase": "check", "keys": keys})["check"]
        oracle.join()
        rows = {}
        for key in keys:
            got = check[key]
            if "error" in got:
                out["problems"].append(f"{key}: {got['error']}")
                continue
            rows[key] = len(got["rows"]) - 1
            if got["rows"] != wanted[key]:
                out["problems"].append(f"{key}: result differs from oracle_sql() "
                                       f"({rows[key]} vs {len(wanted[key]) - 1} rows)")
        clock.lap("check")

        def phase(seconds, tag):
            ops = srv.call({"cmd": "library", "phase": "timed", "keys": keys,
                            "seconds": seconds, "tag": tag})["ops"]
            recs, end = [], 0.0
            for o in ops:
                end += o["latency_s"]
                rec = _record(wl.Op("key", sql=o["key"]), True, o["latency_s"], o["latency_s"],
                              error=o["error"], rows=rows.get(o["key"], 0))
                rec.update(client=0, end=end, detail=o)
                recs.append(rec)
            return recs

        out["records"] = measured(args, srv, out, phase)
        clock.lap("measure")
    return out


# --- metrics ----------------------------------------------------------------

def client_rate(recs: list, amount) -> float:
    """Closed-loop throughput: the sum over clients of each client's
    completed amount divided by the time its last operation ended. Unlike
    a count over the whole phase, this does not jump by a whole operation
    when one more request happens to fit before the deadline."""
    done: dict = {}
    for r in recs:
        total, end = done.get(r["client"], (0.0, 0.0))
        done[r["client"]] = (total + amount(r), max(end, r["end"]))
    return sum(total / end for total, end in done.values() if end > 0)


def client_percentile(recs: list, p: float) -> float:
    """Mean over clients of each client's latency percentile, in ms. A
    client whose requests are slower (HTTP beside Flight in bulk_export)
    weighs the same however many requests it completed, so the figure does
    not jump between the clients' modes as their counts shift."""
    by: dict = {}
    for r in recs:
        by.setdefault(r["client"], []).append(1e3 * r["latency_s"])
    return sum(measure.percentile(v, p) for v in by.values()) / len(by) if by else 0.0


def grouped(recs: list, size: int) -> list:
    """Each client's consecutive requests merged ``size`` at a time into
    one operation: latencies and rows add up, it ends with its last request
    and succeeds only if all of them did."""
    if size == 1:
        return recs
    by: dict = {}
    for r in recs:
        by.setdefault(r["client"], []).append(r)
    out = []
    for rs in by.values():
        for i in range(0, len(rs) - size + 1, size):
            part = rs[i:i + size]
            out.append({"client": part[-1]["client"], "end": part[-1]["end"],
                        "latency_s": sum(r["latency_s"] for r in part),
                        "rows": sum(r["rows"] for r in part),
                        "ok": all(r["ok"] for r in part)})
    return out


def end_to_end(out: dict) -> dict[str, float]:
    ops = grouped(out["records"], out["group"])
    ok = [r for r in ops if r["ok"]]
    return {
        "setup_s": out["setup_s"],
        "latency_p50_ms": client_percentile(ok, 50),
        "latency_p90_ms": client_percentile(ok, 90),
        "ops_per_s": client_rate(ops, lambda r: r["ok"]),
        "rows_per_s": client_rate(ops, lambda r: r["rows"] if r["ok"] else 0),
    }


def per_layer(out: dict) -> dict[str, float]:
    layers = dict(out["layers"])
    traced = out["traced"]
    n_ops = max(1, layers.get("trace.ops", 1))
    keys = [r["detail"] for r in traced if "detail" in r]
    first = [1e3 * r["first_s"] for r in traced if r["ok"]]
    layers.update({
        "client.first_byte_p50_ms": measure.median(first),
        "ingest.stored_bytes_per_input_byte":
            layers["ingest.bytes_written"] / out["acked_bytes"] if out.get("acked_bytes") else 0.0,
        "operators.rounds": sum(k["rounds"] for k in keys) / n_ops,
        "operators.scratch_bytes": max((k["scratch_bytes"] for k in keys), default=0),
        "operators.block_store_mb": max((k["block_store_mb"] for k in keys), default=0.0),
        "setup.session_s": out["setup"]["session_s"],
        "setup.fixtures_s": out["setup"]["fixtures_s"],
        "setup.first_query_s": out["setup"]["first_query_s"],
        "server.rss_peak_mb": out["rss_peak_mb"],
        "host.steal_pct": out["steal_pct"],
        "host.loadavg": out["loadavg"],
        "trace.overhead_pct": out["overhead_pct"],
    })
    return layers


def metric_units(section: str) -> dict[str, str]:
    """Name -> unit of the ``end_to_end`` or ``per_layer`` metrics, as
    BENCHMARK.json declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return {m["name"]: m["unit"] for m in json.load(f)[section]}


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--seconds", type=float, default=7)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    # Stop every process a run starts, also when the run is cut short:
    # adopt orphaned descendants, and turn SIGTERM/SIGHUP into SystemExit
    # so that the cleanup in ``served`` runs.
    measure.become_subreaper()
    for sig in (signal.SIGTERM, signal.SIGHUP):
        signal.signal(sig, lambda signum, frame: sys.exit(128 + signum))

    # The program under test must be importable from the checkout root; the
    # fixtures are the sf0.1 tables its own loaders read.
    sys.path.insert(0, ROOT)
    from quackflight_spark.sources.fixtures import DEFAULT_SF_DIR

    args.fixtures = DEFAULT_SF_DIR
    if not os.path.isdir(args.fixtures):
        raise SystemExit(f"fixtures not found: {args.fixtures}")
    con = wl.duckdb_connection(args.fixtures)
    if args.workload == "operator_library":
        out = run_library(args, con)
    else:
        kind = {"http_dashboard": Dashboard, "bulk_export": Export,
                "ingest_while_query": Ingest}[args.workload]
        out = run_serving(args, kind, con)
    con.close()

    recs = out["records"]
    failures = [r for r in recs if not r["ok"]]
    attempted = len(recs) + len(out["problems"])
    failed = len(failures) + len(out["problems"])
    for r in failures[:20]:
        print(f"FAILED {r['op'].kind}: {r['error']} :: {r['op'].sql[:300]}")
    for p in out["problems"]:
        print(f"FAILED check: {p}")
    if args.trace:
        values = per_layer(out)
        metrics = {k: {"value": values.get(k, 0.0), "unit": u}
                   for k, u in metric_units("per_layer").items()}
    else:
        values = end_to_end(out)
        metrics = {k: {"value": values[k], "unit": u}
                   for k, u in metric_units("end_to_end").items()}
    lat = [1e3 * r["latency_s"] for r in recs if r["ok"]]
    tail = measure.tail_percentile(lat)
    kinds: dict = {}
    for r in recs:
        if r["ok"]:
            kinds.setdefault(r["op"].kind, []).append(1e3 * r["latency_s"])
    print(json.dumps({"run": {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "conf": out["conf"], "steal_pct": out["steal_pct"],
        "loadavg": out["loadavg"], "samples": len(lat),
        "tail": {"percentile": tail[0], "ms": tail[1]} if tail else None,
        "failed_ratio": failed / attempted if attempted else 0.0,
        "request_p50_ms": {k: measure.median(v) for k, v in kinds.items()},
        "wall_s": out.get("wall"), "server_rss_peak_mb": out["rss_peak_mb"],
    }}))
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
