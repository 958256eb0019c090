"""Spans around the calls into each layer of the serving stack.

The tracer lives in the launcher process and wraps public entry points of
the program from the outside; nothing in ``quackflight_spark`` is edited.
Spans are kept in memory (name, start, end, parent, the request's
query_id, and attributes) and written out as JSON lines at exit. Only
spans opened while ``Tracer.enabled`` is set are recorded, so a run can
measure the same workload untraced and traced against one server.

Every request carries the load generator's operation id (HTTP header or
Flight header ``x-bench-op``). It becomes the span query_id and, for the
duration of the request, a Spark job tag, so jobs, stages and task CPU
time can be read back per request from Spark's status store.

Streaming spans (a Flight stream, ``toLocalIterator``) are suspended
between batches while the consumer works, so their interval overstates
their cost. They record ``busy_s``, the time spent inside ``next()``, and
the layer metrics use that instead of the interval.
"""

from __future__ import annotations

import collections
import functools
import itertools
import json
import os
import threading
import time

ROOTS = ("http.request", "flight.do_get", "flight.do_put", "flight.do_exchange",
         "library.key")


class Span:
    __slots__ = ("sid", "name", "start", "end", "parent", "qid", "attrs")

    def __init__(self, sid, name, start, end=None, parent=None, qid=None, attrs=None):
        self.sid = sid
        self.name = name
        self.start = start
        self.end = end
        self.parent = parent
        self.qid = qid
        self.attrs = attrs or {}

    def duration(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[Span] = []
        self.counters: collections.Counter = collections.Counter()
        self.gc_ms = 0.0
        self.gc_ms_at_enable = 0.0
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()

    def _stack(self) -> list[Span]:
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        return stack

    def open(self, name: str, qid: str | None = None, root: bool = False,
             push: bool = True) -> Span:
        stack = self._stack()
        parent = None if root or not stack else stack[-1]
        span = Span(next(self._ids), name, time.perf_counter(),
                    parent=parent.sid if parent else None,
                    qid=qid if qid is not None else (parent.qid if parent else None))
        if push:
            stack.append(span)
        return span

    def close(self, span: Span, **attrs) -> None:
        span.end = time.perf_counter()
        span.attrs.update(attrs)
        stack = self._stack()
        if span in stack:
            stack.remove(span)
        with self._lock:
            self.spans.append(span)

    def count(self, name: str, n: int = 1) -> None:
        with self._lock:
            self.counters[name] += n

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path) or ".", exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({"sid": s.sid, "name": s.name, "start": s.start,
                                    "end": s.end, "parent": s.parent, "qid": s.qid,
                                    "attrs": s.attrs}) + "\n")


def self_times(spans: list[Span]) -> dict[int, float]:
    """Each span's duration minus the part of its interval that its child
    spans cover (overlapping children are counted once)."""
    children = collections.defaultdict(list)
    for s in spans:
        if s.parent is not None:
            children[s.parent].append(s)
    out = {}
    for s in spans:
        covered = 0.0
        cur_a = cur_b = None
        for a, b in sorted((max(c.start, s.start), min(c.end, s.end))
                           for c in children[s.sid]):
            if b <= a:
                continue
            if cur_b is None or a > cur_b:
                if cur_b is not None:
                    covered += cur_b - cur_a
                cur_a, cur_b = a, b
            else:
                cur_b = max(cur_b, b)
        if cur_b is not None:
            covered += cur_b - cur_a
        out[s.sid] = s.duration() - covered
    return out


# --- per-request roots ------------------------------------------------------

def begin_op(tracer: Tracer | None, spark, name: str, qid: str) -> Span | None:
    if tracer is None or not tracer.enabled:
        return None
    spark.sparkContext.addJobTag(qid)
    return tracer.open(name, qid=qid, root=True)


def end_op(tracer: Tracer | None, spark, span: Span | None, df=None) -> None:
    if span is None:
        return
    spark.sparkContext.removeJobTag(span.qid)
    tracer.close(span)
    if df is not None:
        # A noop write plans its own command; planning the frame's own
        # QueryExecution afterwards (outside the span) is the proxy read.
        df._jdf.queryExecution().executedPlan()
        span.attrs.update(catalyst_phases(df))


def catalyst_phases(df) -> dict[str, float]:
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[f"{name}_ms"] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def _header_qid(context) -> str | None:
    mw = context.get_middleware("headers") if context is not None else None
    return mw.headers.get("x-bench-op") if mw is not None else None


# --- installing the wrappers ------------------------------------------------

def _wrap(tracer: Tracer, fn, name: str, attrs=None):
    """Span around ``fn``; ``attrs(result)`` adds attributes after it ends."""

    @functools.wraps(fn)
    def inner(*a, **kw):
        if not tracer.enabled:
            return fn(*a, **kw)
        span = tracer.open(name)
        try:
            out = fn(*a, **kw)
        except BaseException:
            tracer.close(span, error=True)
            raise
        tracer.close(span, **(attrs(out) if attrs else {}))
        return out

    return inner


def _timed_iter(tracer: Tracer, span: Span, it, on_item=None):
    """Iterate ``it`` with ``span`` current during each ``next()``; record
    the busy time and the time to the first item."""
    busy = 0.0
    first = None
    n = 0
    stack = tracer._stack()
    try:
        while True:
            t0 = time.perf_counter()
            stack.append(span)
            try:
                item = next(it)
            except StopIteration:
                return
            finally:
                stack.remove(span)
                busy += time.perf_counter() - t0
            if first is None:
                first = time.perf_counter() - span.start
            n += 1
            if on_item is not None:
                on_item(item)
            yield item
    finally:
        tracer.close(span, busy_s=busy, first_s=first or 0.0, items=n)


def install(tracer: Tracer, spark) -> None:
    """Wrap the serving modules' entry points (process-wide)."""
    import pyarrow.flight as fl

    from quackflight_spark.plans import dialect
    from quackflight_spark.serving import cache, flight_server, http_app, namespaces

    # http_app imported these by name, so both bindings get the one wrapper
    for fname in ("sanitize_query", "transpile", "split_statements"):
        wrapped = _wrap(tracer, getattr(dialect, fname), f"dialect.{fname}",
                        (lambda out: {"n": len(out)}) if fname == "split_statements" else None)
        setattr(dialect, fname, wrapped)
        setattr(http_app, fname, wrapped)
    http_app.format_result = _wrap(tracer, http_app.format_result, "formats.format_result",
                                   lambda out: {"bytes": len(out[0])})
    http_app.insert_ndjson = _wrap(tracer, http_app.insert_ndjson, "ingest.append",
                                   lambda n: {"rows": n})
    http_app.execute_query = _wrap(tracer, http_app.execute_query, "http.execute")

    qc = cache.QueryCache
    orig_get, orig_put = qc.get, qc.put

    def get(self, query_id):
        out = orig_get(self, query_id)
        if tracer.enabled:
            tracer.count("cache.probes")
            tracer.count("cache.hits", out is not None)
        return out

    def put(self, query_id, payload, content_type):
        before = len(self._d) + (query_id not in self._d)
        orig_put(self, query_id, payload, content_type)
        if tracer.enabled:
            tracer.count("cache.evictions", before - len(self._d))

    qc.get, qc.put = get, put

    sm = namespaces.SessionManager
    orig_for_ns = _wrap(tracer, sm.for_namespace, "namespaces.session")

    def for_namespace(self, namespace):
        before = len(self._sessions)
        out = orig_for_ns(self, namespace)
        if tracer.enabled:
            tracer.count("namespaces.sessions_created", len(self._sessions) - before)
        return out

    sm.for_namespace = for_namespace

    dfcls = type(spark.range(1))
    orig_collect, orig_iter = dfcls.collect, dfcls.toLocalIterator

    def collect(self):
        if not tracer.enabled:
            return orig_collect(self)
        span = tracer.open("egress.collect")
        rows = orig_collect(self)
        tracer.close(span, rows=len(rows), busy_s=time.perf_counter() - span.start,
                     first_s=time.perf_counter() - span.start)
        span.attrs.update(catalyst_phases(self))
        return rows

    def to_local_iterator(self, prefetchPartitions=False):
        it = orig_iter(self, prefetchPartitions)
        if not tracer.enabled:
            return it
        span = tracer.open("egress.toLocalIterator", push=False)
        gen = _timed_iter(tracer, span, iter(it))

        def with_phases():
            yield from gen
            span.attrs.update(catalyst_phases(self))

        return with_phases()

    dfcls.collect, dfcls.toLocalIterator = collect, to_local_iterator

    srv = flight_server.SparkFlightServer
    orig_stream = fl.GeneratorStream

    def generator_stream(schema, gen, *a, **kw):
        if not tracer.enabled:
            return orig_stream(schema, gen, *a, **kw)
        span = tracer.open("flight.stream", push=False)
        qid = span.qid

        def tagged():
            sc = spark.sparkContext
            sc.addJobTag(qid)
            try:
                yield from _timed_iter(tracer, span, iter(gen), lambda b: (
                    span.attrs.__setitem__("bytes", span.attrs.get("bytes", 0) + b.nbytes)))
            finally:
                sc.removeJobTag(qid)

        return orig_stream(schema, tagged(), *a, **kw)

    fl.GeneratorStream = generator_stream

    def root(method, name):
        @functools.wraps(method)
        def inner(self, context, *a):
            span = begin_op(tracer, spark, name, _header_qid(context) or name)
            try:
                return method(self, context, *a)
            finally:
                end_op(tracer, spark, span)

        return inner

    srv.do_get = root(srv.do_get, "flight.do_get")
    srv.do_put = root(srv.do_put, "flight.do_put")
    srv.do_exchange = root(srv.do_exchange, "flight.do_exchange")
    srv._append_table = _wrap(tracer, srv._append_table, "ingest.append",
                              lambda n: {"rows": n})


def wsgi_root(tracer: Tracer, spark, wsgi):
    """Root span for every HTTP request, cache hits included."""

    def app(environ, start_response):
        span = begin_op(tracer, spark, "http.request",
                        environ.get("HTTP_X_BENCH_OP", "http"))
        try:
            return wsgi(environ, start_response)
        finally:
            end_op(tracer, spark, span)

    return app


class _TimedLock:
    """The Flight server's ingest lock, with the wait to acquire it spanned."""

    def __init__(self, tracer: Tracer, lock):
        self._tracer = tracer
        self._inner = lock

    def __enter__(self):
        if not self._tracer.enabled:
            self._inner.acquire()
            return self
        span = self._tracer.open("ingest.lock_wait", push=False)
        self._inner.acquire()
        self._tracer.close(span)
        return self

    def __exit__(self, *exc):
        self._inner.release()
        return False


def time_lock(tracer: Tracer, flight) -> None:
    flight._lock = _TimedLock(tracer, flight._lock)


def enable(tracer: Tracer, spark, on: bool) -> None:
    """Switch span recording; JVM GC time accrues only while it is on."""
    if on and not tracer.enabled:
        tracer.gc_ms_at_enable = jvm_gc_ms(spark)
    elif not on and tracer.enabled:
        tracer.gc_ms += jvm_gc_ms(spark) - tracer.gc_ms_at_enable
    tracer.enabled = on


def jvm_gc_ms(spark) -> float:
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return float(sum(b.getCollectionTime() for b in mx.getGarbageCollectorMXBeans()))


# --- per-layer metrics ------------------------------------------------------

def _exec_stats(spark, qids: list[str]) -> dict[str, float]:
    jsc = spark.sparkContext._jsc.sc()
    tracker, store = jsc.statusTracker(), jsc.statusStore()
    jobs = stages = tasks = 0
    job_ms = cpu_ms = 0.0
    for qid in qids:
        for jid in tracker.getJobIdsForTag(qid):
            job = store.job(jid)
            jobs += 1
            if job.completionTime().isDefined() and job.submissionTime().isDefined():
                job_ms += job.completionTime().get().getTime() - job.submissionTime().get().getTime()
            ids = job.stageIds()
            for i in range(ids.size()):
                stage = store.lastStageAttempt(ids.apply(i))
                if stage.status().toString() == "SKIPPED":
                    continue
                stages += 1
                tasks += stage.numTasks()
                cpu_ms += stage.executorCpuTime() / 1e6
    return {"exec.jobs": jobs, "exec.stages": stages, "exec.tasks": tasks,
            "exec.job_ms": job_ms, "exec.task_cpu_ms": cpu_ms}


def _warehouse_files(run_dir: str) -> tuple[int, int]:
    files = size = 0
    for dirpath, _, names in os.walk(os.path.join(run_dir, "warehouse")):
        for n in names:
            if n.endswith(".parquet"):
                files += 1
                size += os.path.getsize(os.path.join(dirpath, n))
    return files, size


def layer_metrics(tracer: Tracer, spark, run_dir: str) -> dict[str, float]:
    """Per-operation means of the spans recorded while tracing was on."""
    spans = tracer.spans
    roots = [s for s in spans if s.parent is None and s.name in ROOTS]
    n_ops = max(1, len(roots))
    selft = self_times(spans)

    def total(name, fn=lambda s: s.duration()):
        return sum(fn(s) for s in spans if s.name == name)

    egress = [s for s in spans if s.name.startswith("egress.")]
    streams = [s for s in spans if s.name == "flight.stream"]
    stream_egress = sum(s.attrs.get("busy_s", 0.0) for s in egress
                        if s.name == "egress.toLocalIterator")
    phased = [s for s in spans if "analysis_ms" in s.attrs]
    c = tracer.counters
    files, size = _warehouse_files(run_dir)
    heap = spark.sparkContext._jvm.java.lang.management.ManagementFactory \
        .getMemoryMXBean().getHeapMemoryUsage().getUsed()
    out = {
        "trace.ops": len(roots),
        "dialect.sanitize_ms": 1e3 * total("dialect.sanitize_query") / n_ops,
        "dialect.transpile_ms": 1e3 * total("dialect.transpile") / n_ops,
        "dialect.statements": total("dialect.split_statements", lambda s: s.attrs.get("n", 0)) / n_ops,
        "cache.probes": c["cache.probes"],
        "cache.hits": c["cache.hits"],
        "cache.hit_ratio": c["cache.hits"] / c["cache.probes"] if c["cache.probes"] else 0.0,
        "cache.evictions": c["cache.evictions"],
        "namespaces.session_ms": 1e3 * total("namespaces.session") / n_ops,
        "namespaces.sessions_created": c["namespaces.sessions_created"],
        "catalyst.analysis_ms": sum(s.attrs["analysis_ms"] for s in phased) / n_ops,
        "catalyst.optimization_ms": sum(s.attrs["optimization_ms"] for s in phased) / n_ops,
        "catalyst.planning_ms": sum(s.attrs["planning_ms"] for s in phased) / n_ops,
        "egress.collect_ms": 1e3 * sum(s.attrs.get("busy_s", 0.0) for s in egress) / n_ops,
        "egress.first_row_ms": 1e3 * sum(s.attrs.get("first_s", 0.0) for s in egress) / max(1, len(egress)),
        "egress.rows": sum(s.attrs.get("rows", s.attrs.get("items", 0)) for s in egress) / n_ops,
        "formats.render_ms": 1e3 * sum(selft[s.sid] for s in spans if s.name == "formats.format_result") / n_ops,
        "formats.bytes_out": total("formats.format_result", lambda s: s.attrs.get("bytes", 0)) / n_ops,
        "flight.stream_ms": 1e3 * (sum(s.attrs.get("busy_s", 0.0) for s in streams) - stream_egress) / n_ops,
        "flight.batches": sum(s.attrs.get("items", 0) for s in streams) / n_ops,
        "flight.bytes_out": sum(s.attrs.get("bytes", 0) for s in streams) / n_ops,
        "ingest.append_ms": 1e3 * total("ingest.append") / n_ops,
        "ingest.lock_wait_ms": 1e3 * total("ingest.lock_wait") / n_ops,
        "ingest.commits": sum(1 for s in spans if s.name == "ingest.append"),
        "ingest.files_written": files,
        "ingest.bytes_written": size,
        "jvm.gc_ms": tracer.gc_ms,
        "jvm.heap_used_mb": heap / 2**20,
    }
    ex = _exec_stats(spark, sorted({s.qid for s in roots}))
    out.update({k: v / n_ops for k, v in ex.items()})
    return out
