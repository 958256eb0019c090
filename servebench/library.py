"""The in-process caller of the ``operator_library`` workload.

Runs inside the launcher's server process, on its SparkSession. Each key of
``__spark_entry__.queries()`` is executed through the noop sink, never
``.count()``: Catalyst prunes the projection under a count, so a count times
a different (smaller) plan than the one that produces the result.
"""

from __future__ import annotations

import os
import time


def _dir_bytes(path: str) -> int:
    total = 0
    for dirpath, _, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(dirpath, f))
            except OSError:  # a Spark temp file removed while walking
                pass
    return total


def run(spark, fixtures: str, msg: dict, tracer, scratch: list[str]) -> dict:
    """One phase of the library workload.

    ``phase == "check"``: run every key once through ``toPandas`` and return
    its canonical rows, for run.py to compare against ``oracle_sql()``.
    ``phase == "timed"``: run whole passes over the keys through the noop
    sink, as many as fit in ``seconds`` and at least one; return per-key
    latencies and the operator counters sampled after each key
    (``scratch``: the directories whose bytes count as operator scratch)."""
    import __spark_entry__
    from quackflight_spark.operators import graph

    import tracing
    from workloads import canonical_rows

    queries = __spark_entry__.queries()
    keys = msg["keys"]
    if msg["phase"] == "check":
        out = {}
        for key in keys:
            try:
                out[key] = {"rows": canonical_rows(queries[key](spark, fixtures).toPandas())}
            except Exception as ex:  # reported as a failed operation, never hidden
                out[key] = {"error": f"{type(ex).__name__}: {ex}"[:500]}
        return {"check": out}

    jsc = spark.sparkContext._jsc.sc()
    ops = []
    deadline = time.perf_counter() + msg["seconds"]
    n = 0
    while True:
        t_pass = time.perf_counter()
        for key in keys:
            graph.ROUND_TRACE.clear()
            op_id = f"lib-{msg.get('tag', 't')}-{n}"
            n += 1
            span = tracing.begin_op(tracer, spark, "library.key", op_id)
            t0 = time.perf_counter()
            error = None
            try:
                df = queries[key](spark, fixtures)
                df.write.format("noop").mode("overwrite").save()
            except Exception as ex:  # counted as failed by run.py
                df, error = None, f"{type(ex).__name__}: {ex}"[:500]
            t1 = time.perf_counter()
            tracing.end_op(tracer, spark, span, df)
            storage = sum(r.memSize() + r.diskSize() for r in jsc.getRDDStorageInfo())
            ops.append({
                "key": key,
                "latency_s": t1 - t0,
                "error": error,
                "rounds": sum(graph.ROUND_TRACE.values()),
                "scratch_bytes": sum(_dir_bytes(p) for p in scratch),
                "block_store_mb": storage / 2**20,
            })
        # another pass only if it is expected to end by the deadline, so a
        # pass time near ``seconds`` does not flip between one and two passes
        now = time.perf_counter()
        if now + (now - t_pass) > deadline:
            return {"ops": ops}
