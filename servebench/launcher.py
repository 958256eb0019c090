"""Server process of the served-request benchmark.

Starts one SparkSession (``quackflight_spark.session.get_spark``), registers
the TPC-H fixtures as external parquet tables, and serves them over the
ClickHouse HTTP app (``serving.http_app``) and the Arrow Flight server
(``serving.flight_server``) on ephemeral localhost ports. ``run.py`` spawns
one of these per run and talks to it over stdin/stdout, one JSON object per
line:

    launcher -> READY {"http_port": .., "flight_port": .., "setup": {..}}
    run.py   -> {"cmd": "trace", "on": true}      launcher -> {"ok": true}
    run.py   -> {"cmd": "library", ...}           launcher -> {pass results}
    run.py   -> {"cmd": "layers"}                 launcher -> {per-layer metrics}
    run.py   -> {"cmd": "exit"}                   launcher -> {"ok": true}

With ``--trace 1`` the public entry points of the serving modules are wrapped
(see tracing.py) before the servers start; spans are recorded only while
tracing is switched on and are written to ``--trace-out`` at exit.

Usage (normally spawned by run.py):
    python3 servebench/launcher.py --run-dir DIR --fixtures DIR [--trace 1]
"""

from __future__ import annotations

import argparse
import json
import logging
import os
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import workloads  # noqa: E402


def _reply(obj: dict) -> None:
    sys.stdout.write(json.dumps(obj) + "\n")
    sys.stdout.flush()


def _isolate_staging(run_dir: str) -> str:
    """Point the package's per-process /tmp staging roots into the run dir.

    Operators such as graph_scc stage per-round parquet under
    ``staging.stage_root``; the roots are bound at module import, so this
    runs before any operator module is imported. The run dir is deleted
    after the run, which also removes what the program never cleans up."""
    from quackflight_spark import staging

    root = os.path.join(run_dir, "stage")
    os.makedirs(root, exist_ok=True)
    staging.stage_root = lambda name: os.path.join(root, f"qf_{name}")
    return root


def _start_servers(spark, tracer):
    from werkzeug.serving import make_server

    from quackflight_spark.serving.flight_server import SparkFlightServer
    from quackflight_spark.serving.http_app import create_app

    # One log line per request would be measured as server work; the
    # benchmark times the app, not the development server's access log.
    logging.getLogger("werkzeug").setLevel(logging.ERROR)
    app = create_app(spark)
    if tracer is not None:
        import tracing

        app.wsgi_app = tracing.wsgi_root(tracer, spark, app.wsgi_app)
    http = make_server("127.0.0.1", 0, app, threaded=True)
    threading.Thread(target=http.serve_forever, daemon=True).start()
    flight = SparkFlightServer(spark, "grpc://127.0.0.1:0")
    return http, flight


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--run-dir", required=True)
    ap.add_argument("--fixtures", required=True)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--trace-out", default="")
    args = ap.parse_args()

    scratch = [os.environ["SPARK_LOCAL_DIRS"], _isolate_staging(args.run_dir)]
    tracer = None
    if args.trace:
        import tracing

        tracer = tracing.Tracer()

    t0 = time.perf_counter()
    from quackflight_spark.session import get_spark

    spark = get_spark(
        app_name="servebench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(args.run_dir, "warehouse"),
            "spark.local.dir": os.environ["SPARK_LOCAL_DIRS"],
            "spark.driver.extraJavaOptions": f"-Dderby.system.home={args.run_dir}",
        },
    )
    t1 = time.perf_counter()
    # the tables served SQL reads; the operator library reads its parquet
    # files by path through sources.fixtures, not through the catalog
    for t in workloads.TPCH:
        path = os.path.join(args.fixtures, f"{t}.parquet")
        spark.sql(f"CREATE TABLE default.{t} USING parquet LOCATION '{path}'")
    t2 = time.perf_counter()
    spark.sql("SELECT count(*) FROM default.lineitem").collect()
    t3 = time.perf_counter()

    if tracer is not None:
        import tracing

        tracing.install(tracer, spark)
    http, flight = _start_servers(spark, tracer)
    if tracer is not None:
        tracing.time_lock(tracer, flight)

    conf = {k: v for k, v in spark.sparkContext.getConf().getAll()
            if k.startswith(("spark.driver.memory", "spark.master", "spark.sql.shuffle",
                             "spark.sql.adaptive.enabled", "spark.local.dir",
                             "spark.sql.warehouse.dir"))}
    _reply({
        "ready": True,
        "http_port": http.server_port,
        "flight_port": flight.port,
        "setup": {"session_s": t1 - t0, "fixtures_s": t2 - t1, "first_query_s": t3 - t2},
        "conf": conf,
    })

    import library

    for line in sys.stdin:
        msg = json.loads(line)
        cmd = msg["cmd"]
        if cmd == "trace":
            if tracer is not None:
                import tracing

                tracing.enable(tracer, spark, bool(msg["on"]))
            _reply({"ok": True})
        elif cmd == "library":
            _reply(library.run(spark, args.fixtures, msg, tracer, scratch))
        elif cmd == "layers":
            import tracing

            _reply(tracing.layer_metrics(tracer, spark, args.run_dir))
        elif cmd == "exit":
            break
    # run.py ends the process group after this reply; stopping Spark
    # gracefully would only add to every run's wall time.
    if tracer is not None and args.trace_out:
        tracer.dump(args.trace_out)
    _reply({"ok": True})
    http.shutdown()
    flight.shutdown()
    return 0


if __name__ == "__main__":
    sys.exit(main())
