"""SparkSession factory tuned for OLAP at scale.

The reference embeds DuckDB and gets vectorized execution, pushdown and
parallelism for free inside one process (reference main.py:231 delegation
point). Our equivalent is Catalyst + Tungsten with the knobs below; on a
real cluster only the master/memory settings change — the SQL surface and
every operator in this package stay identical.

Scale notes (local[<host cores>] here, 1000-executor target):
- AQE on: runtime coalescing, skew-join splitting, dynamic join selection.
- shuffle.partitions: ~cores locally; at cluster scale AQE coalesces from
  a high initial number, so correctness never depends on this value.
- Arrow enabled for any pandas/Arrow interchange (serving layer, pandas
  UDF paths).
- UTC session timezone so timestamp semantics match the UTC-naive oracle.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

# Sized to the host this process runs on: the cores it may use, and a
# quarter of physical RAM for the heap. SPARK_GRAFT_CPUS and
# SPARK_GRAFT_DRIVER_MEM override them.
CPUS = os.environ.get("SPARK_GRAFT_CPUS") or str(len(os.sched_getaffinity(0)))
_RAM_MB = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20

_DEFAULTS: dict[str, str] = {
    # local mode = one JVM: driver memory is the only heap knob that
    # matters (default 1g OOMs under many concurrent tasks). On a cluster
    # this becomes executor.memory sizing instead.
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM") or f"{max(1024, _RAM_MB // 4)}m",
    "spark.sql.shuffle.partitions": CPUS,
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.cbo.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # ANSI off: the reference engine (DuckDB) is permissive on overflow and
    # casts; we match the delegated behavior, not ANSI errors.
    "spark.sql.ansi.enabled": "false",
    # Broadcast threshold: dims (region/nation/customer/supplier/part at
    # test SFs) should broadcast. At 100 TB the fact side never broadcasts;
    # 64 MB is a safe ceiling for true dimension tables.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    "spark.sql.ui.explainMode": "formatted",
    "spark.ui.enabled": "false",
    # events.parquet ts is parquet TIMESTAMP(NANOS): Spark 4.1 reads it
    # natively as TIMESTAMP_NTZ (µs-truncated). fixtures.events_ts_normalized
    # guards the dtype for older readers that surface LongType ns.
}


def get_spark(app_name: str = "quackflight_spark", master: str | None = None,
              extra_conf: dict[str, str] | None = None) -> SparkSession:
    """Build (or reuse) the engine session.

    master defaults to local[CPUS]; on a cluster pass e.g.
    "yarn" / "k8s://..." — no other code changes.
    """
    builder = SparkSession.builder.appName(app_name).master(master or f"local[{CPUS}]")
    conf = dict(_DEFAULTS)
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # ClickHouse-compat scalar functions are part of the engine surface
    # (reference loads the chsql extension at startup, main.py:83-86).
    from quackflight_spark.functions.chsql import register_chsql_functions

    register_chsql_functions(spark)
    return spark
