"""SparkSession factory tuned for the engine.

Local testing runs on ``local[32]``; the configs below are chosen so the
same code scales to a multi-executor cluster:

- AQE on (runtime partition coalescing, skew-join splitting) — replaces
  data.table's thread throttling (reference: src/openmp-utils.c:63-72).
- shuffle.partitions sized for the test scale; on a real cluster this is
  overridden (AQE coalesces anyway).
- Arrow enabled for any pandas-UDF path (the slow-path escape hatch).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.shuffle.partitions": "32",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.ui.enabled": "false",
    # stage-progress bars interleave with bench/driver stderr capture
    # (the BENCH_r09/r10 "tail clips mid-stream" nit) and add nothing in
    # headless runs
    "spark.ui.showConsoleProgress": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    # the oracle differential collect-compares full result frames; at
    # sf10 sweep scale row-level outputs exceed the 1g default cap
    # (funion_all hit it) — raise it for local tooling, a cluster
    # deployment overrides
    "spark.driver.maxResultSize": "8g",
    # small-dim broadcast threshold: region/nation/customer/supplier/part
    # are broadcastable at any realistic SF; lineitem/orders never are.
    "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
    # events.ts is INT64 TIMESTAMP(MICROS, isAdjustedToUTC=false) in the
    # testdata and benchmark layouts (see the layout note in core), read
    # as TIMESTAMP_NTZ. This conf only matters for a TIMESTAMP(NANOS)
    # file: Spark 4.1 refuses one without it and reads int64 nanos with
    # it. core.derive_event_time handles both readings.
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    # bucketed saveAsTable output (setkey-durable tables) lands in-repo
    "spark.sql.warehouse.dir": "/root/repo/.tmp/warehouse",
}


def get_spark(app_name: str = "data-table-spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = SparkSession.builder.appName(app_name).master(f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    conf.update({k: str(v) for k, v in overrides.items()})
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
