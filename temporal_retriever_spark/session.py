"""SparkSession factory.

The reference runs eager pandas inside one uvicorn worker
(reference Dockerfile:20); our unit of execution is a SparkSession
configured for the engine's invariants:

* **UTC session timezone** — the reference parses timestamps as UTC and
  drops the tz (app.py:424-428, core.py:37); we standardize on
  parse-as-UTC / store-naive-UTC, which in Spark means
  ``spark.sql.session.timeZone=UTC``.
* **Arrow on** — every grouped pandas UDF (the Kalman and HMM fits,
  the numpy reference paths) crosses the JVM/Python boundary in Arrow
  batches.
* **AQE on** — runtime coalescing of shuffle partitions and skew-join
  splitting; at 100 TB skewed series/keys are the norm.
* **Codegen cache of 1000 classes** — Spark's default of 100 is smaller
  than one request's working set: measured with ``CodegenMetrics`` on
  a 4-core host, each in a fresh JVM, one ``/analyze`` of 10k hourly
  observations generates about 159 distinct classes, one
  ``/saturating-growth`` about 66 and one batch series chain about
  145. With the default every request recompiled all of
  them in Janino (and HotSpot re-JITted them), identical repeats
  included. The setting is static: it only applies when this factory
  starts the JVM.
* **No stage id in generated class names** — whole-stage code embeds
  its codegen stage id in the class name by default. Adaptive execution
  numbers stages in the order they are planned, which varies with task
  timing, so the same stage code under another id missed the cache:
  15-20 recompiles on a repeated request. Without the id the class
  source depends only on the plan shape.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

_DEFAULTS = {
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    "spark.sql.execution.arrow.maxRecordsPerBatch": "10000",
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    # At 100 TB this would be sized ~2-3x total cores; in local[32] tests a
    # small fixed count keeps shuffle overhead visible but bounded. AQE
    # coalesces down when partitions are tiny.
    "spark.sql.shuffle.partitions": "32",
    # driver testdata is written with nanosecond timestamps; read as long
    # and restore via sources.parquet.read_table
    "spark.sql.legacy.parquet.nanosAsLong": "true",
    "spark.sql.files.maxPartitionBytes": "128m",
    # Broadcast threshold: per-series frames and dimension tables are tiny
    # relative to fact tables; let Catalyst broadcast aggressively.
    "spark.sql.autoBroadcastJoinThreshold": "64m",
    # compile each generated plan class once per plan shape (docstring)
    "spark.sql.codegen.cache.maxEntries": "1000",
    "spark.sql.codegen.useIdInClassName": "false",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
}


def get_spark(app_name: str = "temporal-retriever-spark", **overrides: str) -> SparkSession:
    """Build (or fetch) the engine session.

    ``local[$SPARK_GRAFT_CPUS]`` in tests; on a real cluster the master is
    whatever spark-submit provides, so we only set it when no active
    session exists and no master is configured.
    """
    builder = SparkSession.builder.appName(app_name)
    master = os.environ.get("SPARK_GRAFT_MASTER")
    if master:
        builder = builder.master(master)
    elif not os.environ.get("SPARK_MASTER") and SparkSession.getActiveSession() is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        builder = builder.master(f"local[{cpus}]")
    conf = dict(_DEFAULTS)
    conf.update(overrides)
    for key, value in conf.items():
        builder = builder.config(key, value)
    return builder.getOrCreate()


def stop_spark() -> None:
    session = SparkSession.getActiveSession()
    if session is not None:
        session.stop()
