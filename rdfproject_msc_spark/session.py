"""SparkSession factory tuned for this engine.

Local-mode testing runs on local[N] (single JVM); the configs below are
chosen so the same code scales on a multi-executor cluster:

- AQE on (runtime re-plan, skew-join splitting, partition coalescing) —
  replaces the reference's hand-pinned ``spark.default.parallelism=1``
  (PartitionQueryingSubject.java:56,76) with adaptive parallelism.
- shuffle.partitions sized to cores locally; on a real cluster this is
  overridden (AQE coalescing makes the initial number less critical).
- UTC session timezone so results hash-match the DuckDB oracle.
- Arrow enabled for the Pandas-UDF slow path (similarity/multimodal ops).
- PySpark's DataFrame call-site capture off
  (``spark.python.sql.dataFrameDebugging.enabled``). With it on, every
  PySpark API call goes through ``pyspark.errors.utils._with_origin``:
  about five py4j round trips plus a Python stack walk, so that an
  error can name the Python line that built the failing expression.
  The SPARQL planner makes 22-134 such calls per query; for the
  benchmark's numeric top-k query they were 43% of plan-build time. The call site the
  capture would name is a line inside the planner, not the caller's
  code, so errors lose nothing a user could act on. Spark documents
  the capture as having non-trivial overhead. PySpark reads the
  setting once per process, at its first DataFrame API call.
- Bounded collects read one wave of cores
  (``spark.sql.limit.initialNumPartitions`` = the session's cores). A
  ``limit(n).collect()``, ``take``, ``first`` or ``isEmpty`` starts by
  scanning that many partitions; Spark's default of one runs a second
  job whenever the first partition holds fewer than ``n`` rows. The
  engine's capped collects (the endpoint's result cap, the whole
  dictionary collect, the update folds and the ingest's term collect)
  are sized to answer in one job, and on a relation of at most
  ``cores`` partitions they now do. The cost at scale: such an action
  launches up to ``cores`` tasks in its first wave where one would
  have served, each stopping once it has ``n`` rows, so a ``first``
  over a large relation may read ``cores`` splits instead of one.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "rdfproject_msc_spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the tuned SparkSession."""
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 8)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.python.sql.dataFrameDebugging.enabled", "false")
        .config("spark.sql.limit.initialNumPartitions", str(cpus))
        # NOTE: nanos-timestamp handling (events.parquet) lives in
        # sources.tables.load_table, which must work on ANY session —
        # including externally-built ones — so it is not configured here.
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
