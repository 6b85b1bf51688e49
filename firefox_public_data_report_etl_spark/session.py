"""SparkSession factory.

Every session the engine creates is configured for correctness parity
with the DuckDB oracle (UTC session time zone, nanos-as-long parquet
reads) and for scale (AQE with skew-join handling, dynamic partition
overwrite, arrow-batched Python interop).

Scale notes (local[32] here, 1000-executor cluster in production):
  - ``spark.sql.shuffle.partitions`` defaults to 2x local cores; on a
    real cluster leave it to AQE coalescing (initial 2000+) or set via
    ``SPARK_GRAFT_SHUFFLE_PARTITIONS``.
  - AQE handles skew joins and post-shuffle coalescing at runtime, so
    plans written here survive 100x data growth without re-tuning.

Generated code is compiled once per plan shape per session.  Spark's
``CodeGenerator`` caches compiled classes keyed by their generated
source, and two defaults make that cache miss on every pass of a job
that runs again in the same session (the CLI's three jobs, a benchmark
pass, a registry sweep):
  - ``spark.sql.codegen.useIdInClassName=false``: whole-stage codegen
    writes its stage id into the class name, and under AQE that id
    follows the order in which stages are planned, which changes from
    run to run when independent branches finish in a different order;
    the same plan then yields a different source text and a recompile.
  - ``spark.sql.codegen.cache.maxEntries=1000``: the default of 100 is
    below the working set of one pass of the report jobs (~100 distinct
    classes) or of the headline queries (~170), so the LRU evicts what
    the next pass needs.  A class is ~3 KB of bytecode.
The cache holds compiled code only, no data and no result.  The cache
size is a static SQL conf: it applies only when this function starts
the session (a session that already exists keeps the size it was
started with).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def get_spark(
    app_name: str = "fpdr-spark-engine",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    master = master or os.environ.get("SPARK_GRAFT_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        shuffle_partitions = int(
            os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", str(max(cpus, 8)))
        )
    driver_mem = os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g")
    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local-mode executor == driver JVM; the 1g default forces GC
        # churn (and run-to-run variance) with 32 concurrent tasks.
        # Only effective before JVM launch — harmless getOrCreate
        # no-op afterwards.
        .config("spark.driver.memory", driver_mem)
        # Correctness parity with the DuckDB oracle: naive timestamps.
        .config("spark.sql.session.timeZone", "UTC")
        # Testdata parquet stores TIMESTAMP(NANOS); read as long, the
        # loaders convert to micros (lossless for this data).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Scale: adaptive execution re-plans shuffles at runtime.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Let AQE re-plan INSIDE cached plans too: off (the default)
        # a .cache() pins its shuffle at the static partition count, so
        # every consumer of a multi-use cached intermediate (the
        # flagship's 5-consumer weekly frame) launches full-width task
        # waves over mostly-empty partitions. Sole trade-off is cache
        # reuse across plans with different partitioning needs - not a
        # pattern this engine uses (caches are single-query scoped).
        .config(
            "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning",
            "true",
        )
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # Idempotent per-partition overwrite (reference S5 semantics:
        # hardware_report.py:458-465 WRITE_TRUNCATE to table$YYYYMMDD).
        .config("spark.sql.sources.partitionOverwriteMode", "dynamic")
        # Arrow for any pandas-UDF edge (multimodal operators).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        # Compile each plan shape once per session (module docstring):
        # a class name without the stage id, and a cache several times
        # the largest measured working set (~170 classes).
        .config("spark.sql.codegen.useIdInClassName", "false")
        .config("spark.sql.codegen.cache.maxEntries", "1000")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        spark.sparkContext.setLogLevel("ERROR")
    except Exception:
        pass  # Spark Connect: no sparkContext; log level is server-side
    return spark
