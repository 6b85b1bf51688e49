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

The driver JVM compiles with C1 only (``-XX:TieredStopAtLevel=1``)
unless the caller passes ``extra_conf=TIERED_C2``.  Under HotSpot's
default tiered policy, C2 was still compiling Catalyst, Scala, JDK and
generated classes when each pass ended: on the ``report_jobs``
benchmark (one session, two measured passes), ``CompilationMXBean``
counted 13.6 s and 9.7 s of JIT compile time against 20.4 s and 15.2 s
of process CPU, and 1.5 s and 1.0 s with C1 alone.  C1 code runs tasks
about 1.7x slower than warmed C2 code, so the flag pays where
compiling outweighs executing.  Measured on a shared 4-vCPU host:
  - the benchmark's ``report_jobs`` and ``curation`` passes (2 task
    threads): CPU per pass 18.2 -> 11.0 s and 17.8 -> 11.9 s, medians
    of 10 alternating pairs;
  - one CLI job per process at the default ``local[32]``, on the
    benchmark's inputs (123k client-days, 32k hardware rows) and on
    10x and 40x those: 15-45% less CPU in every case; wall time 0-6%
    lower except ``user_activity`` at 10x, 17% higher (31% with 2 task
    threads), medians of 3;
  - a long-lived session of warmed queries over sf0.1 data: every
    headline query of ``bench.py`` 1.2-3.4x as long.
So ``bench.py`` and the scaling, index and recall tools, whose
sessions run warmed queries over sf0.1 data or larger, start with
``TIERED_C2``; a deployment that runs large jobs in local mode can do
the same with ``-XX:TieredStopAtLevel=4`` in ``spark-defaults.conf``.
The flag reaches the driver JVM only: on a cluster the executors keep
tiered C2 and run the tasks.  Like the cache size, it applies only
when this function launches the JVM.

Both launch-time settings below are extended, not replaced, by what
``spark-defaults.conf`` and then the caller's ``extra_conf`` set (a
builder setting alone would replace the defaults file's value):
  - ``spark.driver.defaultJavaOptions`` starts with the C1 flag, so a
    flag repeated after it wins.  Spark puts the default options
    before a caller's ``spark.driver.extraJavaOptions``; both reach
    the JVM.
  - ``spark.executorEnv.PYTHONPATH`` starts with the package's parent
    directory and the caller's ``PYTHONPATH``, so Python workers
    import the package when the driver put it on ``sys.path`` itself.
"""

from __future__ import annotations

import os
import re

from pyspark.sql import SparkSession

_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

#: ``extra_conf`` for a session that runs warmed queries over sf0.1 data
#: or larger (``bench.py``, the scaling, index and recall tools): HotSpot's
#: default tiered policy, C2 included (module docstring).
TIERED_C2 = {"spark.driver.defaultJavaOptions": "-XX:TieredStopAtLevel=4"}


def _spark_defaults() -> dict[str, str]:
    """The properties ``spark-submit`` reads from ``spark-defaults.conf``
    (``$SPARK_CONF_DIR``, else ``$SPARK_HOME/conf``)."""
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    if not conf_dir:
        from pyspark.find_spark_home import _find_spark_home

        conf_dir = os.path.join(_find_spark_home(), "conf")
    props = {}
    try:
        with open(os.path.join(conf_dir, "spark-defaults.conf")) as f:
            for line in f:
                m = re.match(r"\s*([^\s=:#!][^\s=:]*)\s*[\s=:]\s*(.*)", line)
                if m:
                    props[m.group(1)] = m.group(2).strip()
    except OSError:
        pass
    return props


def _prepend(conf: dict[str, str], key: str, value: str, sep: str) -> None:
    """Sets ``conf[key]`` to ``value``, then the key's value in
    ``spark-defaults.conf``, then the caller's value in ``conf``
    (module docstring)."""
    parts = (value, _spark_defaults().get(key), conf.get(key))
    conf[key] = sep.join(v for v in parts if v)


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
    conf = dict(extra_conf or {})
    # C1 only in the driver JVM unless a later value sets another level
    # (TIERED_C2; module docstring): C2 spent more CPU compiling than a
    # short session gets back.  Default, not extra, Java options, so a
    # caller's extraJavaOptions still apply; launch-time only, like the
    # cache size.
    _prepend(conf, "spark.driver.defaultJavaOptions", "-XX:TieredStopAtLevel=1", " ")
    # Python workers find the package where the driver did.
    _prepend(
        conf,
        "spark.executorEnv.PYTHONPATH",
        os.pathsep.join(
            p for p in (_PACKAGE_PARENT, os.environ.get("PYTHONPATH")) if p
        ),
        os.pathsep,
    )
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    try:
        spark.sparkContext.setLogLevel("ERROR")
    except Exception:
        pass  # Spark Connect: no sparkContext; log level is server-side
    return spark
