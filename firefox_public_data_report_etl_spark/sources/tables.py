"""Source / sink layer (reference operators S1-S12).

The reference submits parameterized SQL to BigQuery and loads JSON
blobs back (hardware_report.py:59-84, user_activity.py:28-45); here the
table universe is partitioned parquet and every "parameterized scan"
is a DataFrame with literal filters, which Catalyst pushes into the
parquet reader (PushedFilters / partition pruning — verified in tests
via .explain).

Scale notes: loaders never infer schemas beyond the parquet footer,
reads stay columnar/vectorized, and timestamp normalization is a pure
column expression (no Python in the row path).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Timestamp columns the loader normalizes. The testdata generator has
# shipped two physical forms over time:
#   - current: plain ``timestamp[us]`` (no timezone) — Spark reads it
#     as TIMESTAMP_NTZ; cast to TIMESTAMP (session TZ pinned UTC, so
#     the cast is value-preserving and matches DuckDB's naive read);
#   - legacy: TIMESTAMP(NANOS), read as LongType ns-since-epoch under
#     ``nanosAsLong`` and converted to micros (lossless at micro
#     precision).
# NTZ normalization is applied to EVERY timestamp_ntz column generically
# (not just these), so a regenerated table never reaches NTZ-strict APIs
# (unix_micros, withWatermark) unnormalized; this dict only scopes the
# legacy bigint conversion, where "is it a timestamp?" can't be read
# off the dtype.
TIMESTAMP_COLUMNS: dict[str, tuple[str, ...]] = {
    "orders": ("o_orderdate",),
    "lineitem": ("l_shipdate",),
    "events": ("ts",),
}


def _ns(date_str: str) -> int:
    """Nanoseconds since epoch for a naive-UTC 'YYYY-MM-DD[ HH:MM:SS]'."""
    from datetime import datetime, timezone

    dt = datetime.fromisoformat(date_str).replace(tzinfo=timezone.utc)
    return int(dt.timestamp()) * 1_000_000_000


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    prune: tuple[str, str | None, str | None] | None = None,
) -> DataFrame:
    """Scan operator (S1/S4): one parquet table, timestamps normalized.

    ``prune=(ts_col, lo, hi)`` applies a CONSERVATIVE [lo, hi) range
    filter on the RAW stored column (timestamp_ntz or legacy nanos
    long) BEFORE normalization, so it reaches the parquet scan as a
    row-group filter — the normalized column is a derived expression
    Catalyst won't reliably push through. Queries still apply their
    exact predicate on the normalized column; this is purely scan
    pruning — essential at 100 TB where the cast otherwise forces a
    full scan.
    """
    # Harness-proofing: callers may pass a session built WITHOUT our
    # factory (session.py). Both confs are runtime-settable and
    # idempotent; nanosAsLong keeps legacy TIMESTAMP(NANOS) parquet
    # readable (no-op on current timestamp[us] data), and without UTC
    # the NTZ->TIMESTAMP cast drifts from the DuckDB oracle's naive
    # read. Set-if-different (round-13 advisor note): load_table is
    # also called from driver THREAD POOLS (tokenizer_fertility_ab's
    # concurrent trainers), where unconditional session-global writes
    # from plain threads are a latent race if the values ever
    # diverge — the guard makes the steady state read-only.
    for _k, _v in (
        ("spark.sql.legacy.parquet.nanosAsLong", "true"),
        ("spark.sql.session.timeZone", "UTC"),
    ):
        try:
            _cur = spark.conf.get(_k, None)
        except Exception:  # Connect: some confs unreadable pre-set
            _cur = None
        if _cur != _v:
            spark.conf.set(_k, _v)
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    dtypes = dict(df.dtypes)
    if prune is not None:
        c, lo, hi = prune
        dt = dtypes.get(c)
        if dt == "bigint":  # legacy nanos form
            if lo is not None:
                df = df.filter(F.col(c) >= F.lit(_ns(lo)))
            if hi is not None:
                df = df.filter(F.col(c) < F.lit(_ns(hi)))
        elif dt in ("timestamp_ntz", "timestamp"):
            # Literal cast to the RAW column's type: the comparison is
            # same-typed, so it pushes into the scan (plan-asserted in
            # test_plan_quality).
            if lo is not None:
                df = df.filter(F.col(c) >= F.lit(lo).cast(dt))
            if hi is not None:
                df = df.filter(F.col(c) < F.lit(hi).cast(dt))
    return normalize_timestamps(df, name)


def normalize_timestamps(df: DataFrame, name: str | None = None) -> DataFrame:
    """Edge normalization (reference analog: fixed schemas at the BQ
    edge, hardware_report.py:59-84): every TIMESTAMP_NTZ column is cast
    to TIMESTAMP (session TZ is pinned UTC, so this is value-preserving
    and oracle-neutral), and legacy bigint-nanos columns listed in
    ``TIMESTAMP_COLUMNS[name]`` are converted to micros. Downstream
    code — unix_micros, withWatermark, window() — can then assume plain
    TIMESTAMP everywhere."""
    for c, dt in df.dtypes:
        if dt == "timestamp_ntz":
            df = df.withColumn(c, F.col(c).cast("timestamp"))
        elif dt == "bigint" and name and c in TIMESTAMP_COLUMNS.get(name, ()):
            # integer div, NOT / : float division of ~1e18 ns loses the
            # last microsecond to double rounding.
            df = df.withColumn(c, F.timestamp_micros(F.expr(f"`{c}` div 1000")))
    return df


def load_tables(spark: SparkSession, sf_dir: str, names=TABLES) -> dict[str, DataFrame]:
    return {n: load_table(spark, sf_dir, n) for n in names}


def date_spine(start_col, stop_col, step_days: int = 7):
    """Generated-sequence source (S12; reference annotations.py:35-45 uses
    ``UNNEST(GENERATE_DATE_ARRAY(...))``): returns an array column of
    dates to ``F.explode``. Runs JVM-side via ``sequence``."""
    return F.sequence(start_col, stop_col, F.expr(f"interval {step_days} days"))


from contextlib import contextmanager


@contextmanager
def partition_overwrite_mode(spark: SparkSession, mode: str):
    """Scope ``spark.sql.sources.partitionOverwriteMode`` to a write:
    save, set, and ALWAYS restore (unset if it was unset) — the one
    implementation of the conf-juggling idiom every labeled-store
    writer needs (review fix: five hand-copied try/finally blocks
    collapsed here; a leaked session-wide mode is order-dependent
    global state for whatever partitioned overwrite runs next)."""
    conf = spark.conf
    prev = conf.get("spark.sql.sources.partitionOverwriteMode", None)
    conf.set("spark.sql.sources.partitionOverwriteMode", mode)
    try:
        yield
    finally:
        if prev is None:
            conf.unset("spark.sql.sources.partitionOverwriteMode")
        else:
            conf.set("spark.sql.sources.partitionOverwriteMode", prev)


def _hadoop_path(spark: SparkSession, path: str):
    """(FileSystem, Path) for ``path`` on the JVM Hadoop FileSystem API
    — the same resolution Spark's own readers and writers use, so a
    plain path, a ``file:`` URI and an ``hdfs://`` URI all mean what
    they mean to ``spark.read``. A scheme with no FileSystem on the
    classpath raises here, before anything is written."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def fs_exists(spark: SparkSession, path: str) -> bool:
    fs, p = _hadoop_path(spark, path)
    return bool(fs.exists(p))


def fs_delete(spark: SparkSession, path: str) -> None:
    """Recursively delete ``path`` if it exists. Hadoop reports a
    failed delete as ``false``, not as an exception; a swallowed
    failure would leave a stale slice alive, so it raises. (``false``
    for a path that is already gone is not a failure.)"""
    fs, p = _hadoop_path(spark, path)
    if not fs.delete(p, True) and fs.exists(p):
        raise OSError(f"could not delete {path}")


def fs_rename(spark: SparkSession, src: str, dst: str) -> None:
    """Rename ``src`` to a ``dst`` that must not exist: Hadoop moves a
    source INTO an existing destination directory, which would nest
    one table inside another. A ``false`` return raises."""
    fs, s = _hadoop_path(spark, src)
    d = spark._jvm.org.apache.hadoop.fs.Path(dst)
    if fs.exists(d) or not fs.rename(s, d):
        raise OSError(f"could not rename {src} to {dst}")


def fs_write_text(spark: SparkSession, path: str, text: str) -> None:
    fs, p = _hadoop_path(spark, path)
    out = fs.create(p, True)
    try:
        out.write(text.encode("utf-8"))
    finally:
        out.close()


def fs_read_text(spark: SparkSession, path: str) -> str:
    fs, p = _hadoop_path(spark, path)
    inp = fs.open(p)
    try:
        data = spark._jvm.org.apache.hadoop.io.IOUtils.readFullyToByteArray(inp)
    finally:
        inp.close()
    return bytes(data).decode("utf-8")


def recover_swap(spark: SparkSession, path: str, stage: str, old: str) -> None:
    """Recovery preamble of ``swap_write``; run it before anything
    reads ``path``. The live table is missing only between the two
    renames, while ``old`` holds the complete previous copy: move it
    back. Then drop leftover siblings (a stage is never trusted — the
    crash may have cut its write short)."""
    if not fs_exists(spark, path) and fs_exists(spark, old):
        fs_rename(spark, old, path)
    fs_delete(spark, stage)
    fs_delete(spark, old)


def swap_write(spark: SparkSession, writer, path: str, stage: str, old: str) -> None:
    """Crash-safe table rewrite without a transaction log:
    ``writer`` (a DataFrameWriter, whose plan may read ``path``)
    writes the complete new table to ``stage``; the live table moves
    ASIDE to ``old`` (never deleted while it is the only copy); the
    stage moves in; only then is ``old`` deleted. ``recover_swap``
    heals a crash at any point. Rename atomicity is the
    FileSystem's: atomic on HDFS and POSIX, a copy on most object
    stores."""
    writer.parquet(stage)
    if fs_exists(spark, path):
        fs_rename(spark, path, old)
    fs_rename(spark, stage, path)
    fs_delete(spark, old)


def write_partitioned(
    df: DataFrame, path: str, partition_cols: list[str], mode: str = "overwrite"
) -> None:
    """Partitioned sink with idempotent per-partition overwrite (S5/S6;
    reference hardware_report.py:458-465 writes ``table$YYYYMMDD`` with
    WRITE_TRUNCATE). ``partitionOverwriteMode=dynamic`` is scoped to
    this write (harness-proof: works on sessions not built by our
    factory, and leaves the session's own mode as it found it), so
    ``mode="overwrite"`` replaces only touched partitions."""
    with partition_overwrite_mode(df.sparkSession, "dynamic"):
        df.write.mode(mode).partitionBy(*partition_cols).parquet(path)
