"""Streaming incremental upsert sink: ``foreachBatch`` + row-level
MERGE.

The lambda-architecture collapse for mutable state: a stream of
document revisions lands in a parquet "table" where each key's latest
revision wins — the streaming twin of ``operators.merge.merge_rows``.
``foreachBatch`` is the Structured Streaming escape hatch for sinks
Spark doesn't ship (MERGE targets among them): each micro-batch is a
plain DataFrame, so the SAME batch merge operator runs per batch, and
checkpointing makes the whole pipeline restartable.

Scale notes: per batch this reads the current target, merges, and
rewrites — correct and idempotent, but a full rewrite per batch. At
100 TB the target write goes through ``write_partitioned`` on a
date/bucket column (only partitions containing touched keys rewrite)
or a MERGE-native table format; the operator and the foreachBatch
wiring are unchanged — only the sink write strategy swaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from firefox_public_data_report_etl_spark.operators.merge import merge_rows
from firefox_public_data_report_etl_spark.sources import tables
from firefox_public_data_report_etl_spark.streaming.gate import start_stream


def recover_swap(spark: SparkSession, target_path: str) -> None:
    """The shared swap's recovery preamble (sources/tables.py) on this
    sink's ``._staging`` / ``._old`` siblings: checkpoint replay never
    merges against a half-written target."""
    tables.recover_swap(
        spark, target_path, f"{target_path}._staging", f"{target_path}._old"
    )


def upsert_batch(
    spark: SparkSession,
    batch: DataFrame,
    target_path: str,
    keys: list[str],
    order_col: str | None = None,
) -> None:
    """One micro-batch MERGE into the parquet target.

    With ``order_col``, each key's LATEST revision wins globally: the
    winner is picked over union(target, batch) ordered by order_col
    (tie → the incoming batch row), so an out-of-order older revision
    arriving in a later micro-batch can NOT overwrite a newer row
    already in the target. Without ``order_col`` the contract is
    last-write-wins: the batch row replaces the target row
    (within-batch duplicates collapse arbitrarily-but-deterministically
    first, since MERGE requires unique source keys).

    The target rewrite is the crash-safe staging swap
    (``swap_write``), and ``recover_swap`` heals an interrupted swap
    on the next batch. On an object store without atomic rename, swap
    the sink for a manifest-pointer flip or a MERGE-native table
    format; the merge logic is unchanged.
    """
    recover_swap(spark, target_path)
    if order_col is not None:
        w = Window.partitionBy(*keys).orderBy(F.desc(order_col))
        batch = (
            batch.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .drop("_rn")
        )
    else:
        batch = batch.dropDuplicates(keys)
    if tables.fs_exists(spark, target_path):
        target = spark.read.parquet(target_path)
        if order_col is not None:
            # Latest-wins ACROSS batches: rank over union(target, batch)
            # by order_col desc; _src breaks exact-timestamp ties toward
            # the incoming row (same one-shuffle shape as merge_rows).
            tagged = target.withColumn("_src", F.lit(0)).unionByName(
                batch.withColumn("_src", F.lit(1))
            )
            w = Window.partitionBy(*keys).orderBy(
                F.desc(order_col), F.desc("_src")
            )
            merged = (
                tagged.withColumn("_rn", F.row_number().over(w))
                .filter(F.col("_rn") == 1)
                .drop("_src", "_rn")
            )
        else:
            merged = merge_rows(target, batch, keys)
    else:
        merged = batch
    swap_write(merged, target_path)


def swap_write(df: DataFrame, target_path: str) -> None:
    """Staging-then-swap parquet rewrite of a read-modify-write target
    (the plan may read the files it replaces) — the shared swap
    (sources/tables.py) on this sink's sibling names. Shared by every
    foreachBatch sink in this package that rewrites such a target."""
    tables.swap_write(
        df.sparkSession, df.write.mode("overwrite"), target_path,
        f"{target_path}._staging", f"{target_path}._old",
    )


def stream_upsert(
    source: DataFrame,
    target_path: str,
    checkpoint: str,
    keys: list[str],
    order_col: str | None = None,
):
    """Wires a streaming source into the upsert sink; returns the
    started query (availableNow-compatible; call awaitTermination)."""
    return start_stream(
        source,
        checkpoint,
        lambda spark, b, _bid: upsert_batch(
            spark, b, target_path, keys, order_col
        ),
    )
