"""Streaming incremental distinct-count sketches: ``foreachBatch``
HLL partial-union into a per-week sketch table.

The streaming-MAU problem at 100 TB: exact distinct over a stream
needs unbounded per-user state, and re-counting each week's users
from raw history per trigger re-reads the corpus. A Datasketches HLL
sketch is fixed-size per key and unions ASSOCIATIVELY, so each
micro-batch aggregates only its OWN rows into partial sketches and
one `hll_union_agg` folds them into the running per-week blob — state
is #weeks x ~2^lgK bytes regardless of stream length, late events
just union in, and the stored table re-aggregates to any coarser
grain without touching raw data (`plans/activity.approx_users_sketch`
is the batch twin; reference has no streaming surface — engine
extension per SURVEY.md §2.9).

The sink reuses the upsert module's crash-safe staging-then-swap
rename protocol, so checkpoint replay of a half-written target is
safe: re-unioning an already-applied batch IS observable (HLL union
is idempotent only for identical register states, which replay
preserves — the same batch unions to the same registers), so replay
converges to the same table.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from firefox_public_data_report_etl_spark.functions import week_start
from firefox_public_data_report_etl_spark.sources.tables import fs_exists
from firefox_public_data_report_etl_spark.streaming.gate import start_stream
from firefox_public_data_report_etl_spark.streaming.upsert import (
    recover_swap,
    swap_write,
)

DEFAULT_LGK = 14


def sketch_batch(
    spark: SparkSession,
    batch: DataFrame,
    target_path: str,
    lgk: int = DEFAULT_LGK,
) -> None:
    """Union one micro-batch's partial per-week sketches into the
    target sketch table. One shuffle over the BATCH only (never the
    history); the read-modify-write touches #weeks rows."""
    recover_swap(spark, target_path)
    partial = batch.select(
        week_start(F.col("ts")).alias("week"), "user_id"
    ).groupBy("week").agg(
        F.hll_sketch_agg("user_id", F.lit(lgk)).alias("sk")
    )
    if fs_exists(spark, target_path):
        current = spark.read.parquet(target_path)
        merged = (
            current.unionByName(partial)
            .groupBy("week")
            .agg(F.hll_union_agg("sk").alias("sk"))
        )
    else:
        merged = partial
    swap_write(merged, target_path)


def stream_sketch_union(
    source: DataFrame,
    target_path: str,
    checkpoint: str,
    lgk: int = DEFAULT_LGK,
):
    """Wires an events stream into the sketch-union sink; returns the
    started query (availableNow-compatible)."""
    return start_stream(
        source,
        checkpoint,
        lambda spark, b, _bid: sketch_batch(spark, b, target_path, lgk),
    )


def weekly_estimates(spark: SparkSession, target_path: str) -> DataFrame:
    """(week, approx_users) read off the sketch table — no raw data."""
    return (
        spark.read.parquet(target_path)
        .select(
            "week",
            F.hll_sketch_estimate("sk").alias("approx_users"),
        )
    )
