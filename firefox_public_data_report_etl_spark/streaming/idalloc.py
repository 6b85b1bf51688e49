"""Streaming dense-id allocator: the stream twin of
``operators.ordering.assign_contiguous_ids``.

A continuously-ingested corpus needs stable, dense sample ids (loss
masking by position, resumable sampling, manifest addressing). A
batch job numbers the whole corpus at once; the stream allocates each
micro-batch the next contiguous id block — and REPLAY of a batch must
re-assign the SAME ids, or every downstream artifact addressed by
sample id silently shifts.

Exactly-once by the same label protocol as the ingestion gates
(streaming/neardup.py, embedgate.py, mediagate.py — the 5th surface
bound to this one contract):

- ids for a batch land under the batch's own ``bl=<label>`` partition
  via scoped dynamic overwrite — replay fully REPLACES the slice with
  identical rows;
- the block base is the sum of COMMITTED meta rows with label <
  this label — the crashed attempt's own half-written slice can never
  shift its own base, and micro-batches are serialized by the
  checkpoint, so later labels exist only after this one committed;
- meta (label, base, n_rows) is written LAST, and replay rewrites it
  with identical content (base is a pure function of earlier meta,
  n_rows of the batch) — there is no commit-window state a crash can
  corrupt, only a missing meta row the replay re-derives.

Within a batch, ids follow key order (deterministic at any
partitioning); duplicate keys within a batch collapse to one id.
Cross-batch key dedup is deliberately NOT this operator's job — the
near-dup/quality gates upstream decide what enters the id space; an
allocator that rescanned all prior ids per trigger would reread the
corpus (the exact anti-pattern the banded gates exist to avoid).

Scale: per trigger this reads ONE tiny meta table (a row per batch),
numbers the batch with the partitioned-window device (no single-task
stage), and writes one label slice. Nothing reprocesses history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from firefox_public_data_report_etl_spark.operators.ordering import (
    assign_contiguous_ids,
)
from firefox_public_data_report_etl_spark.sources.tables import (
    fs_exists,
    partition_overwrite_mode,
)

META_SCHEMA = "bl long, base long, n_rows long"


def _committed_base(spark: SparkSession, store: str, label: int) -> int:
    meta = f"{store}/meta"
    if not fs_exists(spark, meta):
        return 0
    rows = (
        spark.read.schema(META_SCHEMA)
        .parquet(meta)
        .filter(F.col("bl") < label)
        .agg(F.sum("n_rows").alias("n"))
        .collect()
    )
    return int(rows[0]["n"] or 0)


def alloc_ids_batch(
    spark: SparkSession,
    batch: DataFrame,
    store: str,
    batch_id: int,
    key_col: str = "doc_id",
    num_partitions: int = 32,
) -> None:
    """Assign this micro-batch the id block [base, base + n): dense,
    key-ordered, replay-identical. ``batch_id`` is the streaming epoch
    id; the label is ``batch_id + 1`` (0 reserved, matching the index
    gates' convention)."""
    label = batch_id + 1
    base = _committed_base(spark, store, label)
    keyed = batch.select(key_col).dropDuplicates([key_col])
    ids = assign_contiguous_ids(
        keyed, [key_col], id_name="sample_id", num_partitions=num_partitions
    ).select(
        key_col,
        (F.col("sample_id") + F.lit(base)).alias("sample_id"),
        F.lit(label).cast("long").alias("bl"),
    )
    n = ids.count()
    with partition_overwrite_mode(spark, "dynamic"):
        ids.write.partitionBy("bl").mode("overwrite").parquet(
            f"{store}/ids"
        )
    meta_row = spark.createDataFrame(
        [(label, base, n)], META_SCHEMA
    )
    with partition_overwrite_mode(spark, "dynamic"):
        meta_row.write.partitionBy("bl").mode("overwrite").parquet(
            f"{store}/meta"
        )


def read_assigned_ids(spark: SparkSession, store: str) -> DataFrame:
    """All committed (key, sample_id) rows: label slices whose meta
    row exists — a half-written crash slice without its meta is
    invisible until replay rewrites it."""
    ids = spark.read.parquet(f"{store}/ids")
    meta = spark.read.schema(META_SCHEMA).parquet(f"{store}/meta")
    return ids.join(meta.select("bl"), "bl", "left_semi").drop("bl")


def stream_alloc_ids(
    stream: DataFrame,
    store: str,
    checkpoint: str,
    key_col: str = "doc_id",
):
    """writeStream wiring: foreachBatch dense-id allocation.
    ``availableNow`` so backfills drain and stop."""
    return (
        stream.writeStream.foreachBatch(
            lambda b, bid: alloc_ids_batch(
                b.sparkSession, b, store, bid, key_col
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
