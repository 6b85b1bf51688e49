"""Streaming dense-id allocator: the stream twin of
``operators.ordering.assign_contiguous_ids``, on the commit-last store
protocol of ``streaming/gate.py`` (data table ``ids``).

A continuously-ingested corpus needs stable, dense sample ids (loss
masking by position, resumable sampling, manifest addressing). Each
micro-batch gets the next contiguous id block [base, base + n), and
a replay of a batch must re-assign the SAME ids, or every downstream
artifact addressed by sample id silently shifts. The block base is
the sum of n_rows over committed meta rows (label, base, n_rows) with
a smaller label, so a crashed attempt's own slice never shifts its
own base; micro-batches are serialized by the checkpoint, so later
labels exist only after this one committed.

Within a batch, ids follow key order (deterministic at any
partitioning); duplicate keys within a batch collapse to one id.
Cross-batch key dedup is deliberately NOT this operator's job — the
near-dup/quality gates upstream decide what enters the id space; an
allocator that rescanned all prior ids per trigger would reread the
corpus.

Scale: per trigger this reads ONE tiny meta table (a row per batch),
numbers the batch with the partitioned-window device (no single-task
stage), and writes one label slice. Nothing reprocesses history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from firefox_public_data_report_etl_spark.operators.ordering import (
    assign_contiguous_ids,
)
from firefox_public_data_report_etl_spark.streaming.gate import (
    commit_batch,
    read_committed,
    read_marker,
    start_stream,
)

META_SCHEMA = "bl long, base long, n_rows long"


def _committed_base(spark: SparkSession, store: str, label: int) -> int:
    rows = (
        read_marker(spark, store, "meta", META_SCHEMA)
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
    key-ordered, replay-identical."""
    label = batch_id + 1
    base = _committed_base(spark, store, label)
    keyed = batch.select(key_col).dropDuplicates([key_col])
    ids = assign_contiguous_ids(
        keyed, [key_col], id_name="sample_id", num_partitions=num_partitions
    ).select(
        key_col,
        (F.col("sample_id") + F.lit(base)).alias("sample_id"),
    )
    meta_row = spark.createDataFrame([(label, base, ids.count())], META_SCHEMA)
    commit_batch(store, label, ids, meta_row, data_dir="ids")


def read_assigned_ids(spark: SparkSession, store: str) -> DataFrame:
    """All committed (key, sample_id) rows."""
    return read_committed(spark, store, "meta", META_SCHEMA, data_dir="ids")


def stream_alloc_ids(
    stream: DataFrame,
    store: str,
    checkpoint: str,
    key_col: str = "doc_id",
):
    """Run the allocator on every micro-batch of ``stream``."""
    return start_stream(
        stream,
        checkpoint,
        lambda spark, b, bid: alloc_ids_batch(spark, b, store, bid, key_col),
    )
