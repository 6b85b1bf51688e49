"""Streaming near-dup ingestion gate (text): one of the index gates of
``streaming/gate.py``.

Every micro-batch of incoming documents is deduplicated against
EVERYTHING accepted so far via the persisted MinHash signature index
(operators/incremental.py): index matches at Jaccard >= the threshold
plus within-batch LSH pairs at the same cut go through the shared
decision tail, and the kept docs' signatures are appended to the
index, so the next batch dedups against base ∪ all previously kept
content.

Scale: per trigger, cost is the measured probe shape — batch-sized
signature compute, partition-pruned band/gram reads, pair-sized
verify + CC — never a rescan of accepted history. State lives in
parquet, not the state store, so it survives checkpoint loss and is
queryable mid-stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from firefox_public_data_report_etl_spark.operators.dedup import (
    gram_hash_arrays,
    minhash_lsh_pairs_arr,
)
from firefox_public_data_report_etl_spark.operators.incremental import (
    append_to_minhash_index,
    probe_minhash_index,
)
from firefox_public_data_report_etl_spark.streaming.gate import (
    decide_and_append,
    start_stream,
)

NEARDUP_THRESHOLD = 0.5


def neardup_gate_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    index_path: str,
    decisions_path: str,
    batch_id: int,
    threshold: float = NEARDUP_THRESHOLD,
) -> None:
    """One micro-batch: probe the index with this label excluded,
    pair within the batch, then the shared decision tail."""
    label = batch_id + 1
    batch_hs = gram_hash_arrays(batch_docs).cache()
    probe = probe_minhash_index(
        spark, index_path, batch_hs, exclude_label=label
    )
    cross = probe.filter(F.col("jaccard") >= threshold)
    within = minhash_lsh_pairs_arr(batch_hs).filter(
        F.col("jaccard") >= threshold
    )
    decide_and_append(
        batch_docs,
        cross,
        within,
        "doc_id",
        label,
        decisions_path,
        lambda kept: append_to_minhash_index(
            spark, index_path, batch_hs.join(kept, "doc_id"), label
        ),
        # the probe's cached candidate set is caller-owned (probe
        # docstring)
        [batch_hs.unpersist]
        + [c.unpersist for c in getattr(probe, "_probe_persisted", [])],
    )


def stream_neardup_gate(
    docs_stream: DataFrame,
    index_path: str,
    decisions_path: str,
    checkpoint: str,
    threshold: float = NEARDUP_THRESHOLD,
):
    """Run the gate on every micro-batch of ``docs_stream`` (columns
    doc_id, text)."""
    return start_stream(
        docs_stream,
        checkpoint,
        lambda spark, b, bid: neardup_gate_batch(
            spark, b, index_path, decisions_path, bid, threshold
        ),
    )
