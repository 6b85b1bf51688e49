"""Streaming eval-leakage gate: ingestion-time decontamination, on the
commit-last store protocol of ``streaming/gate.py``.

The batch audit (`plans/text.py:contamination_winnowing`) scores a
finished corpus; here each micro-batch is probed against the
PERSISTED winnowing index of the held-out/eval corpus
(operators/winnow_index.py). A document sharing >= shared_min
selected fingerprints with ANY indexed eval document (by the
winnowing guarantee, any >= w + k - 1 char verbatim overlap) is
rejected before it can land in training data. The per-doc decision
rows (doc_id, leaked, n_partners) are the commit marker. The eval
index is static between releases, so nothing is appended and a
replay sees the same index by construction.

Scale: per trigger, batch-sized winnowing + the partition-pruned
fingerprint probe (buckets the batch touches), pair-sized grouping,
one label write. Eval history is never rescanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from firefox_public_data_report_etl_spark.operators.winnow_index import (
    probe_winnow_index,
)
from firefox_public_data_report_etl_spark.streaming.gate import (
    commit_batch,
    read_committed,
    read_marker,
    start_stream,
)

DECISION_SCHEMA = "doc_id long, leaked boolean, n_partners long, bl long"


def leak_gate_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    index_path: str,
    store: str,
    batch_id: int,
) -> None:
    """One micro-batch: probe the eval index, land clean rows under
    the batch label, commit the per-doc verdicts last."""
    label = batch_id + 1
    probe = probe_winnow_index(spark, index_path, batch_docs)
    partners = (
        probe.pairs.groupBy(F.col("batch_id").alias("doc_id"))
        .agg(F.count("*").alias("n_partners"))
    )
    decisions = (
        batch_docs.select("doc_id")
        .join(partners, "doc_id", "left")
        .select(
            "doc_id",
            F.col("n_partners").isNotNull().alias("leaked"),
            F.coalesce("n_partners", F.lit(0)).cast("long").alias(
                "n_partners"
            ),
        )
        .cache()
    )
    clean = batch_docs.join(
        decisions.filter(~F.col("leaked")).select("doc_id"), "doc_id"
    )
    commit_batch(store, label, clean, decisions, marker_dir="decisions")
    decisions.unpersist()
    probe.close()


def read_accepted(spark: SparkSession, store: str) -> DataFrame:
    """Accepted rows of committed labels."""
    return read_committed(spark, store, "decisions", DECISION_SCHEMA)


def read_decisions(spark: SparkSession, store: str) -> DataFrame:
    """The durable audit trail: one verdict row per scored doc."""
    return read_marker(spark, store, "decisions", DECISION_SCHEMA)


def stream_leak_gate(
    docs_stream: DataFrame,
    index_path: str,
    store: str,
    checkpoint: str,
):
    """Run the gate on every micro-batch of ``docs_stream``."""
    return start_stream(
        docs_stream,
        checkpoint,
        lambda spark, b, bid: leak_gate_batch(
            spark, b, index_path, store, bid
        ),
    )
