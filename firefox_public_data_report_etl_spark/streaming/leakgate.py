"""Streaming eval-leakage gate: the 8th surface on the shared
label/replay contract — ingestion-time decontamination. The batch
audit (`plans/text.py:contamination_winnowing`) scores a finished
corpus; at ingestion time the same control runs per micro-batch
against the PERSISTED winnowing index of the held-out/eval corpus
(operators/winnow_index.py): any arriving document sharing >=
shared_min selected fingerprints with ANY indexed eval document — by
the winnowing guarantee, any >= w + k - 1 char verbatim overlap — is
rejected before it can ever land in training data.

Contract notes relative to the other gates:

- the probed index is STATIC (the eval set is fixed between
  releases), so unlike the near-dup gate nothing is ever appended and
  no ``exclude_label`` dance is needed — replay sees the identical
  index state by construction;
- accepted rows land under the batch's own ``bl`` label first
  (scoped dynamic overwrite — replay REPLACES the slice), and the
  per-doc decision rows land LAST as the commit marker: a
  half-written accepted slice whose decisions are missing is
  invisible to ``read_accepted`` (crash window), exactly the
  drift/budget-gate meta protocol at doc grain;
- decisions are a pure function of (batch content, index) — replay
  rewrites them bit-identically.

Scale: per trigger, batch-sized winnowing + the partition-pruned
fingerprint probe (buckets the batch touches), pair-sized grouping,
one label write. Eval history is never rescanned.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from firefox_public_data_report_etl_spark.operators.winnow_index import (
    probe_winnow_index,
)
from firefox_public_data_report_etl_spark.sources.tables import (
    fs_exists,
    fs_read_text,
    fs_write_text,
    partition_overwrite_mode,
)

DECISION_SCHEMA = "doc_id long, leaked boolean, n_partners long, bl long"


def _accepted_schema_path(store: str) -> str:
    return f"{store}/accepted_schema.json"


def _persist_accepted_schema(
    spark: SparkSession, store: str, schema: StructType
) -> None:
    """Pin the accepted slice's schema as a tiny side file (the same
    move as the winnow index's meta row): an all-rejected run leaves
    accepted/ holding only _SUCCESS, and schema inference over that is
    an AnalysisException — with the pinned schema it reads as EMPTY,
    honoring the gate family's all-tripped-reads-as-empty contract.
    Idempotent: replay rewrites the identical JSON."""
    fs_write_text(
        spark, _accepted_schema_path(store), json.dumps(schema.jsonValue())
    )


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
            F.lit(label).cast("long").alias("bl"),
        )
        .cache()
    )
    clean = batch_docs.join(
        decisions.filter(~F.col("leaked")).select("doc_id"), "doc_id"
    ).withColumn("bl", F.lit(label).cast("long"))
    _persist_accepted_schema(spark, store, clean.schema)
    with partition_overwrite_mode(spark, "dynamic"):
        clean.write.partitionBy("bl").mode("overwrite").parquet(
            f"{store}/accepted"
        )
    with partition_overwrite_mode(spark, "dynamic"):
        decisions.write.partitionBy("bl").mode("overwrite").parquet(
            f"{store}/decisions"
        )
    decisions.unpersist()
    probe.close()


def read_accepted(spark: SparkSession, store: str) -> DataFrame:
    """Accepted rows of COMMITTED batches (decision slice present) —
    the crash-window contract shared with the other gates. A store
    where every batch had all rows rejected (accepted/ exists but
    holds no data files) reads as EMPTY via the pinned schema, not as
    an inference error — same contract as driftgate.read_accepted."""
    schema_path = _accepted_schema_path(store)
    if fs_exists(spark, schema_path):
        schema = StructType.fromJson(
            json.loads(fs_read_text(spark, schema_path))
        )
        # accepted slice + schema written but decisions/ not yet
        # created (crash inside the first batch's commit window):
        # the half-written slice is invisible, not an AnalysisException
        if not fs_exists(spark, f"{store}/accepted") or not fs_exists(
            spark, f"{store}/decisions"
        ):
            return spark.createDataFrame([], schema).drop("bl")
        acc = spark.read.schema(schema).parquet(f"{store}/accepted")
    else:
        acc = spark.read.parquet(f"{store}/accepted")
    ok = (
        spark.read.schema(DECISION_SCHEMA)
        .parquet(f"{store}/decisions")
        .select("bl")
        .distinct()
    )
    return acc.join(ok, "bl", "left_semi").drop("bl")


def read_decisions(spark: SparkSession, store: str) -> DataFrame:
    """The durable audit trail: one verdict row per scored doc."""
    if not fs_exists(spark, f"{store}/decisions"):
        return spark.createDataFrame([], DECISION_SCHEMA)
    return spark.read.schema(DECISION_SCHEMA).parquet(
        f"{store}/decisions"
    )


def stream_leak_gate(
    docs_stream: DataFrame,
    index_path: str,
    store: str,
    checkpoint: str,
):
    """writeStream wiring; availableNow so backfills drain and stop."""
    return (
        docs_stream.writeStream.foreachBatch(
            lambda b, bid: leak_gate_batch(
                b.sparkSession, b, index_path, store, bid
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
