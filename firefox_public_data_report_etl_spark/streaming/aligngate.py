"""Streaming caption-alignment ingestion gate — the 9th surface on
the shared label/replay contract (round-11 verdict #8): every
micro-batch of (media_id, payload, media_type, caption) pairs is
scored with the SAME deterministic joint-space alignment rule as the
batch audit (`plans/text.py:multimodal_caption_align` — real decode ×
caption token bag through one signed md5 projection, fixed-point cos²
gate), mismatched pairs are rejected before they can ever land in
training data, and the verdict rows are the durable audit trail.

Contract notes relative to the other gates:

- the score is a PURE function of the row's own bytes and caption —
  no index, no history, so nothing is appended and no
  ``exclude_label`` dance is needed; replay recomputes decisions
  bit-identically by construction (stream==batch agreement with
  `multimodal_caption_align` is test-pinned);
- accepted rows land under the batch's own ``bl`` label first
  (scoped dynamic overwrite — replay REPLACES the slice) and the
  per-pair verdict rows land LAST as the commit marker: a
  half-written accepted slice whose verdicts are missing is
  invisible to ``read_accepted`` (crash window) — the leakgate
  protocol at pair grain;
- an all-rejected store reads as EMPTY, not as an error, via the
  pinned accepted schema (the gate family's contract).

Scale: per trigger, one Arrow embed pass over the batch (pixels and
tokens never leave the stage), row-grain scoring, one label write.
Nothing batch-external is ever read.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from firefox_public_data_report_etl_spark.sources.tables import (
    fs_exists,
    fs_read_text,
    fs_write_text,
    partition_overwrite_mode,
)

VERDICT_SCHEMA = (
    "media_id long, dot long, na long, nb long, cos2_fp long,"
    " aligned boolean, bl long"
)


def _accepted_schema_path(store: str) -> str:
    return f"{store}/accepted_schema.json"


def _persist_accepted_schema(
    spark: SparkSession, store: str, schema: StructType
) -> None:
    fs_write_text(
        spark, _accepted_schema_path(store), json.dumps(schema.jsonValue())
    )


def align_scores(batch: DataFrame) -> DataFrame:
    """(media_id, dot, na, nb, cos2_fp, aligned) for a batch of
    (media_id, payload, media_type, caption) rows — the identical
    arithmetic as the batch audit's decision frame, over the REAL
    arriving bytes."""
    from firefox_public_data_report_etl_spark.operators.multimodal import (
        CAP_COS2_DEN,
        CAP_COS2_NUM,
        CAP_SCORE_SCALE,
        caption_pair_scores,
    )

    # the three inner products come straight out of the fused Arrow
    # embed stage (numpy int64); only the verdict arithmetic below is
    # Catalyst — no interpreted aggregate(zip_with(...)) per row
    scores = caption_pair_scores(batch)
    return scores.select(
        "media_id",
        "dot",
        "na",
        "nb",
        F.expr(
            f"CASE WHEN na * nb = 0 THEN CAST(0 AS BIGINT)"
            f" ELSE (dot * dot * {CAP_SCORE_SCALE}) DIV (na * nb) END"
        ).alias("cos2_fp"),
        (
            (F.col("dot") > 0)
            & (
                CAP_COS2_DEN * F.col("dot") * F.col("dot")
                >= CAP_COS2_NUM * F.col("na") * F.col("nb")
            )
        ).alias("aligned"),
    )


def align_gate_batch(
    spark: SparkSession,
    batch: DataFrame,
    store: str,
    batch_id: int,
) -> None:
    """One micro-batch: score every pair, land aligned rows under the
    batch label, commit the per-pair verdicts last."""
    label = batch_id + 1
    verdicts = align_scores(batch).withColumn(
        "bl", F.lit(label).cast("long")
    ).cache()
    accepted = batch.join(
        verdicts.filter(F.col("aligned")).select("media_id"), "media_id"
    ).withColumn("bl", F.lit(label).cast("long"))
    _persist_accepted_schema(spark, store, accepted.schema)
    with partition_overwrite_mode(spark, "dynamic"):
        accepted.write.partitionBy("bl").mode("overwrite").parquet(
            f"{store}/accepted"
        )
    with partition_overwrite_mode(spark, "dynamic"):
        verdicts.write.partitionBy("bl").mode("overwrite").parquet(
            f"{store}/verdicts"
        )
    verdicts.unpersist()


def read_accepted(spark: SparkSession, store: str) -> DataFrame:
    """Accepted pairs of COMMITTED batches (verdict slice present);
    an all-rejected store reads as empty via the pinned schema."""
    schema_path = _accepted_schema_path(store)
    if fs_exists(spark, schema_path):
        schema = StructType.fromJson(
            json.loads(fs_read_text(spark, schema_path))
        )
        # a crash inside the very first batch's commit window can leave
        # the accepted slice + schema written with verdicts/ not yet
        # created — the half-written slice must read as empty, not
        # raise (the same contract the accepted/ guard above enforces)
        if not fs_exists(spark, f"{store}/accepted") or not fs_exists(
            spark, f"{store}/verdicts"
        ):
            return spark.createDataFrame([], schema).drop("bl")
        acc = spark.read.schema(schema).parquet(f"{store}/accepted")
    else:
        acc = spark.read.parquet(f"{store}/accepted")
    ok = (
        spark.read.schema(VERDICT_SCHEMA)
        .parquet(f"{store}/verdicts")
        .select("bl")
        .distinct()
    )
    return acc.join(ok, "bl", "left_semi").drop("bl")


def read_verdicts(spark: SparkSession, store: str) -> DataFrame:
    """The durable audit trail: one verdict row per scored pair."""
    if not fs_exists(spark, f"{store}/verdicts"):
        return spark.createDataFrame([], VERDICT_SCHEMA)
    return spark.read.schema(VERDICT_SCHEMA).parquet(f"{store}/verdicts")


def stream_align_gate(
    pairs_stream: DataFrame,
    store: str,
    checkpoint: str,
):
    """writeStream wiring; availableNow so backfills drain and stop."""
    return (
        pairs_stream.writeStream.foreachBatch(
            lambda b, bid: align_gate_batch(b.sparkSession, b, store, bid)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
