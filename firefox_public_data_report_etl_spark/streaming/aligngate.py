"""Streaming caption-alignment gate, on the commit-last store protocol
of ``streaming/gate.py``.

Every micro-batch of (media_id, payload, media_type, caption) pairs
is scored with the SAME deterministic joint-space alignment rule as
the batch audit (`plans/text.py:multimodal_caption_align`): the real
decode × caption token bag through one signed md5 projection, and a
fixed-point cos² gate. Mismatched pairs are rejected before they can
land in training data; the per-pair verdict rows are the commit
marker and the audit trail. The score is a pure function of the
row's own bytes and caption, with no index and no history, so a
replay recomputes identical verdicts.

Scale: per trigger, one Arrow embed pass over the batch (pixels and
tokens never leave the stage), row-grain scoring, one label write.
Nothing outside the batch is read.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from firefox_public_data_report_etl_spark.streaming.gate import (
    commit_batch,
    read_committed,
    read_marker,
    start_stream,
)

VERDICT_SCHEMA = (
    "media_id long, dot long, na long, nb long, cos2_fp long,"
    " aligned boolean, bl long"
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
    verdicts = align_scores(batch).cache()
    accepted = batch.join(
        verdicts.filter(F.col("aligned")).select("media_id"), "media_id"
    )
    commit_batch(store, label, accepted, verdicts, marker_dir="verdicts")
    verdicts.unpersist()


def read_accepted(spark: SparkSession, store: str) -> DataFrame:
    """Accepted pairs of committed labels."""
    return read_committed(spark, store, "verdicts", VERDICT_SCHEMA)


def read_verdicts(spark: SparkSession, store: str) -> DataFrame:
    """The durable audit trail: one verdict row per scored pair."""
    return read_marker(spark, store, "verdicts", VERDICT_SCHEMA)


def stream_align_gate(
    pairs_stream: DataFrame,
    store: str,
    checkpoint: str,
):
    """Run the gate on every micro-batch of ``pairs_stream``."""
    return start_stream(
        pairs_stream,
        checkpoint,
        lambda spark, b, bid: align_gate_batch(spark, b, store, bid),
    )
