"""Streaming video ingestion gate: one of the index gates of
``streaming/gate.py``.

Every micro-batch of CLIPS (per-frame dHash rows, decoded upstream by
the real-codec Arrow stage) is near-dup-checked against everything
accepted so far via the persisted frame-hash Hamming index. Two clips
match by the TIME-ALIGNED FRAME VOTE (operators/multimodal.py:
video_neardup_against_index): at least NDVID_MIN_FRAMES frames at the
same index within the max Hamming distance. Index and within-batch
clip matches go through the shared decision tail, and the kept clips'
frame hashes are appended. A clip's frames must arrive within one
trigger.

Scale: per trigger, probe IO is the partition-pruned bucket set the
batch's frames occupy; the vote and CC are pair-sized; appended
state is NDVID_FRAMES BIGINTs per kept clip — pixels never enter the
gate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from firefox_public_data_report_etl_spark.operators.dedup import (
    hamming_pairs_from_band_rows,
)
from firefox_public_data_report_etl_spark.operators.hamming_index import (
    append_to_hamming_index,
)
from firefox_public_data_report_etl_spark.operators.multimodal import (
    NDVID_FRAMES,
    NDVID_MIN_FRAMES,
    video_neardup_against_index,
    video_neardup_pairs,
)
from firefox_public_data_report_etl_spark.streaming.gate import (
    decide_and_append,
    start_stream,
)


def video_gate_batch(
    spark: SparkSession,
    batch_frames: DataFrame,
    index_path: str,
    decisions_path: str,
    batch_id: int,
) -> None:
    """Process one micro-batch of (video_id, frame_idx, fhash) rows:
    vote against the index (own label excluded for replay) + within
    the batch, CC over the clip-grain edges, land clip verdicts,
    append kept clips' frame hashes under the label."""
    label = batch_id + 1
    batch = batch_frames.select("video_id", "frame_idx", "fhash").cache()
    votes = video_neardup_against_index(
        spark, index_path, batch, exclude_label=label
    )
    cross = votes.pairs.select(
        F.col("base_video").alias("base_id"),
        F.col("batch_video").alias("batch_id"),
    )
    # within-batch frame pairs reuse the probe's CACHED band rows
    # (review fix: re-banding re-paid the explode per trigger), then
    # the same alignment + vote the cross side applies
    bands = votes.batch_rows
    if bands is not None:
        m = spark.read.parquet(f"{index_path}/meta").head()
        fp = hamming_pairs_from_band_rows(
            bands, id_col="fid", sig_col="fhash",
            max_hamming=m["max_hamming"],
        )
        within = (
            fp.filter(
                F.col("da") % NDVID_FRAMES == F.col("db") % NDVID_FRAMES
            )
            .select(
                F.expr(f"da div {NDVID_FRAMES}").alias("va"),
                F.expr(f"db div {NDVID_FRAMES}").alias("vb"),
                (F.col("da") % NDVID_FRAMES).alias("f"),
            )
            .filter(F.col("va") < F.col("vb"))
            .distinct()
            .groupBy("va", "vb")
            .agg(F.count("*").alias("n_matched"))
            .filter(F.col("n_matched") >= NDVID_MIN_FRAMES)
            .select(F.col("va").alias("da"), F.col("vb").alias("db"))
        )
    else:  # empty-batch probe returns no handle; nothing to pair
        within = video_neardup_pairs(batch).select(
            F.col("va").alias("da"), F.col("vb").alias("db")
        )
    decide_and_append(
        batch.select("video_id").distinct(),
        cross,
        within,
        "video_id",
        label,
        decisions_path,
        lambda kept: append_to_hamming_index(
            spark,
            index_path,
            batch.join(kept, "video_id").select(
                (
                    F.col("video_id") * NDVID_FRAMES + F.col("frame_idx")
                ).alias("fid"),
                "fhash",
            ),
            label,
        ),
        [batch.unpersist, votes.close],
    )


def stream_video_gate(
    frame_stream: DataFrame,
    index_path: str,
    decisions_path: str,
    checkpoint: str,
):
    """Run the gate on every micro-batch of ``frame_stream``."""
    return start_stream(
        frame_stream,
        checkpoint,
        lambda spark, b, bid: video_gate_batch(
            spark, b, index_path, decisions_path, bid
        ),
    )
