"""Streaming video ingestion gate: every micro-batch of CLIPS
(per-frame dHash rows, decoded upstream by the real-codec Arrow
stage) is near-dup-checked against everything accepted so far via
the persisted frame-hash Hamming index, with the clip verdict
decided by the TIME-ALIGNED FRAME VOTE (operators/multimodal.py:
video_neardup_against_index) — the fourth and last modality gate,
sharing the one replay contract (label replace, own-label exclusion,
scoped dynamic decision overwrite) with the text, embedding, and
still-image gates.

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
from firefox_public_data_report_etl_spark.operators.incremental import (
    incremental_decisions,
)
from firefox_public_data_report_etl_spark.operators.multimodal import (
    NDVID_FRAMES,
    NDVID_MIN_FRAMES,
    video_neardup_against_index,
    video_neardup_pairs,
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
    decisions = (
        incremental_decisions(
            batch.select(F.col("video_id").alias("doc_id")).distinct(),
            cross,
            within,
        )
        .withColumnRenamed("doc_id", "video_id")
        .withColumn("batch_label", F.lit(label))
        .cache()
    )
    from firefox_public_data_report_etl_spark.sources import (
        partition_overwrite_mode,
    )

    with partition_overwrite_mode(spark, "dynamic"):
        decisions.write.partitionBy("batch_label").mode(
            "overwrite"
        ).parquet(decisions_path)
    kept = decisions.filter("keep").select("video_id")
    kept_fids = batch.join(kept, "video_id").select(
        (
            F.col("video_id") * NDVID_FRAMES + F.col("frame_idx")
        ).alias("fid"),
        "fhash",
    )
    append_to_hamming_index(spark, index_path, kept_fids, label)
    decisions.unpersist()
    batch.unpersist()
    votes.close()


def stream_video_gate(
    frame_stream: DataFrame,
    index_path: str,
    decisions_path: str,
    checkpoint: str,
):
    """writeStream wiring: foreachBatch over a streaming frame-hash
    source. A clip's frames must arrive within one trigger (frame
    rows are produced per clip by the decode stage, so a file source
    keyed by clip satisfies this). ``availableNow`` so backfills
    drain and stop."""
    return (
        frame_stream.writeStream.foreachBatch(
            lambda b, bid: video_gate_batch(
                b.sparkSession, b, index_path, decisions_path, bid
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
