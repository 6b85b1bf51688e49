"""Streaming media ingestion gate: every micro-batch of perceptual
signatures (image dHash / audio fingerprint rows, decoded upstream
by the Arrow codec stages) is near-dup-checked against everything
accepted so far via the persisted Hamming index
(operators/hamming_index.py), verdicts land, and kept signatures
append — the media twin of the text (neardup.py) and embedding
(embedgate.py) gates, so all three modality lifecycles share one
replay contract:

- append lands under the batch's own ``bl`` label by delete-then-
  rewrite — replay fully REPLACES the label;
- the probe excludes the batch's own label — replay sees exactly the
  pre-batch index (without it every signature would match itself at
  Hamming 0 and drop);
- decisions land partitioned by the label with scoped dynamic
  overwrite — replay replaces identical rows.

Scale: per trigger, batch-sized banding, partition-pruned index
reads, pair-sized CC — accepted history is never rescanned, and
media payloads never enter the gate at all (one BIGINT per item).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from firefox_public_data_report_etl_spark.operators.dedup import (
    hamming_band_pairs,
    hamming_pairs_from_band_rows,
)
from firefox_public_data_report_etl_spark.operators.hamming_index import (
    append_to_hamming_index,
    probe_hamming_index,
)
from firefox_public_data_report_etl_spark.operators.incremental import (
    incremental_decisions,
)


def media_gate_batch(
    spark: SparkSession,
    batch_sigs: DataFrame,
    index_path: str,
    decisions_path: str,
    batch_id: int,
) -> None:
    """Process one micro-batch of (id, signature) rows: probe →
    decide → land decisions → append kept signatures. Banding
    geometry (and the id/sig column names) comes from the index
    meta, so the stream cannot drift from the index build."""
    label = batch_id + 1
    m = spark.read.parquet(f"{index_path}/meta").head()
    id_col, sig_col = m["id_col"], m["sig_col"]
    batch = batch_sigs.select(id_col, sig_col).cache()
    probe = probe_hamming_index(spark, index_path, batch, exclude_label=label)
    cross = probe.pairs.select("base_id", "batch_id")
    # within-batch pairs reuse the probe's CACHED band rows instead
    # of re-exploding the batch (review fix); the empty-batch probe
    # returns no handle — there is nothing to pair then either
    bands = probe.batch_rows
    if bands is not None:
        within = hamming_pairs_from_band_rows(
            bands,
            id_col=id_col,
            sig_col=sig_col,
            max_hamming=m["max_hamming"],
        ).select("da", "db")
    else:
        within = hamming_band_pairs(
            batch,
            id_col=id_col,
            sig_col=sig_col,
            bits=m["bits"],
            max_hamming=m["max_hamming"],
            n_blocks=m["n_blocks"],
        ).select("da", "db")
    decisions = (
        incremental_decisions(
            batch.select(F.col(id_col).alias("doc_id")), cross, within
        )
        .withColumnRenamed("doc_id", id_col)
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
    kept = decisions.filter("keep").select(id_col)
    append_to_hamming_index(
        spark, index_path, batch.join(kept, id_col), label
    )
    decisions.unpersist()
    batch.unpersist()
    probe.close()


def stream_media_gate(
    sig_stream: DataFrame,
    index_path: str,
    decisions_path: str,
    checkpoint: str,
):
    """writeStream wiring: foreachBatch over a streaming signature
    source. ``availableNow`` so backfills drain and stop."""
    return (
        sig_stream.writeStream.foreachBatch(
            lambda b, bid: media_gate_batch(
                b.sparkSession, b, index_path, decisions_path, bid
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
