"""Streaming media ingestion gate: one of the index gates of
``streaming/gate.py``.

Every micro-batch of perceptual signatures (image dHash / audio
fingerprint rows, decoded upstream by the Arrow codec stages) is
near-dup-checked against everything accepted so far via the
persisted Hamming index (operators/hamming_index.py): index matches
within the index's max Hamming distance plus within-batch pairs
banded the same way go through the shared decision tail, and kept
signatures are appended. The banding geometry and the id/sig column
names come from the index meta, so the stream cannot drift from the
index build.

Scale: per trigger, batch-sized banding, partition-pruned index
reads, pair-sized CC — accepted history is never rescanned, and
media payloads never enter the gate at all (one BIGINT per item).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from firefox_public_data_report_etl_spark.operators.dedup import (
    hamming_band_pairs,
    hamming_pairs_from_band_rows,
)
from firefox_public_data_report_etl_spark.operators.hamming_index import (
    append_to_hamming_index,
    probe_hamming_index,
)
from firefox_public_data_report_etl_spark.streaming.gate import (
    decide_and_append,
    start_stream,
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
    decide_and_append(
        batch,
        cross,
        within,
        id_col,
        label,
        decisions_path,
        lambda kept: append_to_hamming_index(
            spark, index_path, batch.join(kept, id_col), label
        ),
        [batch.unpersist, probe.close],
    )


def stream_media_gate(
    sig_stream: DataFrame,
    index_path: str,
    decisions_path: str,
    checkpoint: str,
):
    """Run the gate on every micro-batch of ``sig_stream``."""
    return start_stream(
        sig_stream,
        checkpoint,
        lambda spark, b, bid: media_gate_batch(
            spark, b, index_path, decisions_path, bid
        ),
    )
