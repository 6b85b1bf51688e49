"""Streaming embedding ingestion gate: one of the index gates of
``streaming/gate.py``.

Every micro-batch of incoming (quantized) embeddings is
near-dup-checked against EVERYTHING accepted so far via the persisted
IVF index: index matches at quantized cosine >= the threshold plus
within-batch pairs at the same cut go through the shared decision
tail, and the kept vectors are appended to the index.

Scale: per trigger, the probe reads nprobe/n_cells of each index
label (partition-pruned), the within-batch check pairs only inside
shared coarse cells (never all-pairs), and the decision join volume
is pair-sized. Accepted history is never rescanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from firefox_public_data_report_etl_spark.functions import cosine
from firefox_public_data_report_etl_spark.operators.ivf_lifecycle import (
    append_to_ivf_index,
)
from firefox_public_data_report_etl_spark.operators.vectorized import (
    ivf_assign,
    search_ivf_index,
)
from firefox_public_data_report_etl_spark.streaming.gate import (
    decide_and_append,
    start_stream,
)

# embedding-space near-dup cut: quantized exact cosine at or above
# this is "the same content re-embedded" for the synthetic corpus
# (SemDeDup-style semantic dedup uses a looser cut; an ingestion
# gate guards against true near-copies)
EMBED_NEARDUP_COS = 0.98
# matches above the threshold are what the decision CC consumes;
# k bounds the per-query candidate rows, not the match semantics —
# a vector with more than K_MATCHES near-dups still gets matched
K_MATCHES = 10


def _within_batch_pairs(
    batch: DataFrame,
    centroids: DataFrame,
    threshold: float,
    id_col: str,
    nprobe: int = 2,
) -> DataFrame:
    """(da, db) near-dup pairs INSIDE the batch, paired when the two
    vectors share ANY of their ``nprobe`` nearest coarse cells of the
    stored codebook (the IVF blocking — never all-pairs). With
    nprobe=2 on BOTH sides this is at least the 2×1 cell overlap the
    cross-index probe gets, so a near-dup pair straddling a Voronoi
    boundary inside one batch is still blocked together (round-9
    advice: nprobe=1 here could keep two representatives of one
    burst).

    Deliberately NO per-query top-k truncation (review fix: ranking
    before the da < db cut silently dropped edges whenever a vector
    had more than K neighbors in the batch — a burst of >K identical
    vectors then kept several representatives instead of one; every
    above-threshold within-cell pair must edge-connect so the CC
    keeps exactly one)."""
    cells = ivf_assign(batch, centroids, id_col, nprobe=nprobe)
    with_cell = batch.join(cells, id_col)
    a = with_cell.select(
        F.col(id_col).alias("da"),
        F.col("q").alias("qa"),
        F.col("norm").alias("na"),
        "cell",
    )
    b = with_cell.select(
        F.col(id_col).alias("db"),
        F.col("q").alias("qb"),
        F.col("norm").alias("nb"),
        "cell",
    )
    return (
        a.join(b, "cell")
        .filter(F.col("da") < F.col("db"))
        .withColumn(
            "dot",
            F.expr(
                "aggregate(zip_with(qa, qb, (x, y) -> x * y),"
                " 0L, (s, v) -> s + v)"
            ),
        )
        .withColumn("cos", cosine("dot", "na", "nb"))
        .filter(F.col("cos") >= threshold)
        .select("da", "db")
        .distinct()
    )


def embed_gate_batch(
    spark: SparkSession,
    batch_vecs: DataFrame,
    index_path: str,
    decisions_path: str,
    batch_id: int,
    threshold: float = EMBED_NEARDUP_COS,
    nprobe: int = 2,
    id_col: str = "vec_id",
) -> None:
    """One micro-batch of quantized embeddings (id, q, norm): probe
    the index with this label excluded, pair within the batch, then
    the shared decision tail."""
    label = batch_id + 1
    batch = batch_vecs.select(id_col, "q", "norm").cache()
    # centroids read ONCE per trigger, shared by the index probe and
    # the within-batch blocking (review fix: each previously re-read
    # the codebook parquet)
    centroids = spark.read.parquet(f"{index_path}/centroids").cache()
    probe = search_ivf_index(
        spark,
        index_path,
        batch,
        k=K_MATCHES,
        nprobe=nprobe,
        id_col=id_col,
        exclude_self=False,
        exclude_label=label,
        centroids=centroids,
    )
    cross = probe.filter(F.col("cos") >= threshold).select(
        F.col("n_id").alias("base_id"), F.col("q_id").alias("batch_id")
    )
    within = _within_batch_pairs(
        batch, centroids, threshold, id_col, nprobe=nprobe
    )
    decide_and_append(
        batch,
        cross,
        within,
        id_col,
        label,
        decisions_path,
        lambda kept: append_to_ivf_index(
            spark, index_path, batch.join(kept, id_col), label, id_col=id_col
        ),
        [batch.unpersist, centroids.unpersist],
    )


def stream_embed_gate(
    vec_stream: DataFrame,
    index_path: str,
    decisions_path: str,
    checkpoint: str,
    threshold: float = EMBED_NEARDUP_COS,
    nprobe: int = 2,
    id_col: str = "vec_id",
):
    """Run the gate on every micro-batch of ``vec_stream`` (columns
    id, q, norm)."""
    return start_stream(
        vec_stream,
        checkpoint,
        lambda spark, b, bid: embed_gate_batch(
            spark, b, index_path, decisions_path, bid, threshold, nprobe,
            id_col,
        ),
    )
