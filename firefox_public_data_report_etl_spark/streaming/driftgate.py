"""Streaming drift gate: the data-quality circuit breaker, on the
commit-last store protocol of ``streaming/gate.py``.

The batch drift audit (plans/quality.py:corpus_drift_audit) scores a
whole release against its parent. Here each micro-batch is binned
with the SAME literal edges and scored against a FIXED reference
histogram with the same integer-exact TVD-in-ppm formula. The batch
is admitted or rejected WHOLE: a drifted batch (upstream regression,
schema creep, a scraper gone wrong) must not poison the corpus one
accepted row at a time. A rejected batch lands no rows but still
commits its verdict row (label, n_rows, tvd_ppm, accepted), so the
trip is a durable, replayable audit record.

Scale: per trigger, one map-side histogram of the batch (≤ bins rows
collected), one ppm comparison in exact integers, one label write.
The reference histogram is a constant; history is never rescanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from firefox_public_data_report_etl_spark.streaming.gate import (
    commit_batch,
    read_committed,
    read_marker,
    start_stream,
)

META_SCHEMA = "bl long, n_rows long, tvd_ppm long, accepted boolean"


def _drift_constants():
    # deferred: plans.quality import at module level would re-enter
    # the streaming package through plans/__init__ → registry →
    # streamingq (circular import, caught by test collection)
    from firefox_public_data_report_etl_spark.plans.quality import (
        DRIFT_BIN_EDGES,
        DRIFT_PPM_THRESHOLD,
    )

    return DRIFT_BIN_EDGES, DRIFT_PPM_THRESHOLD


def _bin_expr(len_col: str):
    edges, _ = _drift_constants()
    e = F.when(F.length(len_col) < edges[0], 0)
    for i in range(1, len(edges)):
        e = e.when(F.length(len_col) < edges[i], i)
    return e.otherwise(len(edges))


def reference_histogram(
    docs: DataFrame, text_col: str = "text"
) -> dict[int, int]:
    """Bin counts of the reference corpus — computed once at gate
    setup (e.g. from the last promoted release) and passed to every
    trigger as a constant."""
    rows = (
        docs.select(_bin_expr(text_col).alias("bin"))
        .groupBy("bin")
        .count()
        .collect()
    )
    return {int(r["bin"]): int(r["count"]) for r in rows}


def tvd_ppm(batch_counts: dict[int, int], ref_counts: dict[int, int]) -> int:
    """Integer-exact TVD in ppm between two histograms — the
    corpus_drift_audit formula, driver-side over ≤ bins entries."""
    n_b = sum(batch_counts.values())
    n_r = sum(ref_counts.values())
    if n_b == 0 or n_r == 0:
        return 1_000_000
    num = sum(
        abs(batch_counts.get(b, 0) * n_r - ref_counts.get(b, 0) * n_b)
        for b in set(batch_counts) | set(ref_counts)
    )
    return (1_000_000 * num) // (2 * n_b * n_r)


def drift_gate_batch(
    spark: SparkSession,
    batch: DataFrame,
    store: str,
    reference: dict[int, int],
    batch_id: int,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_ppm: int | None = None,
) -> None:
    """One micro-batch of the circuit breaker: score, then admit the
    batch whole or trip and commit only the audit row."""
    if threshold_ppm is None:
        threshold_ppm = _drift_constants()[1]
    label = batch_id + 1
    counts = {
        int(r["bin"]): int(r["cnt"])
        for r in batch.select(_bin_expr(text_col).alias("bin"))
        .groupBy("bin")
        .agg(F.count("*").alias("cnt"))
        .collect()
    }
    n_rows = sum(counts.values())
    ppm = tvd_ppm(counts, reference)
    accepted = ppm < threshold_ppm and n_rows > 0
    commit_batch(
        store,
        label,
        batch.select(id_col, text_col),
        spark.createDataFrame([(label, n_rows, ppm, accepted)], META_SCHEMA),
        land=accepted,
    )


def read_accepted(
    spark: SparkSession,
    store: str,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Rows of batches that were admitted AND committed. A store with
    no batch yet reads as empty (``id_col``, ``text_col``)."""
    return read_committed(
        spark,
        store,
        "meta",
        META_SCHEMA,
        committed=lambda meta: meta.filter("accepted"),
        schema=f"{id_col} long, {text_col} string, bl long",
    )


def read_verdicts(spark: SparkSession, store: str) -> DataFrame:
    """The durable audit trail: one row per scored batch."""
    return read_marker(spark, store, "meta", META_SCHEMA)


def stream_drift_gate(
    stream: DataFrame,
    store: str,
    checkpoint: str,
    reference: dict[int, int],
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold_ppm: int | None = None,
):
    """Run the gate on every micro-batch of ``stream``."""
    return start_stream(
        stream,
        checkpoint,
        lambda spark, b, bid: drift_gate_batch(
            spark, b, store, reference, bid, id_col, text_col, threshold_ppm
        ),
    )
