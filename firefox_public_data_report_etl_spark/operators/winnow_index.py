"""Persisted winnowing fingerprint index — incremental cross-corpus
OVERLAP detection (round 10): each document's SELECTED winnowing
fingerprints (operators/text.py:winnow_fingerprints — ~2/(w+1) of
gram positions, 8-byte hashes) land in a parquet layout partitioned
by ``pb = pmod(h, parts)``, and a new batch's plagiarism/containment
lookup becomes a partition-filtered equi-join on the fingerprint
hash, keeping the SIGMOD'03 guarantee end-to-end: any base document
sharing a >= w + k - 1 char substring with a batch document MUST
share an indexed fingerprint, so the probe cannot miss long verbatim
overlaps.

The boilerplate document-frequency cap (shared with
`dedup_winnowing_pairs`) is applied at PROBE time, not build time,
and is exact under incrementality: ``pb`` is a pure function of
``h``, so every indexed row of a touched fingerprint lives inside
the partitions the probe already reads — global df is computable
from the probe scan alone, and a probe over (index ∪ batch) df
equals what a from-scratch rebuild over base ∪ batch would apply
(pinned by test).

Layout, label replace, replay mask and compaction are the shared
labeled-index lifecycle (operators/labeled_index.py); ``sel`` is
partitioned by (bl, pb).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from firefox_public_data_report_etl_spark.operators.labeled_index import (
    LabeledIndex,
    Probe,
    read_meta,
)

WINNOW_BUCKET_PARTS = 32  # same fan rationale as the other indexes
WINNOW_INDEX = LabeledIndex({"sel": ("pb",)})
META_SCHEMA = (
    "id_col string, text_col string, k int, w int, max_df int,"
    " shared_min int, bucket_parts int"
)


def _rows(docs: DataFrame, m) -> DataFrame:
    """Distinct (id, h) selected fingerprints with their bucket."""
    from firefox_public_data_report_etl_spark.operators.text import (
        winnow_fingerprints,
    )

    return (
        winnow_fingerprints(
            docs, id_col=m["id_col"], text_col=m["text_col"], k=m["k"],
            w=m["w"],
        )
        .select(m["id_col"], "h")
        .distinct()
        .withColumn("pb", F.pmod(F.col("h"), F.lit(m["bucket_parts"])))
    )


def cross_winnow_pairs(
    a_sel: DataFrame,
    b_sel: DataFrame,
    max_df: int,
    shared_min: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """(base_id, batch_id, shared) — the ONE shared pair-mining join
    both the registry form and the index probe run: document
    frequency per fingerprint over a ∪ b, boilerplate cap, bucketed
    equi-join, shared-count threshold. Inputs carry distinct
    (id_col, h); ``id_col`` follows the index meta so an index built
    with a non-default id column probes correctly."""
    a = a_sel.select(F.col(id_col).alias("base_id"), "h")
    b = b_sel.select(F.col(id_col).alias("batch_id"), "h")
    df_h = (
        a.select("h").union(b.select("h"))
        .groupBy("h")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") <= max_df)
        .select("h")
    )
    return (
        a.join(df_h, "h")
        .join(b.join(df_h, "h"), "h")
        .groupBy("base_id", "batch_id")
        .agg(F.count("*").alias("shared"))
        .filter(F.col("shared") >= shared_min)
    )


def build_winnow_index(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int | None = None,
    w: int | None = None,
    max_df: int | None = None,
    shared_min: int | None = None,
    bucket_parts: int = WINNOW_BUCKET_PARTS,
) -> None:
    """Persist the base corpus's selected fingerprints under label 0
    plus the one-row geometry meta (k, w, caps, fan) read back at
    probe/append time — index and batch can never winnow with
    different parameters."""
    from firefox_public_data_report_etl_spark.operators.text import (
        FINGERPRINT_GRAM,
        WINNOW_W,
    )
    from firefox_public_data_report_etl_spark.plans.text import (
        WINNOW_MAX_DF,
        WINNOW_SHARED_MIN,
    )

    m = dict(
        id_col=id_col,
        text_col=text_col,
        k=FINGERPRINT_GRAM if k is None else k,
        w=WINNOW_W if w is None else w,
        max_df=WINNOW_MAX_DF if max_df is None else max_df,
        shared_min=WINNOW_SHARED_MIN if shared_min is None else shared_min,
        bucket_parts=bucket_parts,
    )
    WINNOW_INDEX.build(path, {"sel": _rows(docs, m)}, m, META_SCHEMA)


def append_to_winnow_index(
    spark: SparkSession, path: str, docs: DataFrame, batch_label: int
) -> None:
    """Add (or replace) a batch's fingerprints under their own label
    with the STORED geometry."""
    m = read_meta(spark, path)
    WINNOW_INDEX.append(spark, path, batch_label, {"sel": _rows(docs, m)})


def probe_winnow_index(
    spark: SparkSession,
    path: str,
    batch_docs: DataFrame,
    exclude_label: int | None = None,
) -> Probe:
    """``Probe`` whose ``pairs`` is (base_id, batch_id, shared) for the
    batch against the index: batch fingerprints from the stored
    geometry probe their touched ``pb`` buckets, then
    `cross_winnow_pairs` runs with the df computed over (touched index
    rows ∪ batch rows) — EXACT global df because ``pb`` is a function
    of ``h`` (every indexed row of a touched fingerprint is inside the
    filtered scan). ``exclude_label`` masks one label (streaming replay
    guard)."""
    m = read_meta(spark, path)
    id_col = m["id_col"]
    batch_sel = _rows(batch_docs, m).persist()

    def verify(idx: DataFrame) -> DataFrame:
        return cross_winnow_pairs(
            idx.select(id_col, "h"),
            batch_sel.select(id_col, "h"),
            m["max_df"],
            m["shared_min"],
            id_col=id_col,
        )

    id_type = dict(batch_docs.dtypes)[id_col]
    return WINNOW_INDEX.probe(
        spark, path, batch_sel, verify,
        f"base_id {id_type}, batch_id {id_type}, shared long",
        exclude_label,
    )


def compact_winnow_index(spark: SparkSession, path: str) -> None:
    """Fold appended labels into bl=0, keeping the newest label."""
    WINNOW_INDEX.compact(spark, path)
