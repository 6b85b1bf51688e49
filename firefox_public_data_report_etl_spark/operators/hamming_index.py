"""Persisted Hamming signature index — incremental cross-corpus
MEDIA near-dup dedup: perceptual signatures (image dHash, audio
fingerprints — one BIGINT per item) in the labeled-index lifecycle
(operators/labeled_index.py: layout, label replace, replay mask,
compaction).

  rows    ``hamming_band_rows`` with the geometry stored in meta →
          ``bands`` partitioned by (bl, b, pb = pmod(v,
          BUCKET_PARTS)). Band rows carry the signature itself
          (8 bytes), so unlike the MinHash index no verify side-table
          is needed.
  verify  the (b, v) equi-join over the touched buckets, then exact
          bit_count(xor) on the carried signatures. EXACT recall by
          the pigeonhole theorem — the banding is lossless, so probe
          results equal the in-memory cross-pair twin bit-for-bit
          (pinned by test).

Scale: the index is one BIGINT signature × C(n_blocks, keep) band
rows per item — orders below media payloads (pixels/samples never
land in the index at all); probe IO is the buckets the batch
occupies. Reference has no media surface (engine extension from the
public Manku/Jain/Sarma technique).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from firefox_public_data_report_etl_spark.operators.dedup import (
    hamming_band_rows,
)
from firefox_public_data_report_etl_spark.operators.labeled_index import (
    LabeledIndex,
    Probe,
    read_meta,
)

HAMMING_BUCKET_PARTS = 32  # same fan rationale as the MinHash index
HAMMING_INDEX = LabeledIndex({"bands": ("b", "pb")})
META_SCHEMA = (
    "id_col string, sig_col string, bits int, max_hamming int,"
    " n_blocks int, bucket_parts int"
)


def _rows(sigs: DataFrame, m) -> DataFrame:
    return hamming_band_rows(
        sigs, id_col=m["id_col"], sig_col=m["sig_col"], bits=m["bits"],
        max_hamming=m["max_hamming"], n_blocks=m["n_blocks"],
    ).withColumn("pb", F.pmod(F.col("v"), F.lit(m["bucket_parts"])))


def build_hamming_index(
    sigs: DataFrame,
    path: str,
    *,
    id_col: str,
    sig_col: str,
    bits: int,
    max_hamming: int,
    n_blocks: int | None = None,
    bucket_parts: int = HAMMING_BUCKET_PARTS,
) -> None:
    """Persist the base corpus's banded signature index under label
    0, plus the one-row banding geometry meta."""
    m = dict(
        id_col=id_col, sig_col=sig_col, bits=bits, max_hamming=max_hamming,
        n_blocks=max_hamming + 1 if n_blocks is None else n_blocks,
        bucket_parts=bucket_parts,
    )
    HAMMING_INDEX.build(path, {"bands": _rows(sigs, m)}, m, META_SCHEMA)


def append_to_hamming_index(
    spark: SparkSession, path: str, sigs: DataFrame, batch_label: int
) -> None:
    """Add (or replace) a batch's signatures under their own label
    with the STORED geometry."""
    m = read_meta(spark, path)
    HAMMING_INDEX.append(spark, path, batch_label, {"bands": _rows(sigs, m)})


def probe_hamming_index(
    spark: SparkSession,
    path: str,
    batch_sigs: DataFrame,
    exclude_label: int | None = None,
) -> Probe:
    """``Probe`` whose ``pairs`` is (base_id, batch_id, hamming) for
    the batch against the index and whose ``batch_rows`` are the
    batch's cached band rows. ``exclude_label`` masks one label (the
    streaming replay guard). The caller owns the probe's cache
    lifecycle via ``probe.close()`` once results are materialized."""
    m = read_meta(spark, path)
    id_col, sig_col = m["id_col"], m["sig_col"]
    batch_bands = _rows(batch_sigs, m).persist()

    def verify(idx: DataFrame) -> DataFrame:
        cand = (
            idx.select(
                F.col(id_col).alias("base_id"),
                F.col(sig_col).alias("sa"),
                "b",
                "v",
            )
            .join(
                batch_bands.select(
                    F.col(id_col).alias("batch_id"),
                    F.col(sig_col).alias("sb"),
                    "b",
                    "v",
                ),
                ["b", "v"],
            )
            .select("base_id", "batch_id", "sa", "sb")
            .distinct()
        )
        return (
            cand.withColumn(
                "hamming",
                F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long"),
            )
            .filter(F.col("hamming") <= m["max_hamming"])
            .select("base_id", "batch_id", "hamming")
        )

    id_type = dict(batch_sigs.dtypes)[id_col]
    return HAMMING_INDEX.probe(
        spark, path, batch_bands, verify,
        f"base_id {id_type}, batch_id {id_type}, hamming long",
        exclude_label,
    )


def compact_hamming_index(spark: SparkSession, path: str) -> None:
    """Fold appended labels into bl=0, keeping the newest label."""
    HAMMING_INDEX.compact(spark, path)
