"""Incremental cross-corpus near-dup dedup (dedup-against-index).

Production corpus curation is incremental: this week's crawl must be
deduplicated against the already-curated corpus WITHOUT recomputing
the curated side's signatures. This module is the MinHash family of
the labeled-index lifecycle (operators/labeled_index.py: layout,
label replace, replay mask, compaction):

  rows    ``minhash_band_rows`` → ``bands`` (id, bi, bv) partitioned
          by (bl, bi, pb = pmod(bv, BUCKET_PARTS)), plus ``grams``
          (id, hs, n), one row per doc, the verify side-table — so
          verification never re-reads base corpus TEXT. Index and
          batch band with the SAME function and stored params.
  verify  the (bi, bv) equi-join over the touched buckets yields
          cross candidates; exact hashed-shingle Jaccard on the
          gram arrays decides.

Scale: the index is fingerprint-sized (ints + a gram-hash array per
doc — orders below corpus text); the probe's join volume is the
banded candidate space restricted to batch-touching pairs, and the
partition filter cuts index IO to the buckets the batch actually
occupies. Nothing is all-pairs; nothing rescans the curated corpus.
Reference has no incremental surface (its BigQuery SQL recomputes
each run); this is an engine extension from public LSH technique.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from firefox_public_data_report_etl_spark.operators.dedup import (
    N_BANDS,
    ROWS_PER_BAND,
    minhash_band_rows,
)
from firefox_public_data_report_etl_spark.operators.labeled_index import (
    LabeledIndex,
    read_labeled,
    read_meta,
)

# Partition fan per band: n_bands * BUCKET_PARTS leaf directories.
# 32 keeps per-file open overhead below the IO it saves at test SFs
# (measured: 256 leaves cost 0.8 s of opens to scan 150k int rows)
# while giving a small batch real pruning (it touches at most its
# own bucket residues). At 100 TB raise it with corpus size — the
# partition column is derived, so re-fanning is a rewrite of
# fingerprint-sized data only.
BUCKET_PARTS = 32
MINHASH_INDEX = LabeledIndex({"bands": ("bi", "pb"), "grams": ()})
META_SCHEMA = "n_bands int, rows_per_band int, bucket_parts int"


def _rows(hs_df: DataFrame, m, id_col: str) -> dict[str, DataFrame]:
    # TWO tables, measured necessity both times:
    # - bands: (id, bi, bv, pb) INTS ONLY. The first cut stored the
    #   gram array on every band row (so verify needed no second
    #   table) — but that duplicates each doc's array n_bands times,
    #   and the probe then READS 4x the fingerprint volume the
    #   recompute would have hashed: measured slower than no index
    #   at all. Candidate generation only needs the ints.
    # - grams: (id, hs, n), one row per doc — the verify side-table,
    #   read once per probe with column pruning.
    bands = minhash_band_rows(
        hs_df, id_col, m["n_bands"], m["rows_per_band"]
    ).select(id_col, "bi", "bv")
    return {
        "bands": bands.withColumn(
            "pb", F.pmod(F.col("bv"), F.lit(m["bucket_parts"]))
        ),
        "grams": hs_df.select(id_col, "hs", "n"),
    }


def build_minhash_index(
    hs_df: DataFrame,
    path: str,
    id_col: str = "doc_id",
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    bucket_parts: int = BUCKET_PARTS,
) -> None:
    """Persist the base corpus's LSH signature index under label 0.
    ``hs_df`` is ``gram_hash_arrays`` output (id, hs, n). Layout:
    ``{path}/bands`` partitioned by (bl, bi, pb), ``{path}/grams`` by
    bl, and the banding params in ``{path}/meta``."""
    m = dict(n_bands=n_bands, rows_per_band=rows_per_band,
             bucket_parts=bucket_parts)
    MINHASH_INDEX.build(path, _rows(hs_df, m, id_col), m, META_SCHEMA)


def append_to_minhash_index(
    spark: SparkSession,
    path: str,
    hs_df: DataFrame,
    batch_label: int,
    id_col: str = "doc_id",
) -> None:
    """Weekly refresh: add a batch's (typically its KEPT docs')
    signatures under their own label, banded with the STORED params,
    so the NEXT batch dedups against base ∪ everything accepted since.
    Idempotent: a replayed label is replaced (operators/labeled_index.py).
    Compact old labels together periodically
    (``compact_minhash_index``) when probe listing cost shows up."""
    m = read_meta(spark, path)
    MINHASH_INDEX.append(spark, path, batch_label, _rows(hs_df, m, id_col))


def _verified_jaccard(cand: DataFrame) -> DataFrame:
    """(base_id, batch_id, jaccard) from candidate rows carrying both
    sides' gram arrays (ha/na, hb/nb) — the ONE exact-verify
    projection shared by the in-memory band join and the persisted-
    index probe, so the two paths can never verify differently (a
    change here — e.g. the planned md5 128-bit gram keys at corpus
    scale — reaches both at once, and the probe==twin equality test
    keeps pinning only the storage layer)."""
    withi = cand.withColumn(
        "inter", F.expr("CAST(size(array_intersect(ha, hb)) AS BIGINT)")
    )
    return withi.select(
        "base_id",
        "batch_id",
        (
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter"))
        ).alias("jaccard"),
    )


def cross_pairs_against_bands(
    idx_bands: DataFrame, batch_bands: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """(base_id, batch_id, jaccard): banded candidates between an
    index-side band table and a batch-side band table, verified with
    exact hashed-shingle Jaccard via ``array_intersect`` (both sides
    carry their gram arrays — no third table). Pair-grain ``first``
    collapses multi-band matches exactly like the batch pipeline.
    Shared by the persisted-index probe and its in-memory twin, so
    the equality test between them pins only the storage layer."""
    a = idx_bands.select(
        F.col(id_col).alias("base_id"),
        F.col("hs").alias("ha"),
        F.col("n").alias("na"),
        "bi",
        "bv",
    )
    b = batch_bands.select(
        F.col(id_col).alias("batch_id"),
        F.col("hs").alias("hb"),
        F.col("n").alias("nb"),
        "bi",
        "bv",
    )
    cand = (
        a.join(b, ["bi", "bv"])
        .groupBy("base_id", "batch_id")
        .agg(
            F.first("ha").alias("ha"),
            F.first("hb").alias("hb"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    return _verified_jaccard(cand)


def probe_minhash_index(
    spark: SparkSession,
    path: str,
    batch_hs: DataFrame,
    id_col: str = "doc_id",
    exclude_label: int | None = None,
) -> DataFrame:
    """(base_id, batch_id, jaccard) for the batch against a
    ``build_minhash_index`` layout: the batch's band rows probe the
    touched (bi, pb) buckets, the (bi, bv) equi-join yields distinct
    candidate pairs, and exact hashed-shingle Jaccard verifies them —
    candidates (size-gated broadcast, same policy as
    ``jaccard_for_pairs``) join the grams side-table for the base
    arrays, then the live batch arrays. ``exclude_label`` masks one
    label on both index reads (the streaming replay guard, see
    streaming/neardup.py)."""
    from firefox_public_data_report_etl_spark.operators.dedup import (
        MAX_BROADCAST_PAIRS,
        _decide_broadcast_pairs,
    )

    m = read_meta(spark, path)
    # persisted: the signature compute (n_bands·rows_per_band
    # array_min expressions per doc) feeds BOTH the touched-combo
    # collect and the candidate join — without the persist it runs
    # twice per probe; band rows are fingerprint-sized, so this is
    # the same cache class as the callers' hs cache
    batch_bands = _rows(batch_hs, m, id_col)["bands"].persist()

    def verify(idx: DataFrame) -> DataFrame:
        cand = (
            idx.select(F.col(id_col).alias("base_id"), "bi", "bv")
            .join(
                batch_bands.select(
                    F.col(id_col).alias("batch_id"), "bi", "bv"
                ),
                ["bi", "bv"],
            )
            .select("base_id", "batch_id")
            .distinct()
        )
        cand, bcast = _decide_broadcast_pairs(cand, None, MAX_BROADCAST_PAIRS)
        # the decide count just materialized cand through its cache, so
        # the band-row relation is no longer on any live path — release
        # it here instead of leaking one cached relation per probe
        # (the streaming gate probes once per micro-batch)
        batch_bands.unpersist()
        p = F.broadcast(cand) if bcast else cand
        grams = read_labeled(
            spark, path, "grams", exclude_label=exclude_label
        ).select(
            F.col(id_col).alias("base_id"),
            F.col("hs").alias("ha"),
            F.col("n").alias("na"),
        )
        withb = p.join(grams, "base_id").join(
            batch_hs.select(
                F.col(id_col).alias("batch_id"),
                F.col("hs").alias("hb"),
                F.col("n").alias("nb"),
            ),
            "batch_id",
        )
        out = _verified_jaccard(withb)
        # the cached candidate set is part of the RETURNED plan's
        # lineage — unpersisting it here would drop the cache before
        # the verify join ever runs. The caller owns its lifecycle: the
        # streaming gate unpersists after materializing its decisions
        # (streaming/neardup.py), one-shot queries let session teardown
        # collect it.
        out._probe_persisted = [cand]
        return out

    id_type = dict(batch_hs.dtypes)[id_col]
    return MINHASH_INDEX.probe(
        spark, path, batch_bands, verify,
        f"base_id {id_type}, batch_id {id_type}, jaccard double",
        exclude_label,
    ).pairs


def incremental_decisions(
    batch_ids: DataFrame,
    cross_pairs: DataFrame,
    within_pairs: DataFrame,
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, component, matched_base, keep) at BATCH grain — the
    keep/remove verdict for this week's crawl. Semantics match a full
    recompute over base ∪ batch restricted to pairs touching the
    batch (the oracle's formulation):

    - ``cross_pairs``  (base_id, batch_id, …) already thresholded;
    - ``within_pairs`` (da, db, …) batch-internal, already thresholded;
    - connected components over the union edge set label every
      edge-touching doc with its min reachable id — a same-id cross
      pair (a re-sent base doc) labels that doc itself, so it still
      counts as matched; batch singletons label themselves;
    - ``matched_base``: the component contains a base doc — every
      such batch doc is a duplicate of already-curated content and
      dropped (the base copy IS the corpus representative);
    - ``keep``: no base contact AND min batch id of the component —
      one representative per new-content duplicate class.

    Scale: edges are pair-sized (post-LSH candidates, not corpus
    pairs); the CC is the O(log n)-round star contraction
    (operators/graph.py), so a long chain of near-dups in one batch
    cannot exhaust its rounds; everything after is #batch-row joins.
    """
    from firefox_public_data_report_etl_spark.operators.graph import (
        connected_components,
    )

    edges = cross_pairs.select(
        F.col("base_id").alias("da"), F.col("batch_id").alias("db")
    ).unionByName(within_pairs.select("da", "db"))
    comp = connected_components(edges, "da", "db")
    base_nodes = cross_pairs.select(
        F.col("base_id").alias("node")
    ).distinct()
    has_base = (
        comp.join(base_nodes, "node")
        .select("comp")
        .distinct()
        .withColumn("has_base", F.lit(True))
    )
    lab = (
        batch_ids.select(F.col(id_col).alias("doc_id"))
        .join(
            comp.withColumnRenamed("node", "doc_id"), "doc_id", "left"
        )
        .select(
            "doc_id",
            F.coalesce("comp", F.col("doc_id")).alias("component"),
        )
    )
    mb = lab.groupBy("component").agg(F.min("doc_id").alias("_mb"))
    return (
        lab.join(
            has_base.withColumnRenamed("comp", "component"),
            "component",
            "left",
        )
        .join(mb, "component")
        .select(
            "doc_id",
            "component",
            F.coalesce("has_base", F.lit(False)).alias("matched_base"),
            (
                ~F.coalesce("has_base", F.lit(False))
                & (F.col("doc_id") == F.col("_mb"))
            ).alias("keep"),
        )
    )


def compact_minhash_index(spark: SparkSession, path: str) -> None:
    """Fold appended labels back into bl=0, keeping the newest label
    (operators/labeled_index.py); the grams side-table is coalesced to
    bucket_parts/8 files."""
    m = read_meta(spark, path)
    MINHASH_INDEX.compact(
        spark, path, coalesce_n=max(1, m["bucket_parts"] // 8)
    )
