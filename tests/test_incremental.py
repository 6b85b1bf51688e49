"""Incremental cross-corpus dedup (operators/incremental.py): the
persisted signature index must be a pure storage layer — probing it
returns EXACTLY the in-memory band-join's pairs, which in turn must
equal a full from-scratch recompute restricted to batch-touching
pairs — and the probe's index scan must plan a (bi, pb) partition
filter that actually prunes files."""

from __future__ import annotations

import pytest

# Index-lifecycle e2e: full profile (see test_hamming_index note).
pytestmark = pytest.mark.full

from pyspark.sql import functions as F

from firefox_public_data_report_etl_spark.operators.dedup import (
    gram_hash_arrays,
    minhash_band_rows,
    minhash_lsh_pairs_arr,
)
from firefox_public_data_report_etl_spark.operators.incremental import (
    build_minhash_index,
    cross_pairs_against_bands,
    incremental_decisions,
    probe_minhash_index,
)
from firefox_public_data_report_etl_spark.plans.dedup import (
    BATCH_MOD,
    JACCARD_THRESHOLD,
)
from firefox_public_data_report_etl_spark.sources import load_table


def _split(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % BATCH_MOD != 0)
    batch = docs.filter(F.col("doc_id") % BATCH_MOD == 0)
    return docs, gram_hash_arrays(base).cache(), gram_hash_arrays(batch).cache()


def _pairset(df):
    return {
        (r["base_id"], r["batch_id"], round(r["jaccard"], 12))
        for r in df.collect()
    }


def test_indexed_probe_matches_in_memory_and_full_recompute(
    spark, sf_dir, tmp_path
):
    docs, base_hs, batch_hs = _split(spark, sf_dir)
    path = str(tmp_path / "mh_index")
    build_minhash_index(base_hs, path)

    got = _pairset(probe_minhash_index(spark, path, batch_hs))
    mem = _pairset(
        cross_pairs_against_bands(
            minhash_band_rows(base_hs), minhash_band_rows(batch_hs)
        )
    )
    assert got == mem and got  # storage layer changes nothing

    # full recompute over base ∪ batch, restricted to batch-touching
    # pairs, must discover the same cross pairs (plus the within-batch
    # pairs the incremental path computes separately)
    full = minhash_lsh_pairs_arr(gram_hash_arrays(docs))
    full_cross = set()
    full_within = set()
    for r in full.collect():
        da_b, db_b = r["da"] % BATCH_MOD == 0, r["db"] % BATCH_MOD == 0
        j = round(r["jaccard"], 12)
        if da_b and db_b:
            full_within.add((r["da"], r["db"], j))
        elif da_b:
            full_cross.add((r["db"], r["da"], j))  # (base, batch)
        elif db_b:
            full_cross.add((r["da"], r["db"], j))
    assert got == full_cross
    within = {
        (r["da"], r["db"], round(r["jaccard"], 12))
        for r in minhash_lsh_pairs_arr(batch_hs).collect()
    }
    assert within == full_within


def test_probe_scan_is_partition_pruned(spark, sf_dir, tmp_path):
    _, base_hs, batch_hs = _split(spark, sf_dir)
    path = str(tmp_path / "mh_index")
    build_minhash_index(base_hs, path)
    meta = spark.read.parquet(f"{path}/meta").head()
    batch_bands = minhash_band_rows(batch_hs).withColumn(
        "pb", F.pmod(F.col("bv"), F.lit(meta["bucket_parts"]))
    )
    touched = {
        (r["bi"], r["pb"])
        for r in batch_bands.select("bi", "pb").distinct().collect()
    }
    full = spark.read.parquet(f"{path}/bands")
    all_parts = {
        (r["bi"], r["pb"])
        for r in full.select("bi", "pb").distinct().collect()
    }
    # the batch occupies a strict subset of the index's partitions
    # (sparse 15-bit band values over 64 residues)
    assert touched & all_parts and (all_parts - touched)

    from functools import reduce

    by_band: dict[int, list[int]] = {}
    for bi, pb in sorted(touched):
        by_band.setdefault(bi, []).append(pb)
    cond = reduce(
        lambda x, y: x | y,
        [
            (F.col("bi") == bi) & F.col("pb").isin(pbs)
            for bi, pbs in sorted(by_band.items())
        ],
    )
    pruned = full.filter(cond)
    files_full = full.select(F.input_file_name()).distinct().count()
    files_pruned = pruned.select(F.input_file_name()).distinct().count()
    assert 0 < files_pruned < files_full
    # the FileScan metadata line truncates at 100 chars by default,
    # swallowing the PartitionFilters entry behind the OR chain —
    # widen it for the assertion only
    old = spark.conf.get("spark.sql.maxMetadataStringLength")
    try:
        spark.conf.set("spark.sql.maxMetadataStringLength", "262144")
        plan = pruned._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set("spark.sql.maxMetadataStringLength", old)
    assert "PartitionFilters" in plan
    tail = plan.split("PartitionFilters", 1)[1]
    assert "bi" in tail[:500] and "pb" in tail[:500]


def test_decisions_semantics_on_synthetic_graph(spark):
    # base 1 — batch 4 (cross dup): 4 dropped, matched_base
    # batch 8 — batch 12 (new-content dup pair): keep 8, drop 12
    # batch 16 isolated: keep
    cross = spark.createDataFrame(
        [(1, 4, 0.9)], "base_id long, batch_id long, jaccard double"
    )
    within = spark.createDataFrame(
        [(8, 12, 0.8)], "da long, db long, jaccard double"
    )
    batch_ids = spark.createDataFrame(
        [(4,), (8,), (12,), (16,)], "doc_id long"
    )
    rows = {
        r["doc_id"]: (r["component"], r["matched_base"], r["keep"])
        for r in incremental_decisions(batch_ids, cross, within).collect()
    }
    assert rows == {
        4: (1, True, False),
        8: (8, False, True),
        12: (8, False, False),
        16: (16, False, True),
    }


@pytest.mark.full
def test_append_then_probe_equals_union_index(spark, sf_dir, tmp_path):
    """Weekly lifecycle: build on base, dedup batch1, append batch1's
    KEPT docs, probe batch2 — must equal an in-memory cross against
    the (base ∪ kept-batch1) band set. Re-running the append (crash
    retry) must be a no-op: same probe results, no duplicate pairs."""
    from firefox_public_data_report_etl_spark.operators.incremental import (
        append_to_minhash_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 4 == 1)
    batch1 = docs.filter(F.col("doc_id") % 4 == 2)
    batch2 = docs.filter(F.col("doc_id") % 4 == 0)
    base_hs = gram_hash_arrays(base).cache()
    b1_hs = gram_hash_arrays(batch1).cache()
    b2_hs = gram_hash_arrays(batch2).cache()

    path = str(tmp_path / "mh_index")
    build_minhash_index(base_hs, path)
    cross1 = probe_minhash_index(spark, path, b1_hs).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    within1 = minhash_lsh_pairs_arr(b1_hs).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    dec1 = incremental_decisions(batch1.select("doc_id"), cross1, within1)
    kept1 = [r["doc_id"] for r in dec1.filter("keep").collect()]
    assert kept1  # the planted corpus keeps most of the batch

    kept1_hs = b1_hs.filter(F.col("doc_id").isin(kept1)).cache()
    append_to_minhash_index(spark, path, kept1_hs, batch_label=1)

    got = _pairset(probe_minhash_index(spark, path, b2_hs))
    want = _pairset(
        cross_pairs_against_bands(
            minhash_band_rows(base_hs.unionByName(kept1_hs)),
            minhash_band_rows(b2_hs),
        )
    )
    assert got == want and got

    # crash-retry idempotency: appending the same label again changes
    # nothing (dynamic overwrite replaces, never double-inserts)
    append_to_minhash_index(spark, path, kept1_hs, batch_label=1)
    assert _pairset(probe_minhash_index(spark, path, b2_hs)) == want

    import pytest

    with pytest.raises(ValueError):
        append_to_minhash_index(spark, path, kept1_hs, batch_label=0)


@pytest.mark.full
def test_compaction_preserves_probe_and_cuts_files(spark, sf_dir, tmp_path):
    from firefox_public_data_report_etl_spark.operators.incremental import (
        append_to_minhash_index,
        compact_minhash_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    base_hs = gram_hash_arrays(docs.filter(F.col("doc_id") % 4 == 1)).cache()
    b1_hs = gram_hash_arrays(docs.filter(F.col("doc_id") % 4 == 2)).cache()
    b2_hs = gram_hash_arrays(docs.filter(F.col("doc_id") % 4 == 3)).cache()
    probe_hs = gram_hash_arrays(docs.filter(F.col("doc_id") % 4 == 0)).cache()

    path = str(tmp_path / "mh_index")
    build_minhash_index(base_hs, path)
    append_to_minhash_index(spark, path, b1_hs, 1)
    append_to_minhash_index(spark, path, b2_hs, 2)

    before = _pairset(probe_minhash_index(spark, path, probe_hs))
    files_before = (
        spark.read.parquet(f"{path}/bands")
        .select(F.input_file_name()).distinct().count()
    )
    compact_minhash_index(spark, path)
    after = _pairset(probe_minhash_index(spark, path, probe_hs))
    files_after = (
        spark.read.parquet(f"{path}/bands")
        .select(F.input_file_name()).distinct().count()
    )
    assert after == before and after
    assert files_after < files_before
    # compacted index accepts further appends (labels free again)
    append_to_minhash_index(spark, path, b1_hs, 1)


@pytest.mark.full
def test_compaction_preserves_latest_label_for_replay(
    spark, sf_dir, tmp_path
):
    """Review fix (r7 advisor, medium): compaction must keep the
    NEWEST appended label uncompacted so the streaming gate's
    ``exclude_label`` replay masking survives a compaction that runs
    between a crashed append and the restart. Folding everything into
    bl=0 made a replayed batch match its own signatures and drop
    every doc as matched_base."""
    from firefox_public_data_report_etl_spark.operators.incremental import (
        append_to_minhash_index,
        compact_minhash_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    base_hs = gram_hash_arrays(docs.filter(F.col("doc_id") % 4 == 1)).cache()
    b1_hs = gram_hash_arrays(docs.filter(F.col("doc_id") % 4 == 2)).cache()
    b2_hs = gram_hash_arrays(docs.filter(F.col("doc_id") % 4 == 3)).cache()

    path = str(tmp_path / "mh_index")
    build_minhash_index(base_hs, path)
    append_to_minhash_index(spark, path, b1_hs, 1)
    append_to_minhash_index(spark, path, b2_hs, 2)  # crashed epoch's append
    compact_minhash_index(spark, path)

    labels = {
        r["bl"]
        for r in spark.read.parquet(f"{path}/bands")
        .select("bl").distinct().collect()
    }
    assert labels == {0, 2}  # label 1 folded, latest label preserved

    # the replayed epoch probes itself with its own label excluded —
    # must see exactly the pre-batch index state (base ∪ batch1)
    got = _pairset(
        probe_minhash_index(spark, path, b2_hs, exclude_label=2)
    )
    want = _pairset(
        cross_pairs_against_bands(
            minhash_band_rows(base_hs.unionByName(b1_hs)),
            minhash_band_rows(b2_hs),
        )
    )
    assert got == want
    # in particular: no self-matches leaked back in via bl=0
    assert not any(b == a for a, b, _ in got)


def test_index_write_restores_overwrite_mode_conf(spark, sf_dir, tmp_path):
    """Review fix (r7 advisor): the index writer pins
    partitionOverwriteMode=static for its own writes but must not
    leak that session-wide (later dynamic overwrites would silently
    become whole-table replaces)."""
    docs = load_table(spark, sf_dir, "documents")
    hs = gram_hash_arrays(docs.filter(F.col("doc_id") % 16 == 1)).cache()
    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    try:
        spark.conf.set(key, "dynamic")
        build_minhash_index(hs, str(tmp_path / "mh_conf_idx"))
        assert spark.conf.get(key) == "dynamic"
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


@pytest.mark.full
def test_append_label_reuse_fully_replaces_slice(spark, sf_dir, tmp_path):
    """Review fix regression: re-appending a LIVE label with a
    DIFFERENT doc set must fully replace the slice — under the old
    dynamic-overwrite append, stale band rows survived in leaves the
    new batch didn't touch (silently un-indexed docs)."""
    from firefox_public_data_report_etl_spark.operators.incremental import (
        append_to_minhash_index,
    )

    docs = load_table(spark, sf_dir, "documents")
    base_hs = gram_hash_arrays(docs.filter(F.col("doc_id") % 4 == 1)).cache()
    b_full = gram_hash_arrays(docs.filter(F.col("doc_id") % 4 == 2)).cache()
    # "different batch under the same label": a small subset
    b_small = b_full.filter(F.col("doc_id") % 8 == 2).cache()
    probe_hs = gram_hash_arrays(docs.filter(F.col("doc_id") % 4 == 0)).cache()

    path = str(tmp_path / "mh_index")
    build_minhash_index(base_hs, path)
    append_to_minhash_index(spark, path, b_full, 1)
    append_to_minhash_index(spark, path, b_small, 1)  # label reuse

    got = _pairset(probe_minhash_index(spark, path, probe_hs))
    want = _pairset(
        cross_pairs_against_bands(
            minhash_band_rows(base_hs.unionByName(b_small)),
            minhash_band_rows(probe_hs),
        )
    )
    assert got == want  # nothing from b_full's extra docs survives
