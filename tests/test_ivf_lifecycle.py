"""IVF index lifecycle (round 9, r8 verdict #3): append / compaction
/ streaming-ingestion parity with the MinHash signature index. The
contracts pinned here mirror tests/test_incremental.py and the
streaming neardup gate test: probe==twin equality after appends,
label-replace idempotency, newest-label-preserving compaction with
unchanged search results, partition-pruned label exclusion, and the
streaming gate's sequential-equivalence + replay safety."""

from __future__ import annotations

import os

import pytest

# Index-lifecycle e2e: full profile (see test_hamming_index note).
pytestmark = pytest.mark.full
from pyspark.sql import functions as F

from firefox_public_data_report_etl_spark.operators.ivf_lifecycle import (
    append_to_ivf_index,
    compact_ivf_index,
)
from firefox_public_data_report_etl_spark.operators.similarity import quantized
from firefox_public_data_report_etl_spark.operators.vectorized import (
    build_ivf_index,
    search_ivf_index,
)
from firefox_public_data_report_etl_spark.sources import load_table

CMOD, K, NPROBE = 50, 3, 2


def _emb(spark, sf_dir):
    return quantized(load_table(spark, sf_dir, "embeddings"))


def _search_set(spark, path, queries, **kw):
    return {
        (r["q_id"], r["n_id"], r["rank"])
        for r in search_ivf_index(
            spark, path, queries, K, nprobe=NPROBE, **kw
        ).collect()
    }


def test_append_matches_single_build(spark, sf_dir, tmp_path):
    """base build + two appends must serve EXACTLY what one build
    over base ∪ both batches serves (same frozen codebook) — the
    storage lifecycle may not change search results."""
    emb = _emb(spark, sf_dir).cache()
    centroids = emb.filter(F.col("vec_id") % CMOD == 1)
    base = emb.filter(F.col("vec_id") % 3 == 0)
    b1 = emb.filter(F.col("vec_id") % 3 == 1)
    b2 = emb.filter(F.col("vec_id") % 3 == 2)
    queries = emb.filter(F.col("vec_id") % 100 == 0)

    inc = str(tmp_path / "inc")
    build_ivf_index(base, centroids, inc)
    append_to_ivf_index(spark, inc, b1, 1)
    append_to_ivf_index(spark, inc, b2, 2)

    full = str(tmp_path / "full")
    build_ivf_index(emb, centroids, full)

    got = _search_set(spark, inc, queries, exclude_self=True)
    want = _search_set(spark, full, queries, exclude_self=True)
    assert got and got == want
    emb.unpersist()


def test_append_replaces_label_idempotently(spark, sf_dir, tmp_path):
    """Re-appending under the same label (crash retry) must fully
    REPLACE the slice — including vectors the retry no longer
    carries — never accumulate."""
    emb = _emb(spark, sf_dir).cache()
    centroids = emb.filter(F.col("vec_id") % CMOD == 1)
    path = str(tmp_path / "idx")
    build_ivf_index(emb.filter(F.col("vec_id") % 3 == 0), centroids, path)

    wide = emb.filter(F.col("vec_id") % 3 == 1)
    narrow = wide.filter(F.col("vec_id") % 2 == 0)
    append_to_ivf_index(spark, path, wide, 1)
    append_to_ivf_index(spark, path, narrow, 1)  # shrunken retry
    slice_ids = {
        r["vec_id"]
        for r in spark.read.parquet(f"{path}/vectors")
        .filter(F.col("bl") == 1)
        .select("vec_id")
        .collect()
    }
    assert slice_ids == {r["vec_id"] for r in narrow.select("vec_id").collect()}
    emb.unpersist()


def test_append_rejects_label_zero(spark, sf_dir, tmp_path):
    emb = _emb(spark, sf_dir)
    centroids = emb.filter(F.col("vec_id") % CMOD == 1)
    path = str(tmp_path / "idx")
    build_ivf_index(emb, centroids, path)
    with pytest.raises(ValueError, match="reserved"):
        append_to_ivf_index(spark, path, emb, 0)


def test_exclude_label_prunes_and_masks(spark, sf_dir, tmp_path):
    """exclude_label must reproduce the pre-append search exactly
    (the replay mask) and must reach the scan as a partition
    filter, not a row filter."""
    emb = _emb(spark, sf_dir).cache()
    centroids = emb.filter(F.col("vec_id") % CMOD == 1)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    path = str(tmp_path / "idx")
    base = emb.filter(F.col("vec_id") % 3 == 0)
    build_ivf_index(base, centroids, path)
    before = _search_set(spark, path, queries)
    append_to_ivf_index(spark, path, emb.filter(F.col("vec_id") % 3 == 1), 1)
    masked = _search_set(spark, path, queries, exclude_label=1)
    assert masked == before

    plan = (
        spark.read.parquet(f"{path}/vectors")
        .filter(F.col("bl") != 1)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "PartitionFilters" in plan
    assert "bl" in plan.split("PartitionFilters", 1)[1][:160]
    emb.unpersist()


@pytest.mark.full
def test_compaction_preserves_results_and_newest_label(
    spark, sf_dir, tmp_path
):
    emb = _emb(spark, sf_dir).cache()
    centroids = emb.filter(F.col("vec_id") % CMOD == 1)
    queries = emb.filter(F.col("vec_id") % 100 == 0)
    path = str(tmp_path / "idx")
    build_ivf_index(emb.filter(F.col("vec_id") % 4 == 0), centroids, path)
    for lb, m in ((1, 1), (2, 2), (3, 3)):
        append_to_ivf_index(
            spark, path, emb.filter(F.col("vec_id") % 4 == m), lb
        )
    before = _search_set(spark, path, queries, exclude_self=True)
    before_masked = _search_set(
        spark, path, queries, exclude_self=True, exclude_label=3
    )
    n_files_before = sum(
        len(fs) for _, _, fs in os.walk(f"{path}/vectors")
    )
    compact_ivf_index(spark, path)
    labels = {
        r["bl"]
        for r in spark.read.parquet(f"{path}/vectors")
        .select("bl").distinct().collect()
    }
    assert labels == {0, 3}  # newest appended label survives
    after = _search_set(spark, path, queries, exclude_self=True)
    assert after == before
    n_files_after = sum(len(fs) for _, _, fs in os.walk(f"{path}/vectors"))
    assert n_files_after < n_files_before
    # replay mask still works post-compaction for the live label:
    # excluding it reproduces the same pre-label-3 view as before
    masked = _search_set(
        spark, path, queries, exclude_self=True, exclude_label=3
    )
    assert masked == before_masked
    # swap protocol leaves no debris
    assert not os.path.exists(f"{path}/vectors__compact")
    assert not os.path.exists(f"{path}/vectors__old")
    emb.unpersist()


def test_embed_gate_burst_of_identical_vectors_keeps_one(
    spark, sf_dir, tmp_path
):
    """Review-fix regression: a micro-batch containing MORE identical
    vectors than any per-query candidate cap must still collapse to
    ONE kept representative (the pre-fix top-k-then-filter ordering
    dropped within-batch edges for ids above the cap, keeping
    several)."""
    from firefox_public_data_report_etl_spark.streaming.embedgate import (
        K_MATCHES,
        embed_gate_batch,
    )

    emb = _emb(spark, sf_dir).cache()
    centroids = emb.filter(F.col("vec_id") % CMOD == 1)
    base = emb.filter(F.col("vec_id") % 7 == 1)
    index = str(tmp_path / "index")
    build_ivf_index(base, centroids, index)

    # a burst: one non-indexed vector duplicated under 2*K fresh ids
    burst_n = 2 * K_MATCHES
    seed = emb.filter(F.col("vec_id") % 7 == 0).limit(1)
    burst = seed.crossJoin(
        spark.range(burst_n).select(
            (F.col("id") + 5_000_000).alias("new_id")
        )
    ).select(F.col("new_id").alias("vec_id"), "q", "norm")
    embed_gate_batch(
        spark, burst, index, str(tmp_path / "dec"), batch_id=0
    )
    rows = {
        r["vec_id"]: r["keep"]
        for r in spark.read.parquet(str(tmp_path / "dec")).collect()
    }
    assert len(rows) == burst_n
    assert sum(rows.values()) == 1  # exactly one representative
    emb.unpersist()


@pytest.mark.full
def test_streaming_embed_gate_sequential_equivalence_and_replay(
    spark, sf_dir, tmp_path
):
    """Streaming embedding gate (streaming/embedgate.py): a 3-file
    backfill drained with maxFilesPerTrigger=1 must (a) decide every
    streamed vector exactly once, (b) equal a sequential batch-mode
    run of the SAME observed micro-batches against a fresh index,
    (c) be replay-safe (exclude_label masks the crashed attempt's
    landed append), and (d) actually gate: a planted verbatim copy
    of an indexed vector must come back matched_base."""
    from firefox_public_data_report_etl_spark.streaming.embedgate import (
        embed_gate_batch,
        stream_embed_gate,
    )

    emb = _emb(spark, sf_dir).cache()
    centroids = emb.filter(F.col("vec_id") % CMOD == 1)
    base = emb.filter(F.col("vec_id") % 4 == 1)
    # stream side: the other residues, plus planted copies of two
    # indexed vectors under fresh ids (offset keeps id spaces apart)
    stream_vecs = emb.filter(F.col("vec_id") % 4 != 1)
    planted = base.limit(2).select(
        (F.col("vec_id") + 1_000_000).alias("vec_id"), "q", "norm"
    )
    stream_vecs = stream_vecs.select("vec_id", "q", "norm").unionByName(
        planted
    )
    src = tmp_path / "src"
    stream_vecs.repartition(3).write.parquet(str(src))

    index = str(tmp_path / "index")
    decisions = str(tmp_path / "decisions")
    build_ivf_index(base, centroids, index)

    stream = (
        spark.readStream.schema(stream_vecs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_embed_gate(stream, index, decisions, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    dec = spark.read.parquet(decisions)
    rows = {
        r["vec_id"]: (r["component"], r["matched_base"], r["keep"],
                      r["batch_label"])
        for r in dec.collect()
    }
    want_ids = {r["vec_id"] for r in stream_vecs.select("vec_id").collect()}
    assert set(rows) == want_ids
    labels = sorted({v[3] for v in rows.values()})
    assert len(labels) == 3

    # (d) planted copies of indexed vectors are caught
    for r in planted.collect():
        assert rows[r["vec_id"]][1], "verbatim copy must match the index"
        assert not rows[r["vec_id"]][2]

    # (b) sequential batch-mode run of the same observed batches
    index2 = str(tmp_path / "index2")
    decisions2 = str(tmp_path / "decisions2")
    build_ivf_index(base, centroids, index2)
    for lb in labels:
        ids = [d for d, v in rows.items() if v[3] == lb]
        batch = stream_vecs.filter(F.col("vec_id").isin(ids))
        embed_gate_batch(spark, batch, index2, decisions2, lb - 1)
    rows2 = {
        r["vec_id"]: (r["component"], r["matched_base"], r["keep"],
                      r["batch_label"])
        for r in spark.read.parquet(decisions2).collect()
    }
    assert rows2 == rows

    # (c) crash-retry replay of the last epoch: identical output
    last = labels[-1]
    ids = [d for d, v in rows.items() if v[3] == last]
    batch = stream_vecs.filter(F.col("vec_id").isin(ids))
    embed_gate_batch(spark, batch, index, decisions, last - 1)
    rows3 = {
        r["vec_id"]: (r["component"], r["matched_base"], r["keep"],
                      r["batch_label"])
        for r in spark.read.parquet(decisions).collect()
    }
    assert rows3 == rows
    emb.unpersist()
