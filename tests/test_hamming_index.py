"""Persisted Hamming signature index (round 9) — the third index
lifecycle: probe == in-memory twin (exact recall, lossless banding),
label-replace idempotency, exclusion masking, compaction invariance,
and the streaming media gate's sequential equivalence + replay. The
signature corpus is the image-dHash rule, so these tests also bind
the media near-dup operators to the incremental surface."""

from __future__ import annotations

import os

import pytest

# Index-lifecycle e2e (build/append/compact/probe round-trips): full profile; the fast profile keeps the registry parity rows that consume the same operators.
pytestmark = pytest.mark.full
from pyspark.sql import functions as F

from firefox_public_data_report_etl_spark.operators.dedup import (
    hamming_band_pairs,
)
from firefox_public_data_report_etl_spark.operators.hamming_index import (
    append_to_hamming_index,
    build_hamming_index,
    compact_hamming_index,
    probe_hamming_index,
)
from firefox_public_data_report_etl_spark.operators.multimodal import (
    DHASH_BITS,
    NDIMG_MAX_HAMMING,
    attach_neardup_bmp_payload,
    decode_dhash,
)
from firefox_public_data_report_etl_spark.sources import load_table

GEOM = {"bits": DHASH_BITS, "max_hamming": NDIMG_MAX_HAMMING}


def _sigs(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    return decode_dhash(attach_neardup_bmp_payload(docs)).select(
        "media_id", "dhash"
    )


def _cross_twin(base, batch):
    """In-memory ground truth: banded pairs over base ∪ batch,
    restricted to cross edges (da/db normalized base→batch)."""
    all_sigs = base.unionByName(batch)
    pairs = hamming_band_pairs(
        all_sigs, id_col="media_id", sig_col="dhash", **GEOM
    )
    base_ids = {r["media_id"] for r in base.select("media_id").collect()}
    out = set()
    for r in pairs.collect():
        a_in = r["da"] in base_ids
        b_in = r["db"] in base_ids
        if a_in != b_in:
            bb, bt = (r["da"], r["db"]) if a_in else (r["db"], r["da"])
            out.add((bb, bt, r["hamming"]))
    return out


def test_probe_equals_in_memory_twin(spark, sf_dir, tmp_path):
    sigs = _sigs(spark, sf_dir).cache()
    base = sigs.filter(F.col("media_id") % 4 != 2)
    batch = sigs.filter(F.col("media_id") % 4 == 2)
    path = str(tmp_path / "hidx")
    build_hamming_index(
        base, path, id_col="media_id", sig_col="dhash", **GEOM
    )
    probe = probe_hamming_index(spark, path, batch)
    got = {
        (r["base_id"], r["batch_id"], r["hamming"])
        for r in probe.pairs.collect()
    }
    assert got == _cross_twin(base, batch)
    assert got  # the planted v2 siblings guarantee cross pairs exist
    # the touched-bucket cut must reach the scan as PARTITION filters
    import re

    plan = probe.pairs._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan
    seg = plan.split("PartitionFilters", 1)[1][:200]
    # match the column TOKENS — a bare "b" substring is vacuous
    assert re.search(r"\bb#\d", seg), seg
    assert re.search(r"\bpb#\d", seg), seg
    sigs.unpersist()


@pytest.mark.full
def test_append_then_probe_sees_appended_content(spark, sf_dir, tmp_path):
    sigs = _sigs(spark, sf_dir).cache()
    base = sigs.filter(F.col("media_id") % 4 == 0)
    b1 = sigs.filter(F.col("media_id") % 4 == 1)
    batch = sigs.filter(F.col("media_id") % 4 == 2)
    path = str(tmp_path / "hidx")
    build_hamming_index(
        base, path, id_col="media_id", sig_col="dhash", **GEOM
    )
    append_to_hamming_index(spark, path, b1, 1)
    got = {
        (r["base_id"], r["batch_id"], r["hamming"])
        for r in probe_hamming_index(spark, path, batch).pairs.collect()
    }
    assert got == _cross_twin(base.unionByName(b1), batch)
    # exclusion masks the appended label back out
    masked = {
        (r["base_id"], r["batch_id"], r["hamming"])
        for r in probe_hamming_index(
            spark, path, batch, exclude_label=1
        ).pairs.collect()
    }
    assert masked == _cross_twin(base, batch)
    sigs.unpersist()


@pytest.mark.full
def test_append_replaces_label_and_guards(spark, sf_dir, tmp_path):
    sigs = _sigs(spark, sf_dir).cache()
    path = str(tmp_path / "hidx")
    build_hamming_index(
        sigs.filter(F.col("media_id") % 4 == 0), path,
        id_col="media_id", sig_col="dhash", **GEOM,
    )
    wide = sigs.filter(F.col("media_id") % 4 == 1)
    narrow = wide.filter(F.col("media_id") % 8 == 1)
    append_to_hamming_index(spark, path, wide, 1)
    append_to_hamming_index(spark, path, narrow, 1)  # shrunken retry
    ids = {
        r["media_id"]
        for r in spark.read.parquet(f"{path}/bands")
        .filter(F.col("bl") == 1)
        .select("media_id")
        .distinct()
        .collect()
    }
    assert ids == {
        r["media_id"] for r in narrow.select("media_id").collect()
    }
    with pytest.raises(ValueError, match="reserved"):
        append_to_hamming_index(spark, path, narrow, 0)
    sigs.unpersist()


@pytest.mark.full
def test_compaction_preserves_probe_and_newest_label(
    spark, sf_dir, tmp_path
):
    sigs = _sigs(spark, sf_dir).cache()
    path = str(tmp_path / "hidx")
    build_hamming_index(
        sigs.filter(F.col("media_id") % 8 == 0), path,
        id_col="media_id", sig_col="dhash", **GEOM,
    )
    for lb, m in ((1, 1), (2, 3), (3, 5)):
        append_to_hamming_index(
            spark, path, sigs.filter(F.col("media_id") % 8 == m), lb
        )
    batch = sigs.filter(F.col("media_id") % 8 == 2)
    before = {
        (r["base_id"], r["batch_id"], r["hamming"])
        for r in probe_hamming_index(spark, path, batch).pairs.collect()
    }
    n_files_before = sum(len(fs) for _, _, fs in os.walk(f"{path}/bands"))
    compact_hamming_index(spark, path)
    labels = {
        r["bl"]
        for r in spark.read.parquet(f"{path}/bands")
        .select("bl").distinct().collect()
    }
    assert labels == {0, 3}
    after = {
        (r["base_id"], r["batch_id"], r["hamming"])
        for r in probe_hamming_index(spark, path, batch).pairs.collect()
    }
    assert after == before
    assert sum(
        len(fs) for _, _, fs in os.walk(f"{path}/bands")
    ) < n_files_before
    assert not os.path.exists(f"{path}/bands__compact")
    assert not os.path.exists(f"{path}/bands__old")
    sigs.unpersist()


@pytest.mark.full
def test_compaction_recovers_interrupted_swap(spark, sf_dir, tmp_path):
    """The exact crash window the swap protocol exists for: src moved
    aside, stage not yet moved in. The next compaction run must
    self-heal BEFORE reading labels (review fix: the first cut listed
    labels from the missing src and raised) and end bit-identical."""
    import shutil

    sigs = _sigs(spark, sf_dir).cache()
    path = str(tmp_path / "hidx")
    build_hamming_index(
        sigs.filter(F.col("media_id") % 4 == 0), path,
        id_col="media_id", sig_col="dhash", **GEOM,
    )
    append_to_hamming_index(
        spark, path, sigs.filter(F.col("media_id") % 4 == 1), 1
    )
    batch = sigs.filter(F.col("media_id") % 4 == 2)
    before = {
        (r["base_id"], r["batch_id"], r["hamming"])
        for r in probe_hamming_index(spark, path, batch).pairs.collect()
    }
    # simulate the mid-swap crash: live table moved aside, no stage
    shutil.move(f"{path}/bands", f"{path}/bands__old")
    compact_hamming_index(spark, path)  # must self-heal, then compact
    after = {
        (r["base_id"], r["batch_id"], r["hamming"])
        for r in probe_hamming_index(spark, path, batch).pairs.collect()
    }
    assert after == before
    sigs.unpersist()


def test_index_is_modality_agnostic_audio(spark, sf_dir, tmp_path):
    """The index stores its id/sig column names and geometry in meta,
    so the AUDIO fingerprint family runs through the same lifecycle
    unchanged — probe == in-memory cross twin on afp signatures."""
    from firefox_public_data_report_etl_spark.operators.multimodal import (
        NDAUD_BITS,
        NDAUD_MAX_HAMMING,
        attach_neardup_wav_payload,
        decode_audio_fingerprint,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id").limit(200)
    sigs = decode_audio_fingerprint(
        attach_neardup_wav_payload(docs)
    ).select("media_id", "afp").cache()
    base = sigs.filter(F.col("media_id") % 4 != 1)
    batch = sigs.filter(F.col("media_id") % 4 == 1)
    path = str(tmp_path / "aidx")
    geom = {"bits": NDAUD_BITS, "max_hamming": NDAUD_MAX_HAMMING}
    build_hamming_index(
        base, path, id_col="media_id", sig_col="afp", **geom
    )
    got = {
        (r["base_id"], r["batch_id"], r["hamming"])
        for r in probe_hamming_index(spark, path, batch).pairs.collect()
    }
    all_sigs = base.unionByName(batch)
    pairs = hamming_band_pairs(
        all_sigs, id_col="media_id", sig_col="afp", **geom
    )
    base_ids = {r["media_id"] for r in base.select("media_id").collect()}
    want = set()
    for r in pairs.collect():
        if (r["da"] in base_ids) != (r["db"] in base_ids):
            bb, bt = (
                (r["da"], r["db"]) if r["da"] in base_ids
                else (r["db"], r["da"])
            )
            want.add((bb, bt, r["hamming"]))
    assert got == want
    # the planted time-shifted siblings guarantee matches exist
    assert got
    sigs.unpersist()


def test_video_vote_against_persisted_index(spark, sf_dir, tmp_path):
    """Incremental video near-dup: v0 clips' frame hashes land in the
    index; probing with the sibling clips must vote the planted
    structure (re-encode 8/8, re-edit 7/8, unrelated absent)."""
    from firefox_public_data_report_etl_spark.operators.multimodal import (
        DHASH_BITS,
        NDVID_FRAMES,
        NDVID_MAX_HAMMING,
        decode_frame_dhash,
        video_neardup_against_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id").limit(100)
    frames = docs.select(
        F.col("doc_id").alias("video_id"),
        F.explode(F.sequence(F.lit(0), F.lit(NDVID_FRAMES - 1))).alias(
            "frame_idx"
        ),
    )
    fh = decode_frame_dhash(frames).cache()
    fid = F.col("video_id") * NDVID_FRAMES + F.col("frame_idx")
    base = fh.filter(F.col("video_id") % 4 == 0).select(
        fid.alias("fid"), "fhash"
    )
    path = str(tmp_path / "vidx")
    build_hamming_index(
        base, path, id_col="fid", sig_col="fhash",
        bits=DHASH_BITS, max_hamming=NDVID_MAX_HAMMING,
    )
    batch = fh.filter(F.col("video_id") % 4 != 0)
    votes = {
        (r["base_video"], r["batch_video"]): r["n_matched"]
        for r in video_neardup_against_index(spark, path, batch).pairs.collect()
    }
    n_groups = 100 // 4
    assert len(votes) == 2 * n_groups  # v1 and v2 per group, no v3
    for g in range(n_groups):
        v0 = 4 * g
        assert votes[(v0, v0 + 1)] == NDVID_FRAMES
        assert votes[(v0, v0 + 2)] == NDVID_FRAMES - 1
        assert (v0, v0 + 3) not in votes
    fh.unpersist()


@pytest.mark.full
def test_streaming_video_gate_sequential_equivalence_and_replay(
    spark, sf_dir, tmp_path
):
    """The video gate: 3-wave clip backfill against a v0-only index —
    every clip decided once, re-encode/re-edit siblings matched and
    dropped, unrelated clips kept, sequential-equivalent, replay-safe."""
    from firefox_public_data_report_etl_spark.operators.multimodal import (
        DHASH_BITS,
        NDVID_FRAMES,
        NDVID_MAX_HAMMING,
        decode_frame_dhash,
    )
    from firefox_public_data_report_etl_spark.streaming.videogate import (
        stream_video_gate,
        video_gate_batch,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id").limit(120)
    frames = docs.select(
        F.col("doc_id").alias("video_id"),
        F.explode(F.sequence(F.lit(0), F.lit(NDVID_FRAMES - 1))).alias(
            "frame_idx"
        ),
    )
    fh = decode_frame_dhash(frames).cache()
    fid = F.col("video_id") * NDVID_FRAMES + F.col("frame_idx")
    base = fh.filter(F.col("video_id") % 4 == 0).select(
        fid.alias("fid"), "fhash"
    )
    index = str(tmp_path / "vidx")
    decisions = str(tmp_path / "dec")
    build_hamming_index(
        base, index, id_col="fid", sig_col="fhash",
        bits=DHASH_BITS, max_hamming=NDVID_MAX_HAMMING,
    )
    stream_frames = fh.filter(F.col("video_id") % 4 != 0)
    src = tmp_path / "src"
    # one file per wave, clips never split across files (repartition
    # BY video_id then write per-range): write 3 explicit slices
    for i in range(3):
        stream_frames.filter(
            (F.col("video_id") % 3 == i)
        ).coalesce(1).write.mode("append").parquet(str(src))
    stream = (
        spark.readStream.schema(stream_frames.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_video_gate(stream, index, decisions, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    rows = {
        r["video_id"]: (r["matched_base"], r["keep"], r["batch_label"])
        for r in spark.read.parquet(decisions).collect()
    }
    want_ids = {
        r["video_id"]
        for r in stream_frames.select("video_id").distinct().collect()
    }
    assert set(rows) == want_ids
    labels = sorted({v[2] for v in rows.values()})
    assert len(labels) == 3
    for vid, (matched, keep, _) in rows.items():
        if vid % 4 in (1, 2):  # planted siblings of indexed v0 clips
            assert matched and not keep, vid
        else:  # v3 negatives
            assert not matched and keep, vid

    # sequential batch-mode equivalence
    index2 = str(tmp_path / "vidx2")
    decisions2 = str(tmp_path / "dec2")
    build_hamming_index(
        base, index2, id_col="fid", sig_col="fhash",
        bits=DHASH_BITS, max_hamming=NDVID_MAX_HAMMING,
    )
    for lb in labels:
        ids = [v for v, r in rows.items() if r[2] == lb]
        video_gate_batch(
            spark,
            stream_frames.filter(F.col("video_id").isin(ids)),
            index2,
            decisions2,
            lb - 1,
        )
    rows2 = {
        r["video_id"]: (r["matched_base"], r["keep"], r["batch_label"])
        for r in spark.read.parquet(decisions2).collect()
    }
    assert rows2 == rows

    # crash-retry replay of the last epoch
    last = labels[-1]
    ids = [v for v, r in rows.items() if r[2] == last]
    video_gate_batch(
        spark,
        stream_frames.filter(F.col("video_id").isin(ids)),
        index,
        decisions,
        last - 1,
    )
    rows3 = {
        r["video_id"]: (r["matched_base"], r["keep"], r["batch_label"])
        for r in spark.read.parquet(decisions).collect()
    }
    assert rows3 == rows
    fh.unpersist()


@pytest.mark.full
def test_streaming_media_gate_sequential_equivalence_and_replay(
    spark, sf_dir, tmp_path
):
    """3-file signature backfill through the media gate: every item
    decided once, equal to a sequential batch-mode run, replay-safe,
    and the planted image siblings of indexed content are caught."""
    from firefox_public_data_report_etl_spark.streaming.mediagate import (
        media_gate_batch,
        stream_media_gate,
    )

    sigs = _sigs(spark, sf_dir).cache()
    base = sigs.filter(F.col("media_id") % 4 == 0)  # every v0
    stream_sigs = sigs.filter(F.col("media_id") % 4 != 0)
    src = tmp_path / "src"
    stream_sigs.repartition(3).write.parquet(str(src))

    index = str(tmp_path / "index")
    decisions = str(tmp_path / "decisions")
    build_hamming_index(
        base, index, id_col="media_id", sig_col="dhash", **GEOM
    )

    stream = (
        spark.readStream.schema(stream_sigs.schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src))
    )
    q = stream_media_gate(stream, index, decisions, str(tmp_path / "ckpt"))
    q.awaitTermination(180)

    rows = {
        r["media_id"]: (r["component"], r["matched_base"], r["keep"],
                        r["batch_label"])
        for r in spark.read.parquet(decisions).collect()
    }
    want_ids = {
        r["media_id"] for r in stream_sigs.select("media_id").collect()
    }
    assert set(rows) == want_ids
    labels = sorted({v[3] for v in rows.values()})
    assert len(labels) == 3

    # every v1/v2 sibling of an indexed v0 must be matched_base and
    # dropped; every v3 negative kept
    for mid, (comp, matched, keep, _) in rows.items():
        if mid % 4 in (1, 2):
            assert matched and not keep, mid
        else:
            assert not matched and keep, mid

    # sequential batch-mode equivalence
    index2 = str(tmp_path / "index2")
    decisions2 = str(tmp_path / "decisions2")
    build_hamming_index(
        base, index2, id_col="media_id", sig_col="dhash", **GEOM
    )
    for lb in labels:
        ids = [m for m, v in rows.items() if v[3] == lb]
        media_gate_batch(
            spark,
            stream_sigs.filter(F.col("media_id").isin(ids)),
            index2,
            decisions2,
            lb - 1,
        )
    rows2 = {
        r["media_id"]: (r["component"], r["matched_base"], r["keep"],
                        r["batch_label"])
        for r in spark.read.parquet(decisions2).collect()
    }
    assert rows2 == rows

    # crash-retry replay of the last epoch
    last = labels[-1]
    ids = [m for m, v in rows.items() if v[3] == last]
    media_gate_batch(
        spark,
        stream_sigs.filter(F.col("media_id").isin(ids)),
        index,
        decisions,
        last - 1,
    )
    rows3 = {
        r["media_id"]: (r["component"], r["matched_base"], r["keep"],
                        r["batch_label"])
        for r in spark.read.parquet(decisions).collect()
    }
    assert rows3 == rows
    sigs.unpersist()
