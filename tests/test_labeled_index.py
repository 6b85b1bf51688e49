"""The shared labeled-index lifecycle (operators/labeled_index.py) on
the Hadoop FileSystem API: every family runs build → append →
replayed append → compact → probe on a ``file:`` URI exactly as on a
plain path; a scheme with no FileSystem on the classpath fails before
anything is written; the BM25 stats swap heals a crash between its
renames; and no local-only store call comes back into operators/ or
streaming/."""

from __future__ import annotations

import os
import re
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from firefox_public_data_report_etl_spark.operators import (
    bm25_index,
    hamming_index,
    incremental,
    ivf_lifecycle,
    winnow_index,
)
from firefox_public_data_report_etl_spark.operators.dedup import (
    gram_hash_arrays,
)
from firefox_public_data_report_etl_spark.operators.multimodal import (
    DHASH_BITS,
    NDIMG_MAX_HAMMING,
    attach_neardup_bmp_payload,
    decode_dhash,
)
from firefox_public_data_report_etl_spark.operators.similarity import quantized
from firefox_public_data_report_etl_spark.operators.vectorized import (
    build_ivf_index,
    search_ivf_index,
)
from firefox_public_data_report_etl_spark.sources import load_table

PACKAGE = Path(__file__).resolve().parents[1] / "firefox_public_data_report_etl_spark"


def _docs(spark, sf_dir):
    return load_table(spark, sf_dir, "documents").select("doc_id", "text")


def _split(df, id_col):
    """(base, batch, probe batch) — the probe batch overlaps the
    appended batch so the result depends on the append surviving
    replay and compaction."""
    return (
        df.filter(F.col(id_col) % 4 != 0),
        df.filter(F.col(id_col) % 4 == 0),
        df.filter(F.col(id_col) % 8 == 0),
    )


def _lifecycle(spark, path, build, append, compact, data):
    base, batch, _ = data
    build(base, path)
    append(spark, path, batch, 1)
    append(spark, path, batch, 1)  # replayed append
    compact(spark, path)


def _minhash(spark, sf_dir, path):
    data = _split(gram_hash_arrays(_docs(spark, sf_dir)).cache(), "doc_id")
    _lifecycle(
        spark, path, incremental.build_minhash_index,
        incremental.append_to_minhash_index,
        incremental.compact_minhash_index, data,
    )
    out = incremental.probe_minhash_index(spark, path, data[2])
    return sorted(
        (r.base_id, r.batch_id, round(r.jaccard, 12)) for r in out.collect()
    )


def _ivf(spark, sf_dir, path):
    emb = quantized(load_table(spark, sf_dir, "embeddings")).cache()
    centroids = emb.filter(F.col("vec_id") % 50 == 1)
    data = _split(emb, "vec_id")
    _lifecycle(
        spark, path, lambda df, p: build_ivf_index(df, centroids, p),
        ivf_lifecycle.append_to_ivf_index, ivf_lifecycle.compact_ivf_index,
        data,
    )
    out = search_ivf_index(spark, path, data[2], 3, exclude_self=True)
    return sorted((r.q_id, r.n_id, r.rank) for r in out.collect())


def _hamming(spark, sf_dir, path):
    sigs = decode_dhash(
        attach_neardup_bmp_payload(_docs(spark, sf_dir).select("doc_id"))
    ).select("media_id", "dhash").cache()
    data = _split(sigs, "media_id")
    _lifecycle(
        spark, path,
        lambda df, p: hamming_index.build_hamming_index(
            df, p, id_col="media_id", sig_col="dhash", bits=DHASH_BITS,
            max_hamming=NDIMG_MAX_HAMMING,
        ),
        hamming_index.append_to_hamming_index,
        hamming_index.compact_hamming_index, data,
    )
    with hamming_index.probe_hamming_index(spark, path, data[2]) as probe:
        return sorted(tuple(r) for r in probe.pairs.collect())


def _winnow(spark, sf_dir, path):
    data = _split(_docs(spark, sf_dir), "doc_id")
    _lifecycle(
        spark, path, winnow_index.build_winnow_index,
        winnow_index.append_to_winnow_index,
        winnow_index.compact_winnow_index, data,
    )
    with winnow_index.probe_winnow_index(spark, path, data[2]) as probe:
        return sorted(tuple(r) for r in probe.pairs.collect())


def _bm25(spark, sf_dir, path):
    data = _split(_docs(spark, sf_dir), "doc_id")
    _lifecycle(
        spark, path, bm25_index.build_bm25_index,
        bm25_index.append_to_bm25_index, bm25_index.compact_bm25_index,
        data,
    )
    out = bm25_index.bm25_topk_against_index(spark, path, data[2])
    return sorted(tuple(r) for r in out.collect())


@pytest.mark.parametrize(
    "family", [_minhash, _ivf, _hamming, _winnow, _bm25],
    ids=["minhash", "ivf", "hamming", "winnow", "bm25"],
)
def test_lifecycle_on_file_uri_equals_plain_path(spark, sf_dir, tmp_path, family):
    plain = family(spark, sf_dir, str(tmp_path / "plain"))
    uri = family(spark, sf_dir, f"file:{tmp_path}/uri")
    assert uri == plain
    assert plain, "fixture must produce results"
    # the URI run landed in the real directory with the same tables
    # and row counts, and left no swap siblings behind
    counts = {
        side: {
            t: spark.read.parquet(str(tmp_path / side / t)).count()
            for t in sorted(os.listdir(tmp_path / side))
        }
        for side in ("plain", "uri")
    }
    assert counts["uri"] == counts["plain"]
    assert not [t for t in counts["uri"] if "__" in t]
    spark.catalog.clearCache()


def test_scheme_without_filesystem_fails_before_writing(
    spark, sf_dir, tmp_path, monkeypatch
):
    monkeypatch.chdir(tmp_path)
    hs = gram_hash_arrays(_docs(spark, sf_dir).filter(F.col("doc_id") < 8))
    with pytest.raises(Exception, match="s3a"):
        incremental.append_to_minhash_index(spark, "s3a://bucket/idx", hs, 1)
    # a local-path interpretation would have created ./s3a:/...
    assert os.listdir(tmp_path) == []


def test_bm25_stats_swap_crash_heals(spark, sf_dir, tmp_path):
    """A crash inside the stats rewrite — live stats moved aside, a
    partial stage left — must not break later probes: the probe's
    recovery preamble moves the old stats back, and a replayed append
    heals the same way."""
    base, batch, queries = _split(_docs(spark, sf_dir), "doc_id")
    path = str(tmp_path / "bm25")
    bm25_index.build_bm25_index(base, path)
    bm25_index.append_to_bm25_index(spark, path, batch, 1)

    def probe():
        out = bm25_index.bm25_topk_against_index(spark, path, queries)
        return sorted(tuple(r) for r in out.collect())

    def crash():
        os.rename(f"{path}/stats", f"{path}/stats__old")
        os.makedirs(f"{path}/stats__compact")
        Path(f"{path}/stats__compact/part-00000.parquet").write_bytes(b"x")

    want = probe()
    assert want
    crash()
    assert probe() == want
    crash()
    bm25_index.append_to_bm25_index(spark, path, batch, 1)
    assert probe() == want
    assert sorted(os.listdir(path)) == ["meta", "postings", "stats"]


def test_no_local_only_store_calls():
    """Stores in operators/ and streaming/ go through the Hadoop
    FileSystem helpers (sources/tables.py); local-only calls would
    silently misbehave on any other scheme."""
    banned = re.compile(r"\bshutil\b|\bos\.rename\b|\bos\.path\.exists\b|\bpathlib\b")
    hits = [
        f"{p.relative_to(PACKAGE)}:{n}: {line.strip()}"
        for sub in ("operators", "streaming")
        for p in sorted((PACKAGE / sub).glob("*.py"))
        for n, line in enumerate(p.read_text().splitlines(), 1)
        if banned.search(line)
    ]
    assert hits == []
