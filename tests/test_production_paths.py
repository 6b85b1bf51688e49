"""Exactness tests for the dedup pair joins: SimHash banding, prefix
filtering and containment against their brute-force forms, the
xxhash64-keyed boilerplate scorer against its raw-string DuckDB
oracle, and the group-aware split against the near-dup pair set.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from firefox_public_data_report_etl_spark.operators.dedup import (
    shingle_rows,
    simhash_signatures,
)
from firefox_public_data_report_etl_spark.sources import load_table
from firefox_public_data_report_etl_spark.testing import check_query


@pytest.mark.parametrize(
    "n_blocks", [None, 6], ids=["parity60-registry", "parity60-manku-C(6,3)"]
)
def test_simhash_pairs_banding_is_lossless(spark, sf_dir, n_blocks):
    """The combination-block join must recover EXACTLY the brute-force
    all-pairs Hamming ≤ k set — blocking is a candidate filter, never
    a recall trade-off (unlike MinHash banding). The property is
    layout-agnostic, so one test pins the registry form (k+1
    pigeonhole bands) and the Manku-style C(6,3) wide-key layout."""
    from firefox_public_data_report_etl_spark.operators.dedup import (
        simhash_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    got = {
        (r["da"], r["db"], r["hamming"])
        for r in simhash_pairs(
            docs,
            max_hamming=3,
            bits=60,
            n_blocks=n_blocks,
        ).collect()
    }
    sims = {
        r["doc_id"]: r["simhash"]
        for r in simhash_signatures(docs, bits=60).collect()
    }
    ids = sorted(sims)
    brute = set()
    for i, a in enumerate(ids):
        for b in ids[i + 1 :]:
            h = bin(sims[a] ^ sims[b]).count("1")
            if h <= 3:
                brute.add((a, b, h))
    assert brute
    assert got == brute


def test_boilerplate_xxhash64_agrees_with_raw(spark, sf_dir):
    """``boilerplate_scores`` keys both shuffles by ``xxhash64(gram)``;
    the DuckDB oracle keys by the raw gram string. The registry row
    must still match the oracle exactly (64-bit collisions are ~never
    at corpus size), and must flag some boilerplate so the compare is
    not vacuous."""
    from firefox_public_data_report_etl_spark.plans.text import (
        corpus_boilerplate,
    )

    assert not check_query(spark, "corpus_boilerplate", sf_dir)
    rows = corpus_boilerplate(spark, sf_dir).collect()
    assert any(r["n_boiler"] > 0 for r in rows)


def test_prefix_filter_equals_brute_force(spark, sf_dir):
    """Prefix filtering is lossless by theorem (PPJoin Lemma 1); this
    pins it empirically — the exact thresholded pair set must equal
    the all-pairs baseline, including the Jaccard values. Runs at two
    thresholds so the prefix-length formula is exercised off the
    planted-dup sweet spot too."""
    from firefox_public_data_report_etl_spark.operators.dedup import (
        all_pairs_jaccard,
        prefix_filter_pairs,
    )
    from firefox_public_data_report_etl_spark.sources import load_table

    from firefox_public_data_report_etl_spark.operators.dedup import (
        gram_hash_arrays,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(docs).cache()
    hs = gram_hash_arrays(docs)
    for t in (0.5, 0.3, 0.9):
        brute = {
            (r.da, r.db, round(r.jaccard, 9))
            for r in all_pairs_jaccard(sh)
            .filter(F.col("jaccard") >= t)
            .collect()
        }
        pf = {
            (r.da, r.db, round(r.jaccard, 9))
            for r in prefix_filter_pairs(hs, t).collect()
        }
        assert pf == brute and brute


def test_positional_filter_keeps_exact_threshold_pair(spark):
    """The PPJoin positional filter's overlap upper bound holds with
    EQUALITY for a pair at exactly J = t: here |A∩B| = 2 and the bound
    min(na−ia, nb−ib) at the first common prefix token is also 2, so a
    float comparison without the conservative slack could prune a true
    boundary pair. Constructed on raw (id, hs, n) rows: A={10,11,12},
    B={10,11,13} → J = 2/4 = 0.5 at t = 0.5; rarest-first order puts
    the unique token first and the shared tokens at positions 1–2 of
    each prefix."""
    from firefox_public_data_report_etl_spark.operators.dedup import (
        prefix_filter_pairs,
    )

    hs = spark.createDataFrame(
        [(1, [10, 11, 12], 3), (2, [10, 11, 13], 3)],
        "doc_id INT, hs ARRAY<BIGINT>, n INT",
    )
    got = {
        (r.da, r.db, round(r.jaccard, 9))
        for r in prefix_filter_pairs(hs, 0.5, "doc_id").collect()
    }
    assert got == {(1, 2, 0.5)}


def test_containment_detects_excerpts_jaccard_misses(spark):
    """A 30-token excerpt of a 200-token doc: containment(excerpt,
    base) = 1.0 while Jaccard ≈ 0.14 — the directed join finds it, the
    symmetric threshold can't. Also pins the one-sided prefix filter's
    exactness: no (base, excerpt) direction, no third-doc pairs."""
    from firefox_public_data_report_etl_spark.operators.dedup import (
        containment_pairs,
    )

    base = " ".join(f"w{i}" for i in range(200))
    excerpt = " ".join(f"w{i}" for i in range(50, 80))
    other = " ".join(f"z{i}" for i in range(100))
    docs = spark.createDataFrame(
        [(1, base), (2, excerpt), (3, other)], ["doc_id", "text"]
    )
    from firefox_public_data_report_etl_spark.operators.dedup import (
        gram_hash_arrays,
    )

    got = {
        (r.da, r.db, round(r.containment, 9))
        for r in containment_pairs(gram_hash_arrays(docs), 0.8).collect()
    }
    assert got == {(2, 1, 1.0)}


def test_containment_equals_brute_force(spark, sf_dir):
    """Directed-containment prefix filtering must reproduce the brute
    directed computation exactly on the real corpus."""
    from firefox_public_data_report_etl_spark.operators.dedup import (
        containment_pairs,
    )
    from firefox_public_data_report_etl_spark.sources import load_table

    from firefox_public_data_report_etl_spark.operators.dedup import (
        gram_hash_arrays,
    )

    docs = load_table(spark, sf_dir, "documents")
    sh = shingle_rows(docs).cache()
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("na"))
    sa = sh.select(F.col("doc_id").alias("da"), "h")
    sb = sh.select(F.col("doc_id").alias("db"), "h")
    brute = {
        (r.da, r.db, round(r.containment, 9))
        for r in sa.join(sb, "h")
        .filter(F.col("da") != F.col("db"))
        .groupBy("da", "db")
        .agg(F.count("*").alias("inter"))
        .join(sizes.withColumnRenamed("doc_id", "da"), "da")
        .select(
            "da",
            "db",
            (F.col("inter").cast("double") / F.col("na")).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= 0.6)
        .collect()
    }
    got = {
        (r.da, r.db, round(r.containment, 9))
        for r in containment_pairs(gram_hash_arrays(docs), 0.6).collect()
    }
    assert got == brute and brute


def test_group_split_never_leaks_near_dups(spark, sf_dir):
    """The group-aware split's whole point: every verified near-dup
    pair must land in ONE split. Checked directly against the pair
    set (not the group ids), so a wrong coalesce or hash column
    would fail even if groups were internally consistent. Also pins
    that all three splits are non-empty at test SF."""
    from firefox_public_data_report_etl_spark.plans.dedup import (
        JACCARD_THRESHOLD,
        corpus_group_split,
    )
    from firefox_public_data_report_etl_spark.operators.dedup import (
        gram_hash_arrays,
        minhash_lsh_pairs_arr,
    )
    from firefox_public_data_report_etl_spark.sources import load_table

    split = {
        r.doc_id: r.split
        for r in corpus_group_split(spark, sf_dir).collect()
    }
    pairs = (
        minhash_lsh_pairs_arr(
            gram_hash_arrays(load_table(spark, sf_dir, "documents"))
        )
        .filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        .collect()
    )
    assert pairs
    for p in pairs:
        assert split[p.da] == split[p.db], (p.da, p.db)
    assert set(split.values()) == {"train", "val", "test"}
