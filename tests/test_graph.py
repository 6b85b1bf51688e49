"""Graph operators. Connected components (star contraction) is
checked against a pure-Python union-find: the sf0.01 oracle
(recursive CTE) pins it on the real pair graph, these tests on
ADVERSARIAL topologies the testdata graph doesn't contain — long
chains (diameter ≫ log n), rings, stars, a seeded random graph and
self-loops.
"""

from __future__ import annotations

import pytest

import random

from pyspark.sql import Row


def _labels(df):
    return {r["node"]: r["comp"] for r in df.collect()}


def _union_find(edges):
    """{node: min reachable node id} for every endpoint — the
    reference labeling, computed without Spark."""
    parent = {}

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        parent.setdefault(a, a)
        parent.setdefault(b, b)
        ra, rb = find(a), find(b)
        parent[max(ra, rb)] = min(ra, rb)
    return {x: find(x) for x in parent}


def _cc(spark, edges):
    from firefox_public_data_report_etl_spark.operators.graph import (
        connected_components,
    )

    e = spark.createDataFrame([Row(da=a, db=b) for a, b in edges])
    return _labels(connected_components(e))


@pytest.mark.full
def test_star_cc_long_chain(spark):
    # a 25-link chain: diameter 25, log2(26) ~ 5 — the shape where
    # star contraction's round count matters. Every node must label 0.
    chain = [(i, i + 1) for i in range(25)]
    labels = _cc(spark, chain)
    assert labels == {i: 0 for i in range(26)}
    assert labels == _union_find(chain)


def test_cc_chain_longer_than_twenty_links(spark):
    # diameter 21 with default arguments: one link more than the
    # round budget a diameter-bound propagation would get
    chain = [(i, i + 1) for i in range(21)]
    assert _cc(spark, chain) == {i: 0 for i in range(22)}


def test_cc_self_loop_node_labels_itself(spark):
    # a node whose only edge is a self-loop is still an endpoint;
    # a self-loop beside real edges changes nothing
    assert _cc(spark, [(5, 5), (1, 2)]) == {5: 5, 1: 1, 2: 1}
    edges = [(7, 7), (7, 3), (9, 9), (9, 9), (4, 4), (4, 3)]
    assert _cc(spark, edges) == _union_find(edges) == {
        3: 3, 4: 3, 7: 3, 9: 9
    }


def test_incremental_decisions_same_id_cross_pair_matches_base(spark):
    # a re-sent document: base 7 and batch 7 are one near-dup pair,
    # so batch doc 7 is already-curated content and must be dropped
    from firefox_public_data_report_etl_spark.operators.incremental import (
        incremental_decisions,
    )

    batch_ids = spark.createDataFrame([(7,), (8,)], ["doc_id"])
    cross = spark.createDataFrame(
        [(7, 7, 1.0)], "base_id long, batch_id long, jaccard double"
    )
    within = spark.createDataFrame([], "da long, db long, jaccard double")
    out = {
        r.doc_id: (r.component, r.matched_base, r.keep)
        for r in incremental_decisions(batch_ids, cross, within).collect()
    }
    assert out == {7: (7, True, False), 8: (8, False, True)}


def test_star_cc_two_components_and_star_shape(spark):
    edges = [(10, 11), (11, 12), (20, 25), (20, 26), (20, 27)]
    labels = _cc(spark, edges)
    assert labels == {10: 10, 11: 10, 12: 10, 20: 20, 25: 20, 26: 20, 27: 20}
    assert labels == _union_find(edges)


def test_star_cc_ring_and_duplicate_reversed_edges(spark):
    # ring of 8 plus duplicate and reversed edges — canonicalization
    # must not double-count or deadlock
    ring = [(i, (i + 1) % 8) for i in range(8)]
    edges = ring + [(b, a) for a, b in ring] + ring[:3]
    labels = _cc(spark, edges)
    assert labels == {i: 0 for i in range(8)}
    assert labels == _union_find(edges)


def test_star_cc_random_graph_matches_union_find(spark):
    rng = random.Random(8)
    nodes = list(range(60))
    edges = [
        (rng.choice(nodes), rng.choice(nodes)) for _ in range(70)
    ]
    edges = [(a, b) for a, b in edges if a != b]
    assert _cc(spark, edges) == _union_find(edges)


@pytest.mark.full
def test_star_cc_rounds_exercised_without_partition_coalescing(spark):
    """Force the alternating star rounds to actually RUN: with AQE
    partition coalescing disabled, the internal distinct keeps 8
    partitions, so `_local_contract` only collapses per-partition
    subgraphs and the cross-partition chain must converge through the
    large/small-star loop (the round-13 star-forest convergence test
    exits early otherwise). Guards the loop body itself — at toy
    sizes with coalescing on, every graph converges at the first
    check and the rounds are dead code."""
    from firefox_public_data_report_etl_spark.operators.graph import (
        connected_components,
    )

    old = spark.conf.get("spark.sql.adaptive.coalescePartitions.enabled")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    try:
        chain = [(i, i + 1) for i in range(120)]
        e = spark.createDataFrame(
            [Row(da=a, db=b) for a, b in chain]
        ).repartition(8)
        labels = _labels(connected_components(e))
        assert labels == {i: 0 for i in range(121)}
        assert labels == _union_find(chain)
    finally:
        spark.conf.set(
            "spark.sql.adaptive.coalescePartitions.enabled", old
        )


def test_pagerank_star_graph_semantics(spark):
    """Star graph (hub 1 ↔ leaves 2..5): the hub must outrank every
    leaf, leaves must tie exactly (integer arithmetic), degrees must
    be the undirected counts, and every rank must exceed the
    teleport floor 0.15·SCALE."""
    from firefox_public_data_report_etl_spark.operators.graph import (
        PR_SCALE,
        pagerank_fixed,
    )

    edges = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4), (1, 5)], ["da", "db"]
    )
    rows = {r.node: r for r in pagerank_fixed(edges).collect()}
    assert set(rows) == {1, 2, 3, 4, 5}
    assert rows[1].deg == 4
    leaf_ranks = {rows[i].rank_fp for i in (2, 3, 4, 5)}
    assert len(leaf_ranks) == 1  # exact tie
    assert rows[1].rank_fp > leaf_ranks.pop()
    floor = (15 * PR_SCALE) // 100
    assert all(r.rank_fp >= floor for r in rows.values())
    assert all(rows[i].deg == 1 for i in (2, 3, 4, 5))


def test_pagerank_iterations_are_deterministic(spark):
    """Same edges, two runs → identical integer ranks (no FP, no
    partition-order sensitivity)."""
    from firefox_public_data_report_etl_spark.operators.graph import (
        pagerank_fixed,
    )

    edges = spark.createDataFrame(
        [(1, 2), (2, 3), (3, 4), (4, 1), (1, 3)], ["da", "db"]
    ).repartition(5)
    a = {(r.node, r.rank_fp) for r in pagerank_fixed(edges).collect()}
    b = {(r.node, r.rank_fp) for r in pagerank_fixed(edges).collect()}
    assert a == b


def _core_map(df):
    return {r["a"]: r["n"] for r in
            df.groupBy("a").count().withColumnRenamed("count", "n").collect()}


def test_kcore_known_graph(spark):
    # triangle {0,1,2} + chain 2-3-4-5 + pendant 6 off the triangle:
    # the 2-core is exactly the triangle — the chain and pendant peel
    # off (3 rounds needed: 5 then 4 then 3).
    from firefox_public_data_report_etl_spark.operators.graph import kcore_edges

    edges = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5), (0, 6)]
    e = spark.createDataFrame([Row(da=a, db=b) for a, b in edges])
    out = kcore_edges(e, "da", "db", k=2, n_rounds=4)
    assert _core_map(out) == {0: 2, 1: 2, 2: 2}


def test_kcore_registry_rounds_are_fixpoint(spark, sf_dir):
    # the registry form runs KCORE_ROUNDS fixed rounds so the oracle
    # can unroll them; this pins that on the real corpus those rounds
    # ARE the fixpoint (two extra rounds change nothing).
    from pyspark.sql import functions as F

    from firefox_public_data_report_etl_spark.operators.dedup import (
        gram_hash_arrays,
        minhash_lsh_pairs_arr,
    )
    from firefox_public_data_report_etl_spark.operators.graph import kcore_edges
    from firefox_public_data_report_etl_spark.plans.dedup import JACCARD_THRESHOLD
    from firefox_public_data_report_etl_spark.plans.linkage import (
        KCORE_K,
        KCORE_ROUNDS,
    )
    from firefox_public_data_report_etl_spark.sources import load_table

    pairs = minhash_lsh_pairs_arr(
        gram_hash_arrays(load_table(spark, sf_dir, "documents"))
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    pairs = pairs.persist()
    try:
        at = _core_map(kcore_edges(pairs, "da", "db", KCORE_K, KCORE_ROUNDS))
        beyond = _core_map(
            kcore_edges(pairs, "da", "db", KCORE_K, KCORE_ROUNDS + 2)
        )
        assert at == beyond
    finally:
        pairs.unpersist()


def test_lpa_splits_bridged_triangles(spark):
    # two triangles joined by ONE bridge edge (2-3): connected
    # components would merge them; LPA separates them — the dense
    # sides out-vote the bridge. Expected labels hand-simulated for
    # the deterministic most-frequent/min-tiebreak rule at 4 rounds.
    from firefox_public_data_report_etl_spark.operators.graph import (
        label_propagation_fixed,
    )

    edges = [(0, 1), (1, 2), (0, 2), (3, 4), (4, 5), (3, 5), (2, 3)]
    e = spark.createDataFrame([Row(da=a, db=b) for a, b in edges])
    out = {
        r["node"]: r["label"]
        for r in label_propagation_fixed(e, "da", "db", n_rounds=4).collect()
    }
    assert out == {0: 0, 1: 0, 2: 0, 3: 2, 4: 2, 5: 2}
