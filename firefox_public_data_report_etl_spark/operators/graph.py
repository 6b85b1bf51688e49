"""Iterative graph operators.

``connected_components`` labels each node of an undirected edge set
with the minimum node id reachable from it — the canonical clustering
step after near-dup pair mining (pairs → dedup clusters → keep one
representative per component). It is the one connected-components
operator; every dedup, multimodal, entity-resolution and
streaming-gate caller composes it.

Spark-first shape: alternating large-star/small-star contraction as
a driver loop of DataFrame exchanges with a convergence check. It
needs O(log n) rounds on any topology, so a long chain of pairwise
near-dups costs no more rounds than a shallow cluster. Each round
``localCheckpoint``s the edge set — without lineage truncation the
plan doubles every round and the job dies long before 100 TB. On a
cluster, swap localCheckpoint for a reliable checkpoint dir.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def _local_contract(e: DataFrame) -> DataFrame:
    """Partition-local contraction (round 12): each task runs an
    in-memory min-label union over ONLY its partition's edges and
    emits that partition's star forest — one (child, component-min)
    row per non-root node it saw. Connectivity is preserved exactly
    (a star forest spans the same components as the edges it came
    from), so the alternating rounds downstream compute the identical
    min-id labeling; they just start from a graph whose within-task
    structure is already collapsed. On one partition the output IS
    the final star forest (one round verifies the fixpoint); across
    partitions each round now shuffles at most one row per node
    instead of the raw edge relation. Task state is the partition's
    edge list — the same bound any in-task sort already has; the
    label array itself is integer indices, so node ids of any
    orderable type work (component min = min index because
    ``np.unique`` sorts ascending).

    Input: canonical a >= b rows, distinct; a self-loop row (x, x)
    only says that x is a node. Output: canonical a > b rows, plus
    (x, x) for each self-looped node that is a root in its partition,
    so a node seen only in self-loops survives the contraction.
    """

    def gen(it):
        import numpy as np

        aas, bbs = [], []
        for pdf in it:
            aas.append(pdf["a"].to_numpy())
            bbs.append(pdf["b"].to_numpy())
        if not aas:
            return
        a = np.concatenate(aas)
        b = np.concatenate(bbs)
        if len(a) == 0:
            return
        nodes, inv = np.unique(np.concatenate([a, b]), return_inverse=True)
        u, v = inv[: len(a)], inv[len(a):]
        p = np.arange(len(nodes))
        looped = np.zeros(len(nodes), dtype=bool)
        looped[u[u == v]] = True
        while True:
            old = p
            p = p.copy()
            np.minimum.at(p, u, p[v])
            np.minimum.at(p, v, p[u])
            p = np.minimum(p, p[p])  # pointer jumping: O(log) passes
            if np.array_equal(p, old):
                break
        mask = (p != np.arange(len(nodes))) | looped
        import pandas as pd

        yield pd.DataFrame({"a": nodes[mask], "b": nodes[p[mask]]})

    return e.mapInPandas(gen, schema=e.schema)


PR_SCALE = 1_000_000_000  # 1e9: rank sums stay < 2^63 up to ~1e8 nodes
PR_DAMP_NUM = 85  # damping 0.85 as an exact integer ratio
PR_DAMP_DEN = 100


def pagerank_fixed(
    edges: DataFrame,
    src: str = "da",
    dst: str = "db",
    n_iter: int = 3,
) -> DataFrame:
    """(node, deg, rank_fp): PageRank over the undirected edge set,
    ``n_iter`` synchronous iterations in EXACT integer fixed-point —
    rank starts at ``PR_SCALE`` per node and updates as

        r' = (15·SCALE) div 100 + (85 · Σ_{u→v} (r_u div deg_u)) div 100

    using integral ``div`` throughout, so any engine reproduces the
    numbers bit-for-bit (the DuckDB oracle unrolls the same iterations
    with ``//``; floor division on non-negative ints agrees with
    Spark's ``div``). The floor-division mass leak is deliberate:
    exactness across engines is worth more here than the ~1e-9
    relative drift, and ranking order is unaffected.

    Every endpoint of the symmetrized edge set has deg ≥ 1, so there
    are no dangling nodes by construction.

    Scale: per iteration, ONE shuffle join of ranks onto edges (on the
    source id) + ONE groupBy on the destination — the textbook
    distributed PageRank data flow; the edge set is checkpointed once
    and reused, and the rank table is node-cardinality. Lineage is
    truncated per iteration the same way as ``connected_components``
    (driver loop, localCheckpoint — use a reliable checkpoint dir on a
    cluster). Iterations are a fixed small constant, not data-driven.
    """
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
    und = (
        e.unionByName(
            e.select(F.col("b").alias("a"), F.col("a").alias("b"))
        )
        .distinct()
        .localCheckpoint()
    )
    deg = und.groupBy("a").agg(F.count("*").alias("deg"))
    ranks = deg.select(
        F.col("a").alias("node"),
        "deg",
        F.lit(PR_SCALE).cast("long").alias("rank_fp"),
    ).localCheckpoint()

    base = (15 * PR_SCALE) // PR_DAMP_DEN
    for _ in range(n_iter):
        contrib = (
            und.join(ranks, und.a == ranks.node)
            .select(
                F.col("b").alias("node"),
                F.expr("rank_fp div deg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            ranks.drop("rank_fp")
            .join(contrib, "node")
            .select(
                "node",
                "deg",
                (
                    F.lit(base)
                    + F.expr(f"({PR_DAMP_NUM} * s) div {PR_DAMP_DEN}")
                ).cast("long").alias("rank_fp"),
            )
            .localCheckpoint(eager=False)
        )
    return ranks


#: Double-round cap. Star contraction converges in O(log n) rounds on
#: any topology, so reaching the cap means a bug, not a deep graph.
CC_MAX_ROUNDS = 30


def connected_components(
    edges: DataFrame,
    src: str = "da",
    dst: str = "db",
) -> DataFrame:
    """(node, comp) for every endpoint in ``edges``; comp is the min
    reachable node id, and a node whose only edge is a self-loop
    labels itself. Alternating large-star/small-star contraction
    (Kiveris et al. 2014, "Connected Components in MapReduce and
    Beyond"): min-label propagation needs graph-DIAMETER rounds (a
    1,000-link chain of pairwise near-dups = 1,000 shuffle rounds),
    star contraction provably converges in O(log n) alternations on
    any graph.

    Round shape (round 13): each star op is ONE exchange. The edge
    set is explicitly repartitioned on the grouping node, and BOTH
    consumers — the per-node minimum aggregate and the join probe —
    read that one exchange (ReusedExchange), with the join planned
    shuffle-hash on the node-grain minima (no sort, no broadcast
    build job). The round-12 shape let the planner insert a separate
    exchange per consumer and a broadcast-build driver job per star
    (4 per double-round); per-star it also shuffled the per-node
    minima PLUS the probe side, where this shape moves the edge rows
    exactly once per star — strictly fewer shuffled bytes at scale
    and 17 → ~7 scheduler jobs per double-round at sf0.1 (measured).
    Neighbor sets are still never collected into an array, so a hot
    node (one giant near-dup cluster) costs a shuffle skew, not a
    single-task OOM. Edges stay in canonical child(larger) →
    parent(smaller) direction throughout; at the fixpoint the edge
    set IS the star forest, each child pointing at its component's
    minimum id. localCheckpoint truncates lineage per round (swap
    for a reliable checkpoint dir on a cluster).
    """
    e = edges.select(
        F.greatest(src, dst).alias("a"), F.least(src, dst).alias("b")
    ).distinct()
    # Round-12: partition-local contraction rides the same job as the
    # eager checkpoint — a narrow map after the distinct shuffle, so
    # the rounds below start from per-task star forests (≤ 1 row per
    # node) instead of the raw pair relation. See _local_contract.
    # Self-loops ride along as (x, x) rows so a node seen only in a
    # self-loop still gets its own label; the rounds never see them.
    contracted = _local_contract(e).localCheckpoint()
    loops = contracted.filter(F.col("a") == F.col("b"))
    e = contracted.filter(F.col("a") != F.col("b"))

    # Round-12 note (measured, kept honest): replacing each star's
    # groupBy-min + join-back with a single window-min was TRIED and
    # reverted — the window SORTS every edge row (WindowExec has no
    # hash variant): 6.2 s vs 4.6 s on the ER record-grain query at
    # sf0.1. The round-13 shared-exchange shape above keeps the
    # hash aggregate and drops the per-consumer exchanges instead.
    # Round-13 second change: the per-star trailing distinct is gone —
    # duplicate edge rows are harmless to BOTH stars (the min
    # aggregate ignores them; each input row still emits at most one
    # output row, so the edge-set size never grows) — and the round
    # dedups ONCE at the checkpoint, where the convergence test needs
    # a distinct set anyway. One exchange per double-round instead of
    # two.

    def _large_star(E: DataFrame) -> DataFrame:
        und = E.unionByName(
            E.select(F.col("b").alias("a"), F.col("a").alias("b"))
        ).repartition("a")
        mins = und.groupBy("a").agg(
            F.least(F.min("b"), F.first("a")).alias("m")
        )
        return (
            und.join(mins.hint("shuffle_hash"), "a")
            .filter(F.col("b") > F.col("a"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )

    def _small_star(E: DataFrame) -> DataFrame:
        Ep = E.repartition("a")
        mins = Ep.groupBy("a").agg(F.min("b").alias("m"))
        moved = (
            Ep.join(mins.hint("shuffle_hash"), "a")
            .filter(F.col("b") != F.col("m"))
            .select(F.col("b").alias("a"), F.col("m").alias("b"))
        )
        return moved.unionByName(mins.select("a", F.col("m").alias("b")))

    def _node_stats(E: DataFrame) -> DataFrame:
        """(node, nc=child-occurrence count, np=1 iff ever a parent) —
        one exchange over the edge rows. A self-loop row (x, x) only
        adds x, with nc = np = 0."""
        edge = (F.col("a") != F.col("b")).cast("int")
        return (
            E.select(
                F.explode(
                    F.array(
                        F.struct(
                            F.col("a").alias("node"),
                            edge.alias("c"),
                            F.lit(0).alias("p"),
                        ),
                        F.struct(
                            F.col("b").alias("node"),
                            F.lit(0).alias("c"),
                            edge.alias("p"),
                        ),
                    )
                ).alias("x")
            )
            .select("x.*")
            .groupBy("node")
            .agg(F.sum("c").alias("nc"), F.max("p").alias("np"))
        )

    # Round-13 convergence test: e is a fixpoint of BOTH stars iff it
    # is a canonical-direction star forest — (i) every child node
    # appears in exactly one row, (ii) no node is both child and
    # parent. Sufficiency: on such a set, large-star re-emits exactly
    # the input rows (a parent p's neighborhood minimum is p itself,
    # so each child row (c, p) is emitted unchanged, and child rows
    # emit nothing because parent < child), and small-star's per-child
    # minimum is the child's unique parent with nothing moved.
    # Necessity: the Kiveris fixpoint is a star forest with min-id
    # roots, which satisfies (i)+(ii). Testing the PROPERTY instead of
    # set-equality-after-a-double-step (the round-12 criterion) means
    # a graph that arrives converged — which `_local_contract` often
    # achieves outright once AQE has coalesced the toy-SF pair set
    # into few partitions — pays ONE node-grain aggregate instead of
    # a full four-star verification round, and the left-anti
    # set-difference join is gone entirely. Duplicate rows in the
    # un-deduped contract output can only raise nc (a conservative
    # extra round, never a wrong early exit).
    for _ in range(CC_MAX_ROUNDS + 1):
        # The stats ride the convergence count's job (lazy checkpoint),
        # so the roots below — every node never a child: the forest's
        # parents and the self-looped nodes — cost no further exchange.
        stats = _node_stats(e.unionByName(loops)).localCheckpoint(
            eager=False
        )
        unconverged = stats.filter(
            (F.col("nc") > 1) | ((F.col("nc") > 0) & (F.col("np") > 0))
        )
        if unconverged.count() == 0:
            roots = stats.filter(F.col("nc") == 0)
            return e.select(
                F.col("a").alias("node"), F.col("b").alias("comp")
            ).unionByName(roots.select("node", F.col("node").alias("comp")))
        # Round-12 second pass (guide §5 — fewer driver actions per
        # iteration): TWO large/small alternations ride each
        # checkpoint + convergence test, halving the per-round
        # action/materialization overhead for the same star work.
        e2 = _small_star(_large_star(e))
        e = (
            _small_star(_large_star(e2))
            .distinct()
            .localCheckpoint(eager=False)
        )
    raise RuntimeError(
        f"connected_components: no convergence in {CC_MAX_ROUNDS} rounds"
    )


def kcore_edges(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    k: int,
    n_rounds: int,
) -> DataFrame:
    """Edges of the (approximate) k-core after ``n_rounds`` of
    synchronous peeling: each round drops every node whose current
    degree is below ``k``, then restricts edges to surviving
    endpoints. With enough rounds this converges to the exact k-core
    (peeling is monotone — once dropped, always dropped); a FIXED
    round count keeps the plan a static join chain that a DuckDB
    oracle can unroll as CTEs, the same determinism device as
    ``pagerank_fixed``.

    Scale: each round is one degree aggregate plus two semi joins on
    node ids — pair-graph cardinality throughout, never all-pairs.
    Each round references the previous edge set three times, so the
    logical plan grows 3× per round without lineage truncation —
    ``localCheckpoint`` per round (same device as
    ``connected_components``) keeps it linear; on a cluster swap for a
    reliable checkpoint dir. Rounds needed = peeling depth of the
    graph (shallow for near-dup graphs: dropping leaf chains is the
    common case); for unbounded corpora run more rounds or wrap in the
    convergence-checked driver loop ``connected_components`` models.
    """
    e = (
        pairs.select(F.col(a_col).alias("a"), F.col(b_col).alias("b"))
        .unionByName(
            pairs.select(F.col(b_col).alias("a"), F.col(a_col).alias("b"))
        )
        .localCheckpoint(eager=False)
    )
    for _ in range(n_rounds):
        alive = (
            e.groupBy("a")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= k)
            .select("a")
        )
        e = (
            e.join(alive, "a", "leftsemi")
            .join(alive.withColumnRenamed("a", "b"), "b", "leftsemi")
            .localCheckpoint(eager=False)
        )
    return e


def label_propagation_fixed(
    pairs: DataFrame,
    a_col: str,
    b_col: str,
    n_rounds: int,
) -> DataFrame:
    """(node, label) after ``n_rounds`` of synchronous label
    propagation: every node starts as its own label; each round it
    adopts the most frequent label among its NEIGHBORS, ties broken by
    the smallest label — fully deterministic (no RNG, no visit order),
    so a DuckDB oracle can unroll the identical rounds as CTEs.
    Detects communities FINER than connected components: a bridge edge
    between two dense near-dup families keeps them one component but
    LPA labels them separately, which is what dedup review queues
    want.

    Scale: each round is one edge⋈label join, one (node, label)
    count, and one argmax — all keyed shuffles at pair-graph
    cardinality; localCheckpoint per round truncates the growing
    lineage exactly as ``kcore_edges`` does.
    """
    from pyspark.sql import Window

    e = pairs.select(
        F.col(a_col).alias("a"), F.col(b_col).alias("b")
    ).unionByName(
        pairs.select(F.col(b_col).alias("a"), F.col(a_col).alias("b"))
    ).localCheckpoint(eager=False)
    labels = e.select(F.col("a").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    w = Window.partitionBy("node").orderBy(
        F.col("cnt").desc(), F.col("label")
    )
    for _ in range(n_rounds):
        freqs = (
            e.join(labels, e.b == labels.node)
            .groupBy(F.col("a").alias("node"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        labels = (
            freqs.withColumn("_rn", F.row_number().over(w))
            .filter(F.col("_rn") == 1)
            .select("node", "label")
            .localCheckpoint(eager=False)
        )
    return labels
