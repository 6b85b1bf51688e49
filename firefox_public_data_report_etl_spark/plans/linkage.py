"""Graph analytics and record linkage over the corpus tables.

Engine extensions past the reference's scope (its surface has no graph
or entity-resolution operators): PageRank centrality over the
near-dup pair graph, token-blocked entity resolution with golden-
record survivorship, and association-lift co-occurrence mining — the
link-analysis layer of a training-data curation stack (e.g. ranking
duplicate clusters by connectivity, collapsing catalog variants).

Every query is exact integer arithmetic end-to-end, so the DuckDB
oracles hash-match bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from firefox_public_data_report_etl_spark.operators.dedup import (
    gram_hash_arrays,
    minhash_lsh_pairs_arr,
)
from firefox_public_data_report_etl_spark.operators.graph import (
    PR_DAMP_DEN,
    PR_DAMP_NUM,
    PR_SCALE,
    kcore_edges,
    label_propagation_fixed,
    pagerank_fixed,
)
from firefox_public_data_report_etl_spark.operators.parallelism import (
    widen_partitions,
)
from firefox_public_data_report_etl_spark.plans.dedup import (
    JACCARD_THRESHOLD,
    _minhash_oracle,
)
from firefox_public_data_report_etl_spark.sources import load_table

PR_ITERS = 3


def doc_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PageRank centrality over the verified MinHash-LSH near-dup
    graph — ranks documents by how embedded they are in duplicate
    neighborhoods (a high-centrality doc is the natural cluster
    representative to KEEP; leaf nodes are the cheap drops). Three
    synchronous iterations in exact integer fixed-point
    (operators.graph.pagerank_fixed); the oracle unrolls the same
    three iterations as chained CTEs, so a convergence or join bug
    cannot hide behind floating-point tolerance.

    Scale: the pair graph is the LSH output (pair-cardinality, never
    all-pairs); each iteration is one join + one groupBy on node ids.
    """
    hs = gram_hash_arrays(
        widen_partitions(load_table(spark, sf_dir, "documents"))
    )
    pairs = minhash_lsh_pairs_arr(hs).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    out = pagerank_fixed(pairs, "da", "db", n_iter=PR_ITERS)
    return out.select(
        F.col("node").alias("doc_id"), "deg", "rank_fp"
    )


def _pagerank_oracle() -> str:
    minhash = _minhash_oracle().strip()
    base = (15 * PR_SCALE) // PR_DAMP_DEN
    iter_ctes = []
    for i in range(1, PR_ITERS + 1):
        prev = f"r{i - 1}"
        iter_ctes.append(
            f"""c{i} AS (
  SELECT e.b AS node, sum(r.rank_fp // r.deg) AS s
  FROM e JOIN {prev} r ON e.a = r.node GROUP BY e.b
),
r{i} AS (
  SELECT r.node, r.deg,
         CAST({base} + ({PR_DAMP_NUM} * c.s) // {PR_DAMP_DEN} AS BIGINT)
           AS rank_fp
  FROM {prev} r JOIN c{i} c USING (node)
)"""
        )
    chain = ",\n".join(iter_ctes)
    return f"""
WITH pairs AS (SELECT da, db FROM ({minhash}) mh),
e AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs),
deg AS (SELECT a, count(*) AS deg FROM e GROUP BY a),
r0 AS (SELECT a AS node, deg,
              CAST({PR_SCALE} AS BIGINT) AS rank_fp FROM deg),
{chain}
SELECT node AS doc_id, deg, rank_fp FROM r{PR_ITERS}
"""


def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangle counts over the near-dup pair graph — the
    standard clustering-coefficient ingredient: a doc in many
    triangles sits in a DENSE duplicate clique (template spam,
    mirrored boilerplate families), where a chain-shaped component of
    the same size is accidental pairwise similarity. One row per node
    with (deg, n_triangles).

    Spark-first shape: canonical a<b edges; triangles enumerated once
    as a<b<c via two joins (edge ab ⋈ edge bc on b, verified by edge
    ac), then exploded to the three corners and counted per node —
    the MapReduce triangle-join standard. Scale: the graph is LSH
    output (pair-cardinality); the join fan-out is bounded by node
    degree, and a degree-ordered variant (join only along
    lower-degree endpoints) is the known mitigation for hub nodes.
    """
    hs = gram_hash_arrays(
        widen_partitions(load_table(spark, sf_dir, "documents"))
    )
    pairs = minhash_lsh_pairs_arr(hs).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    e = pairs.select(
        F.least("da", "db").alias("a"), F.greatest("da", "db").alias("b")
    ).distinct()
    ab = e.select(F.col("a").alias("x"), F.col("b").alias("y"))
    bc = e.select(F.col("a").alias("y"), F.col("b").alias("z"))
    ac = e.select(F.col("a").alias("x"), F.col("b").alias("z"))
    tri = ab.join(bc, "y").join(ac, ["x", "z"]).select("x", "y", "z")
    corners = (
        tri.select(F.col("x").alias("node"))
        .unionAll(tri.select(F.col("y").alias("node")))
        .unionAll(tri.select(F.col("z").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )
    und = e.unionByName(
        e.select(F.col("b").alias("a"), F.col("a").alias("b"))
    )
    deg = und.groupBy(F.col("a").alias("node")).agg(
        F.count("*").alias("deg")
    )
    return deg.join(corners, "node", "left").select(
        F.col("node").alias("doc_id"),
        "deg",
        F.coalesce("n_triangles", F.lit(0)).alias("n_triangles"),
    )


def _triangle_oracle() -> str:
    minhash = _minhash_oracle().strip()
    return f"""
WITH pairs AS (SELECT da, db FROM ({minhash}) mh),
e AS (SELECT DISTINCT least(da, db) AS a, greatest(da, db) AS b FROM pairs),
tri AS (
  SELECT ab.a AS x, ab.b AS y, bc.b AS z
  FROM e ab JOIN e bc ON ab.b = bc.a
  JOIN e ac ON ac.a = ab.a AND ac.b = bc.b
),
corners AS (
  SELECT node, CAST(count(*) AS BIGINT) AS n_triangles FROM (
    SELECT x AS node FROM tri
    UNION ALL SELECT y FROM tri
    UNION ALL SELECT z FROM tri
  ) GROUP BY node
),
und AS (SELECT a, b FROM e UNION ALL SELECT b, a FROM e),
deg AS (SELECT a AS node, CAST(count(*) AS BIGINT) AS deg
        FROM und GROUP BY a)
SELECT deg.node AS doc_id, deg.deg,
       coalesce(corners.n_triangles, 0) AS n_triangles
FROM deg LEFT JOIN corners USING (node)
"""


ER_SIZE_TOL = 2
# Record-grain blocking validity bound: the blocking-key domain
# (name × type) is FIXED, so block sizes — and the within-block pair
# join — grow LINEARLY with the catalog, making candidate pairs
# quadratic in N. sf1 (200k-part stack, max block ~1.2k) measures
# fine at 19.4 s; the sf10 stack (max block ~12k ⇒ ~70M pair slots)
# exhausts the local JVM. Refuse past the bound and name the
# cell-grain twin, which is immune by construction.
ER_MAX_BLOCK = 2_000


def part_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity resolution over the part catalog — the full ER pipeline:
    BLOCK on (p_name, p_type) so candidate generation never goes
    all-pairs, MATCH within blocks on the fuzzy multi-attribute rule
    |size difference| ≤ 2 (brands may differ — catalog variants),
    CLUSTER matches transitively (size chains 5-7-9 merge even though
    5 and 9 don't match directly — why ER needs connected components,
    not pairwise grouping), and SURVIVE one golden record per entity:
    min partkey as the id, consolidated member/brand/size/price stats.

    Singleton parts (no match) survive as their own entity, so the
    output is a full catalog replacement, not just the matched subset.

    Scale: the block self-join shuffles on the blocking key; per-block
    pairwise work is quadratic in block size, and with a FIXED key
    domain block sizes grow linearly with the catalog — so this
    record-grain form is GUARDED (raises past ER_MAX_BLOCK, naming
    ``part_entity_resolution_scaled``, whose cell-grain clustering is
    immune because the match rule depends only on (name, type, size):
    it produces the IDENTICAL output at any SF). This form stays
    registered as the general ER shape for match rules that DO vary
    within a cell (string similarity, address distance). ER
    size-chains (5–7–9–…) give the match graph a diameter that GROWS
    with catalog size; the star-contraction connected components
    converge in O(log n) alternations on any topology (min-label
    propagation needed diameter rounds and hit its 20-round cap at
    sf0.1, measured). Survivorship is one groupBy on the entity id.
    """
    from firefox_public_data_report_etl_spark.functions import cents
    from firefox_public_data_report_etl_spark.operators.graph import (
        connected_components,
    )

    blk = (
        load_table(spark, sf_dir, "part")
        .groupBy("p_name", "p_type")
        .count()
        .agg(F.max("count"))
        .head()[0]
    )
    if blk is not None and blk > ER_MAX_BLOCK:
        raise ValueError(
            f"part_entity_resolution: largest blocking key holds {blk} "
            f"records, past the record-grain validity bound "
            f"{ER_MAX_BLOCK} — the within-block pair join is quadratic "
            "in block size here. Use the cell-grain twin "
            "'part_entity_resolution_scaled' (identical output; see "
            "SCALE_PATH_FOR in plans/linkage.py)."
        )

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_type",
        F.col("p_size").cast("long").alias("p_size"),
        "p_brand",
        cents(F.col("p_retailprice")).alias("price_c"),
    )
    a = p.select(
        F.col("p_partkey").alias("ka"),
        "p_name",
        "p_type",
        F.col("p_size").alias("sa"),
    )
    b = p.select(
        F.col("p_partkey").alias("kb"),
        "p_name",
        "p_type",
        F.col("p_size").alias("sb"),
    )
    pairs = (
        a.join(b, ["p_name", "p_type"])
        .filter(
            (F.col("ka") < F.col("kb"))
            & (F.abs(F.col("sa") - F.col("sb")) <= ER_SIZE_TOL)
        )
        .select("ka", "kb")
    )
    comp = connected_components(pairs, "ka", "kb")
    members = p.join(
        comp, p.p_partkey == comp.node, "left"
    ).select(
        "p_partkey",
        "p_name",
        "p_type",
        "p_size",
        "p_brand",
        "price_c",
        F.coalesce("comp", "p_partkey").alias("entity_id"),
    )
    return members.groupBy("entity_id").agg(
        F.min("p_name").alias("p_name"),
        F.min("p_type").alias("p_type"),
        F.count("*").alias("n_members"),
        F.countDistinct("p_brand").alias("n_brands"),
        F.min("p_size").alias("size_min"),
        F.max("p_size").alias("size_max"),
        F.min("price_c").alias("price_min_c"),
    )


def part_entity_resolution_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cell-grain ER — the scale twin of ``part_entity_resolution``
    with IDENTICAL output (they share one oracle): because the match
    rule depends only on (name, type, size), every record in an exact
    attribute cell is match-equivalent, so the pair join and the
    connected components run over DISTINCT CELLS — bounded by the
    attribute domain (|names|·|types|·|sizes|), NOT the catalog — and
    records join back to their cell's entity with one broadcast map.
    The cell key is min(partkey) per cell, so the component minimum
    equals the record-grain minimum and entity ids agree exactly.

    Scale: one linear aggregate to cells, then the match graph's
    components fall out of the RULE's structure (round 12, guide §8
    — use what the optimizer cannot know): within a (name, type)
    block, cells are connected iff their sizes differ by ≤ tol, and
    since EVERY within-tolerance pair is an edge, connectivity along
    the size-sorted order is all the connectivity there is — a gap
    > tol cannot be bridged by any pair spanning it. So components
    are maximal runs of sorted sizes with consecutive gaps ≤ tol:
    two windows over the domain-bounded cell table (run-break flag +
    running sum; min cell_key per run) replace the pair self-join
    and the iterative star CC (≈ 6 scheduled contraction rounds on
    this graph — measured, the dominant cost). The run minimum is
    min-over-component of min-partkey-per-cell, exactly the CC
    label, so entity ids agree bit-for-bit — the shared oracle and
    tests/test_linkage equality pin it. One broadcast join back, one
    survivorship groupBy; the only N-proportional stages are the two
    linear passes. This exact-key-collapse-first decomposition is
    the standard production answer when fuzzy rules act on
    low-cardinality attributes; the record-grain registry form keeps
    the general pair-join + any-topology-CC shape for rules that DO
    vary within a cell."""
    from pyspark.sql import Window

    from firefox_public_data_report_etl_spark.functions import cents

    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_type",
        F.col("p_size").cast("long").alias("p_size"),
        "p_brand",
        cents(F.col("p_retailprice")).alias("price_c"),
    )
    cells = p.groupBy("p_name", "p_type", "p_size").agg(
        F.min("p_partkey").alias("cell_key")
    )
    w_ord = Window.partitionBy("p_name", "p_type").orderBy("p_size")
    run_break = F.when(
        F.col("p_size") - F.lag("p_size").over(w_ord) > ER_SIZE_TOL, 1
    ).otherwise(0)
    cellmap = (
        cells.withColumn("_brk", run_break)
        .withColumn(
            "grp",
            F.sum("_brk").over(
                w_ord.rowsBetween(Window.unboundedPreceding, 0)
            ),
        )
        .withColumn(
            "entity_id",
            F.min("cell_key").over(
                Window.partitionBy("p_name", "p_type", "grp")
            ),
        )
        .select("p_name", "p_type", "p_size", "entity_id")
    )
    members = p.join(
        F.broadcast(cellmap), ["p_name", "p_type", "p_size"]
    )
    return members.groupBy("entity_id").agg(
        F.min("p_name").alias("p_name"),
        F.min("p_type").alias("p_type"),
        F.count("*").alias("n_members"),
        F.countDistinct("p_brand").alias("n_brands"),
        F.min("p_size").alias("size_min"),
        F.max("p_size").alias("size_max"),
        F.min("price_c").alias("price_min_c"),
    )


PART_ER_ORACLE = f"""
WITH RECURSIVE
p AS (
  SELECT p_partkey, p_name, p_type, CAST(p_size AS BIGINT) AS p_size,
         p_brand, CAST(round(p_retailprice * 100) AS BIGINT) AS price_c
  FROM part
),
pairs AS (
  SELECT a.p_partkey AS ka, b.p_partkey AS kb
  FROM p a JOIN p b
    ON a.p_name = b.p_name AND a.p_type = b.p_type
   AND a.p_partkey < b.p_partkey
   AND abs(a.p_size - b.p_size) <= {ER_SIZE_TOL}
),
e AS (SELECT ka AS a, kb AS b FROM pairs UNION SELECT kb, ka FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
),
comp AS (SELECT a AS node, least(a, min(b)) AS comp FROM reach GROUP BY a),
m AS (
  SELECT p.*, coalesce(c.comp, p.p_partkey) AS entity_id
  FROM p LEFT JOIN comp c ON p.p_partkey = c.node
)
SELECT entity_id, min(p_name) AS p_name, min(p_type) AS p_type,
       CAST(count(*) AS BIGINT) AS n_members,
       CAST(count(DISTINCT p_brand) AS BIGINT) AS n_brands,
       min(p_size) AS size_min, max(p_size) AS size_max,
       min(price_c) AS price_min_c
FROM m GROUP BY entity_id
"""


LEV_MAX = 4  # fuzzy-name match: 1 ≤ levenshtein ≤ 4 (0 = exact-key ER)
LEV_SIZE_BAND = 5  # secondary blocking: size div 5


def part_name_fuzzy_matches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-similarity ER verify — the match rule that CANNOT
    collapse to attribute cells (the reason the record-grain ER shape
    exists): Levenshtein distance between part names, blocked on
    (p_type, size band). Runs at the DISTINCT-NAME grain: candidate
    pairs are (type, band, name_a, name_b) cells, so the edit-distance
    verify volume is bounded by the NAME DOMAIN per block, not the
    catalog — the linear stages are the cell aggregate in and the
    member counts out. Distance 0 (equal names) is excluded: exact
    keys belong to the exact-key ER; this surfaces typo-grade variants
    only. Both engines' levenshtein is the unit-cost edit distance, so
    the oracle hash-pins the verify itself."""
    p = load_table(spark, sf_dir, "part").select(
        "p_partkey",
        "p_name",
        "p_type",
        (F.col("p_size").cast("long") / LEV_SIZE_BAND)
        .cast("long")
        .alias("band"),
    )
    cells = p.groupBy("p_type", "band", "p_name").agg(
        F.count("*").alias("n_parts"),
        F.min("p_partkey").alias("min_key"),
    )
    a = cells.select(
        "p_type",
        "band",
        F.col("p_name").alias("name_a"),
        F.col("n_parts").alias("n_a"),
        F.col("min_key").alias("key_a"),
    )
    b = cells.select(
        "p_type",
        "band",
        F.col("p_name").alias("name_b"),
        F.col("n_parts").alias("n_b"),
        F.col("min_key").alias("key_b"),
    )
    lev = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return (
        a.join(b, ["p_type", "band"])
        .filter(
            (F.col("name_a") < F.col("name_b"))
            & (lev >= 1)
            & (lev <= LEV_MAX)
        )
        .select(
            "p_type",
            "band",
            "name_a",
            "name_b",
            lev.cast("long").alias("lev"),
            "n_a",
            "n_b",
            "key_a",
            "key_b",
        )
    )


PART_NAME_FUZZY_ORACLE = f"""
WITH p AS (
  SELECT p_partkey, p_name, p_type,
         CAST(p_size AS BIGINT) // {LEV_SIZE_BAND} AS band
  FROM part
),
cells AS (
  SELECT p_type, band, p_name,
         CAST(count(*) AS BIGINT) AS n_parts,
         min(p_partkey) AS min_key
  FROM p GROUP BY p_type, band, p_name
)
SELECT a.p_type, a.band,
       a.p_name AS name_a, b.p_name AS name_b,
       CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS lev,
       a.n_parts AS n_a, b.n_parts AS n_b,
       a.min_key AS key_a, b.min_key AS key_b
FROM cells a JOIN cells b
  ON a.p_type = b.p_type AND a.band = b.band
 AND a.p_name < b.p_name
WHERE levenshtein(a.p_name, b.p_name) BETWEEN 1 AND {LEV_MAX}
"""


LIFT_MIN_DF = 5  # vocabulary gate: document frequency ≥ 5
LIFT_MIN_COSUP = 5  # pair gate: co-occurrence support ≥ 5
LIFT_SCALE = 1_000_000  # fixed-point scale for the lift ratio


def token_lift_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association-rule mining over the corpus vocabulary: token pairs
    whose document co-occurrence LIFT — P(x,y) / (P(x)·P(y)) — is
    computed in exact integer fixed-point
    (``(SCALE·N·c_xy) div (c_x·c_y)``), with minimum document
    frequency and minimum co-support gates (the Apriori downward-
    closure cut: a pair can't be frequent if either token isn't).
    Lift is the collocation/market-basket signal a curation stack
    uses to find boilerplate templates (lift >> 1) and build
    co-occurrence features.

    Scale: the per-doc pair explosion is the classic itemset-mining
    cost, bounded by (vocab tokens per doc)², NOT corpus size — the
    df ≥ {LIFT_MIN_DF} vocabulary join prunes the long tail before
    any pairing, and the support gate keeps the output frequent-pairs
    sized. Two shuffles (doc-grain self-join, pair-grain count) plus
    the vocab count; the corpus total N rides the canonical 1-row
    broadcast crossJoin.

    Overflow bound: SCALE·N·c_xy < 2^63 for N up to ~3e6 docs at
    c_xy = N; production re-scales SCALE down as N grows (the lift
    RANKING is scale-invariant).
    """
    docs = load_table(spark, sf_dir, "documents")
    dt = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(F.split(F.col("text"), " "))
        ).alias("tok"),
    )
    dfr = dt.groupBy("tok").agg(F.count("*").alias("df"))
    vocab = dfr.filter(F.col("df") >= LIFT_MIN_DF)
    dtv = dt.join(vocab, "tok")
    x = dtv.select(
        "doc_id", F.col("tok").alias("tok_a"), F.col("df").alias("df_a")
    )
    y = dtv.select(
        "doc_id", F.col("tok").alias("tok_b"), F.col("df").alias("df_b")
    )
    co = (
        x.join(y, "doc_id")
        .filter(F.col("tok_a") < F.col("tok_b"))
        .groupBy("tok_a", "tok_b")
        .agg(
            F.count("*").alias("c_xy"),
            F.min("df_a").alias("df_a"),
            F.min("df_b").alias("df_b"),
        )
        .filter(F.col("c_xy") >= LIFT_MIN_COSUP)
    )
    n = docs.agg(F.count("*").alias("n_docs"))
    return co.crossJoin(F.broadcast(n)).select(
        "tok_a",
        "tok_b",
        "c_xy",
        "df_a",
        "df_b",
        F.expr(
            f"({LIFT_SCALE} * n_docs * c_xy) div (df_a * df_b)"
        ).alias("lift_fp"),
    )


TOKEN_LIFT_ORACLE = f"""
WITH dt AS (
  SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS tok
  FROM documents
),
dfr AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS df FROM dt GROUP BY tok
  HAVING count(*) >= {LIFT_MIN_DF}
),
dtv AS (SELECT dt.doc_id, dt.tok, dfr.df FROM dt JOIN dfr USING (tok)),
co AS (
  SELECT x.tok AS tok_a, y.tok AS tok_b,
         CAST(count(*) AS BIGINT) AS c_xy,
         min(x.df) AS df_a, min(y.df) AS df_b
  FROM dtv x JOIN dtv y
    ON x.doc_id = y.doc_id AND x.tok < y.tok
  GROUP BY x.tok, y.tok
  HAVING count(*) >= {LIFT_MIN_COSUP}
),
n AS (SELECT CAST(count(*) AS BIGINT) AS n_docs FROM documents)
SELECT tok_a, tok_b, c_xy, df_a, df_b,
       CAST(({LIFT_SCALE} * n.n_docs * c_xy) // (df_a * df_b) AS BIGINT)
         AS lift_fp
FROM co, n
"""


LPA_ROUNDS = 4


def graph_lpa_communities(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Label-propagation communities over the near-dup graph — the
    graph suite's community detector (CC gives reachability, k-core
    density, PageRank centrality, triangles local cliquishness; LPA
    splits a component whose dense families touch through one bridge
    edge, which is what a dedup review queue actually wants grouped).
    Synchronous most-frequent-neighbor-label rounds with smallest-
    label tiebreak — fully deterministic, and a FIXED 4 rounds so the
    oracle unrolls the identical CTEs (the kcore/pagerank device).
    Output: one row per node with its community label.
    """
    hs = gram_hash_arrays(
        widen_partitions(load_table(spark, sf_dir, "documents"))
    )
    pairs = minhash_lsh_pairs_arr(hs).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    out = label_propagation_fixed(pairs, "da", "db", n_rounds=LPA_ROUNDS)
    return out.select(F.col("node").alias("doc_id"), F.col("label").alias("community"))


def _lpa_oracle() -> str:
    minhash = _minhash_oracle().strip()
    rounds = []
    for t in range(1, LPA_ROUNDS + 1):
        prev = f"l{t - 1}"
        rounds.append(
            f"""f{t} AS (
  SELECT e.a AS node, l.label, count(*) AS cnt
  FROM e0 e JOIN {prev} l ON e.b = l.node GROUP BY e.a, l.label
),
l{t} AS MATERIALIZED (
  SELECT node, label FROM (
    SELECT node, label,
           row_number() OVER (PARTITION BY node
                              ORDER BY cnt DESC, label) AS rn
    FROM f{t}
  ) WHERE rn = 1
)"""
        )
    chain = ",\n".join(rounds)
    return f"""
WITH pairs AS (SELECT da, db FROM ({minhash}) mh),
e0 AS MATERIALIZED (SELECT da AS a, db AS b FROM pairs
       UNION ALL SELECT db, da FROM pairs),
l0 AS (SELECT DISTINCT a AS node, a AS label FROM e0),
{chain}
SELECT node AS doc_id, label AS community FROM l{LPA_ROUNDS}
"""


KCORE_K = 2
KCORE_ROUNDS = 4


def graph_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition (k=2) of the verified near-dup graph:
    iteratively peel nodes with degree < k until only the dense core
    remains. The 2-core strips leaf chains and isolated pairs — what
    survives are the cyclic duplicate families (template spam, mirror
    farms) worth auditing as a group rather than pair-by-pair; the
    complement (docs that peel off) are the cheap independent drops.
    Complements graph_triangle_count (local density) and doc_pagerank
    (centrality) with the standard global-coreness cut.

    Determinism: a FIXED 4 rounds of synchronous peeling
    (operators.graph.kcore_edges); the oracle unrolls the identical
    rounds as chained CTEs, so the comparison is exact even before
    convergence — and the fixpoint test in tests/test_graph.py pins
    that 4 rounds ARE the fixpoint on this corpus. Output is one row
    per surviving node with its in-core degree.
    """
    hs = gram_hash_arrays(
        widen_partitions(load_table(spark, sf_dir, "documents"))
    )
    pairs = minhash_lsh_pairs_arr(hs).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    core = kcore_edges(pairs, "da", "db", k=KCORE_K, n_rounds=KCORE_ROUNDS)
    return core.groupBy(F.col("a").alias("doc_id")).agg(
        F.count("*").alias("core_deg")
    )


def _kcore_oracle() -> str:
    minhash = _minhash_oracle().strip()
    rounds = []
    for i in range(1, KCORE_ROUNDS + 1):
        prev = f"e{i - 1}"
        rounds.append(
            f"""a{i} AS (
  SELECT a FROM {prev} GROUP BY a HAVING count(*) >= {KCORE_K}
),
e{i} AS MATERIALIZED (
  SELECT e.a, e.b FROM {prev} e
  JOIN a{i} x ON e.a = x.a
  JOIN a{i} y ON e.b = y.a
)"""
        )
    chain = ",\n".join(rounds)
    return f"""
WITH pairs AS (SELECT da, db FROM ({minhash}) mh),
e0 AS MATERIALIZED (SELECT da AS a, db AS b FROM pairs
       UNION ALL SELECT db, da FROM pairs),
{chain}
SELECT a AS doc_id, CAST(count(*) AS BIGINT) AS core_deg
FROM e{KCORE_ROUNDS} GROUP BY a
"""


QUERIES = {
    "doc_pagerank": doc_pagerank,
    "graph_kcore": graph_kcore,
    "graph_lpa_communities": graph_lpa_communities,
    "graph_triangle_count": graph_triangle_count,
    "part_entity_resolution": part_entity_resolution,
    "part_entity_resolution_scaled": part_entity_resolution_scaled,
    "part_name_fuzzy_matches": part_name_fuzzy_matches,
    "token_lift_pairs": token_lift_pairs,
}

ORACLES = {
    "doc_pagerank": _pagerank_oracle(),
    "graph_kcore": _kcore_oracle(),
    "graph_lpa_communities": _lpa_oracle(),
    "graph_triangle_count": _triangle_oracle(),
    # the two ER forms are output-identical by construction, so they
    # share the oracle (same trick as dedup_prefix_filter)
    "part_entity_resolution": PART_ER_ORACLE,
    "part_entity_resolution_scaled": PART_ER_ORACLE,
    "part_name_fuzzy_matches": PART_NAME_FUZZY_ORACLE,
    "token_lift_pairs": TOKEN_LIFT_ORACLE,
}

# record-grain ground truth for the cell-grain twin: blocks over a
# FIXED key domain grow linearly with the catalog, candidate pairs
# quadratically — guarded at ER_MAX_BLOCK; the twin is the 100 TB path
SCALE_CLASS = {"part_entity_resolution": "baseline"}
SCALE_PATH_FOR = {
    "part_entity_resolution": "part_entity_resolution_scaled",
}
