"""Deduplication queries over the `documents` table.

The testdata corpus has planted near-duplicates (top pairs at word-
3-gram Jaccard ≈ 0.97+); threshold 0.5 separates them cleanly from the
shared-vocabulary background (~0.01-0.1).

The DuckDB oracles are code-generated from the SAME constants
(MINHASH_PERMS, band layout, md5 fragment) as the Spark plans, so both
engines compute identical signatures, candidates, and Jaccard values.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from firefox_public_data_report_etl_spark.functions import (
    md5_int_spark_sql,
    md5_int_sql,
    minhash_perm_sql,
)
from firefox_public_data_report_etl_spark.operators.parallelism import (
    widen_partitions,
)
from firefox_public_data_report_etl_spark.operators.dedup import (
    DUCK_SHINGLES,
    N_BANDS,
    ROWS_PER_BAND,
    all_pairs_jaccard,
    gram_hash_arrays,
    make_perms,
    containment_pairs,
    minhash_lsh_pairs_arr,
    prefix_filter_pairs,
    shingle_rows,
)
from firefox_public_data_report_etl_spark.sources import load_table

JACCARD_THRESHOLD = 0.5


def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: md5 content hash → survivor (min id) + group size.
    One shuffle on the hash; at 100 TB, hash first so the shuffle moves
    32-byte keys, not documents."""
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.groupBy(F.md5("text").alias("text_hash"))
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.count("*").alias("dup_count"),
        )
    )


DEDUP_EXACT_ORACLE = """
SELECT md5(text) AS text_hash, min(doc_id) AS doc_id, count(*) AS dup_count
FROM documents GROUP BY md5(text)
"""


def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force word-3-gram Jaccard pairs ≥ threshold (the baseline
    the LSH path must reproduce)."""
    sh = shingle_rows(load_table(spark, sf_dir, "documents"))
    return all_pairs_jaccard(sh).filter(F.col("jaccard") >= JACCARD_THRESHOLD)


# the `d` CTE is the re-sourcing point: the curation capstone's
# near-dup oracle feeds the SAME code-generated minhash chain from its
# cleaned-corpus CTE instead of the raw documents table.
_D_CTE_DEFAULT = "SELECT doc_id, string_split(text, ' ') AS t FROM documents"

_DUCK_SHINGLE_CTES = f"""
d AS ({_D_CTE_DEFAULT}),
dd AS (SELECT doc_id, t FROM d WHERE len(t) >= 3),
raw AS (SELECT doc_id, unnest(list_distinct({DUCK_SHINGLES})) AS g FROM dd),
sh AS (SELECT DISTINCT doc_id, {md5_int_sql('g')} AS h FROM raw),
sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id)
"""

DEDUP_NGRAM_ORACLE = f"""
WITH {_DUCK_SHINGLE_CTES.strip()},
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT da, db,
       CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
FROM inter JOIN sizes x ON da = x.doc_id JOIN sizes y ON db = y.doc_id
WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= {JACCARD_THRESHOLD}
"""


def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash(16) + LSH(4 bands x 4 rows) candidates, verified with
    exact Jaccard — the scale path: no all-pairs join ever happens.

    Round 4: runs the ARRAY-NATIVE pipeline (operators.dedup.
    minhash_lsh_pairs_arr) — per-doc gram-hash arrays, signatures via
    array_min (narrow), two shuffles total (band self-join + candidate
    dedup) instead of the row-form's five. Byte-identical results
    (agreement-tested against the row form), 45% faster at sf0.1.

    The documents scan is widened before gram hashing: per-row md5
    over every 3-gram otherwise runs inside the ONE task a
    single-row-group file scans as (operators.parallelism)."""
    hs = gram_hash_arrays(
        widen_partitions(load_table(spark, sf_dir, "documents"))
    )
    return minhash_lsh_pairs_arr(hs).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


def _minhash_oracle(
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
    d_cte: str = _D_CTE_DEFAULT,
) -> str:
    mins = ",\n         ".join(
        f"min({minhash_perm_sql('h', a, b)}) AS mh{k}"
        for k, (a, b) in enumerate(make_perms(n_bands * rows_per_band))
    )
    band_selects = []
    for i in range(n_bands):
        cols = [f"mh{i * rows_per_band + r}" for r in range(rows_per_band)]
        expr = cols[0]
        for c in cols[1:]:
            expr = f"({expr} * 31 + {c})"
        band_selects.append(f"SELECT doc_id, {i} AS bi, {expr} AS bv FROM sigs")
    bands = "\nUNION ALL\n".join(band_selects)
    shingle_ctes = _DUCK_SHINGLE_CTES.replace(_D_CTE_DEFAULT, d_cte, 1)
    return f"""
WITH {shingle_ctes.strip()},
sigs AS (SELECT doc_id,
         {mins}
         FROM sh GROUP BY doc_id),
bands AS ({bands}),
cand AS (SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
         FROM bands a JOIN bands b
           ON a.bi = b.bi AND a.bv = b.bv AND a.doc_id < b.doc_id),
inter AS (
  SELECT c.da, c.db, count(*) AS inter
  FROM cand c
  JOIN sh x ON x.doc_id = c.da
  JOIN sh y ON y.doc_id = c.db AND y.h = x.h
  GROUP BY c.da, c.db
)
SELECT da, db,
       CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
FROM inter JOIN sizes x ON da = x.doc_id JOIN sizes y ON db = y.doc_id
WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= {JACCARD_THRESHOLD}
"""


def dedup_minhash_lsh_prod(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Production-hash twin of ``dedup_minhash_lsh``: identical
    pipeline with ``hash_mode="xxhash64"`` (28-bit-masked xxHash64
    instead of the md5-prefix parity hash). Not in the query registry —
    DuckDB has no xxHash64, so there is no oracle; the agreement test
    (test_production_paths) pins its thresholded pair set against the
    parity query, and bench.py reports its wall time as an extra row
    (the hash swap removes the md5 hex-string materialization from the
    shingle scan, the dominant map-side cost)."""
    hs = gram_hash_arrays(
        widen_partitions(load_table(spark, sf_dir, "documents")),
        hash_mode="xxhash64",
    )
    return minhash_lsh_pairs_arr(hs).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


HIRECALL_BANDS = 8


def dedup_minhash_lsh_hirecall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recall knob exercised end-to-end: same array-native pipeline
    with 8 bands x 4 rows (32 permutations). Candidate probability at
    Jaccard J is 1-(1-J^4)^8 — ~0.98 at J = 0.8 where the 4x4 default
    sits at ~0.88 (measured curves in SCALING.md round 5) — for ~2x
    band-join volume. The verify step is identical, so precision is
    unchanged; the oracle is code-generated from the same banding
    parameters."""
    hs = gram_hash_arrays(
        widen_partitions(load_table(spark, sf_dir, "documents"))
    )
    return minhash_lsh_pairs_arr(hs, n_bands=HIRECALL_BANDS).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )


def dedup_prefix_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT near-dup pairs at Jaccard ≥ 0.5 via prefix filtering
    (operators.dedup.prefix_filter_pairs) — the no-false-negative
    scale path: provably the SAME output as the brute-force
    ``dedup_ngram_jaccard`` (the oracle is reused verbatim), computed
    without the all-pairs shingle join. MinHash-LSH trades recall for
    cost; this trades a bounded rare-token candidate join for
    exactness — the right tool when a missed duplicate is a contract
    violation (eval-set contamination scrubs, takedown compliance)."""
    hs = gram_hash_arrays(
        widen_partitions(load_table(spark, sf_dir, "documents"))
    )
    return prefix_filter_pairs(hs, JACCARD_THRESHOLD)


CONTAINMENT_THRESHOLD = 0.8


def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directed near-subset pairs at containment ≥ 0.8
    (operators.dedup.containment_pairs): |A∩B|/|A| over distinct
    3-gram shingles — the excerpt/quote/truncated-mirror detector
    symmetric Jaccard can't see. Exact via the one-sided prefix
    filter; the oracle is the brute-force directed form, so the
    filter's losslessness is hash-pinned every gate run."""
    hs = gram_hash_arrays(
        widen_partitions(load_table(spark, sf_dir, "documents"))
    )
    return containment_pairs(hs, CONTAINMENT_THRESHOLD)


DEDUP_CONTAINMENT_ORACLE = f"""
WITH {_DUCK_SHINGLE_CTES.strip()},
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT da, db, CAST(inter AS DOUBLE) / x.n AS containment
FROM inter JOIN sizes x ON da = x.doc_id
WHERE CAST(inter AS DOUBLE) / x.n >= {CONTAINMENT_THRESHOLD}
"""


# The threshold PPJoin-family joins are DESIGNED for (Xiao et al. run
# 0.8-0.95): the prefix keeps n - ceil(t*n) + 1 ≈ 10% of each set's
# tokens at t = 0.9 vs ~half at the registry's loose t = 0.5 — the
# t-dependence prefix_filter_pairs's docstring analyzes, exercised
# end-to-end so the intended regime has its own measured bench row
# (round-11 verdict #4).
PROD_SIM_THRESHOLD = 0.9


def dedup_prefix_filter_t90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_prefix_filter`` at its production threshold t = 0.9:
    identical exact PPJoin pipeline (operators.dedup.
    prefix_filter_pairs), prefixes ~10% of shingle volume instead of
    ~half, candidates near-duplicate-only. Oracle is the same brute
    ngram-Jaccard form re-thresholded — exactness is hash-pinned at
    both ends of the threshold range."""
    hs = gram_hash_arrays(
        widen_partitions(load_table(spark, sf_dir, "documents"))
    )
    return prefix_filter_pairs(hs, PROD_SIM_THRESHOLD)


DEDUP_NGRAM_T90_ORACLE = f"""
WITH {_DUCK_SHINGLE_CTES.strip()},
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT da, db,
       CAST(inter AS DOUBLE) / (x.n + y.n - inter) AS jaccard
FROM inter JOIN sizes x ON da = x.doc_id JOIN sizes y ON db = y.doc_id
WHERE CAST(inter AS DOUBLE) / (x.n + y.n - inter) >= {PROD_SIM_THRESHOLD}
"""


def dedup_containment_t90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``dedup_containment`` at t = 0.9 — the verbatim-excerpt regime
    (quotes, truncated mirrors, licensing takedowns): one-sided
    prefix is ~10% of the contained side's shingles, candidate
    volume a fraction of the loose-threshold row's."""
    hs = gram_hash_arrays(
        widen_partitions(load_table(spark, sf_dir, "documents"))
    )
    return containment_pairs(hs, PROD_SIM_THRESHOLD)


DEDUP_CONTAINMENT_T90_ORACLE = f"""
WITH {_DUCK_SHINGLE_CTES.strip()},
inter AS (
  SELECT a.doc_id AS da, b.doc_id AS db, count(*) AS inter
  FROM sh a JOIN sh b ON a.h = b.h AND a.doc_id <> b.doc_id
  GROUP BY a.doc_id, b.doc_id
)
SELECT da, db, CAST(inter AS DOUBLE) / x.n AS containment
FROM inter JOIN sizes x ON da = x.doc_id
WHERE CAST(inter AS DOUBLE) / x.n >= {PROD_SIM_THRESHOLD}
"""


def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs → dedup clusters: connected components over the
    verified MinHash-LSH pair graph (the step that turns pairwise
    matches into keep-one-per-cluster decisions), labeled by
    alternating large-star / small-star contraction — O(log n)
    rounds on ANY graph, so chained near-dups cost no more rounds
    than shallow clusters. ``tests/test_graph.py`` pins the operator
    on adversarial topologies (long chains) the testdata graph
    doesn't contain.

    The oracle expresses the same min-id fixpoint as a recursive CTE
    — an independent formulation, so convergence bugs can't hide.
    """
    from firefox_public_data_report_etl_spark.operators.graph import (
        connected_components,
    )

    hs = gram_hash_arrays(load_table(spark, sf_dir, "documents"))
    pairs = minhash_lsh_pairs_arr(hs).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    out = connected_components(pairs, "da", "db")
    return out.select(F.col("node").alias("doc_id"), F.col("comp").alias("component"))


def _clusters_oracle() -> str:
    minhash = _minhash_oracle().strip()
    return f"""
WITH RECURSIVE
pairs AS (SELECT da, db FROM ({minhash}) mh),
e AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
)
SELECT a AS doc_id, least(a, min(b)) AS component
FROM reach GROUP BY a
"""


SPLIT_MOD = 10
SPLIT_TRAIN_LT = 8  # hash % 10: 0-7 train, 8 val, 9 test


def corpus_group_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP-AWARE train/val/test split: documents are assigned to
    splits by the portable hash of their near-dup CLUSTER id, not
    their own id — so a near-duplicate pair can never straddle the
    train/eval boundary (the leakage mode naive per-doc hash splits
    are blind to, and the reason eval numbers inflate: the model has
    "seen" a 0.97-Jaccard twin of the test doc). Singleton docs form
    their own group; 80/10/10 by construction of the hash bucket.

    Scale: the cluster step is the banded LSH + pair-graph CC already
    measured; split assignment is one hash projection — no extra
    shuffle past the cluster join. The invariant (no cross-split
    near-dup pair) is pinned by a test, not just implied."""
    hs = gram_hash_arrays(load_table(spark, sf_dir, "documents"))
    pairs = minhash_lsh_pairs_arr(hs).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    from firefox_public_data_report_etl_spark.operators.graph import (
        connected_components,
    )

    comp = connected_components(pairs, "da", "db")
    docs = load_table(spark, sf_dir, "documents").select("doc_id")
    m = docs.join(comp, docs.doc_id == comp.node, "left").select(
        "doc_id",
        F.coalesce("comp", "doc_id").alias("group_id"),
    )
    h = F.expr(md5_int_spark_sql("cast(group_id as string)"))
    split = (
        F.when(h % SPLIT_MOD < SPLIT_TRAIN_LT, "train")
        .when(h % SPLIT_MOD == SPLIT_TRAIN_LT, "val")
        .otherwise("test")
    )
    return m.select("doc_id", "group_id", split.alias("split"))


def _group_split_oracle() -> str:
    minhash = _minhash_oracle().strip()
    gh = md5_int_sql("CAST(group_id AS VARCHAR)")
    return f"""
WITH RECURSIVE
pairs AS (SELECT da, db FROM ({minhash}) mh),
e AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
),
comp AS (SELECT a AS node, least(a, min(b)) AS comp FROM reach GROUP BY a),
m AS (
  SELECT d.doc_id, coalesce(c.comp, d.doc_id) AS group_id
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.node
)
SELECT doc_id, group_id,
       CASE WHEN ({gh}) % {SPLIT_MOD} < {SPLIT_TRAIN_LT} THEN 'train'
            WHEN ({gh}) % {SPLIT_MOD} = {SPLIT_TRAIN_LT} THEN 'val'
            ELSE 'test' END AS split
FROM m
"""


def dedup_keep_best_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-aware dedup survivorship: one survivor per near-dup
    cluster, chosen as the member with the BEST LM quality score
    (lm_per_token DESC, doc_id as the deterministic tie-break) — the
    curation-correct upgrade over min-id survivorship: near-dup
    families often mix a clean original with boilerplate-injected
    mirrors, and keeping the min id keeps whichever was crawled
    first. Composes the banded near-dup graph + connected components
    with the fixed-point LM scorer, so both inputs are already
    oracle-pinned; the pick itself is one window over the
    component-keyed member table.

    The ordering key is safe cross-engine: lm_per_token is ONE IEEE
    division of two exact integers (the repo's ratio contract), and
    ties fall to doc_id.

    Scale: cluster step is the measured LSH + CC path; scoring is the
    measured LM broadcast join; the survivor window partitions by
    component (bounded by cluster size)."""
    from pyspark.sql import Window

    from firefox_public_data_report_etl_spark.operators.graph import (
        connected_components,
    )
    from firefox_public_data_report_etl_spark.operators.text import (
        lm_unigram_scores,
    )
    from firefox_public_data_report_etl_spark.plans.text import (
        LM_REF_KEEP,
        LM_REF_MOD,
    )

    docs = load_table(spark, sf_dir, "documents")
    hs = gram_hash_arrays(docs)
    pairs = minhash_lsh_pairs_arr(hs).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    comp = connected_components(pairs, "da", "db")
    scored = lm_unigram_scores(
        docs, F.col("doc_id") % LM_REF_MOD < LM_REF_KEEP
    )
    m = scored.join(comp, scored.doc_id == comp.node, "left").select(
        "doc_id",
        "n_tokens",
        "score_munats",
        "lm_per_token",
        F.coalesce("comp", "doc_id").alias("component"),
    )
    w = Window.partitionBy("component").orderBy(
        F.desc("lm_per_token"), "doc_id"
    )
    return (
        m.select(
            "component",
            "doc_id",
            "n_tokens",
            "score_munats",
            F.row_number().over(w).alias("rn"),
            F.count("*").over(Window.partitionBy("component")).alias(
                "n_members"
            ),
        )
        .filter(F.col("rn") == 1)
        .select(
            "component",
            "doc_id",
            F.col("n_members").cast("long").alias("n_members"),
            "n_tokens",
            "score_munats",
        )
    )


def preference_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RLHF/DPO preference-pair assembly from quality-divergent
    near-duplicates — the data-side recipe for preference tuning
    without human labels (public pattern: near-dup families often
    contain a clean original and a degraded mirror; the pair
    (best, worst) by an automatic quality score becomes a
    (chosen, rejected) training example). Composes the oracle-pinned
    MinHash-LSH cluster graph with the fixed-point LM scorer: per
    component with ≥ 2 members, chosen = best lm_per_token (doc_id
    tie-break), rejected = worst (reverse tie-break so a full tie
    still yields distinct docs), and the pair ships only with a
    STRICTLY positive exact margin — computed as the cross-multiplied
    integer inequality chosen_score·rejected_tokens −
    rejected_score·chosen_tokens > 0, so the gate never rides IEEE
    rounding.

    Scale: cluster + scoring are the measured LSH/CC/LM paths; the
    pick is one component-grain aggregate (round 13: ``max_by`` /
    ``min_by`` over the same (lm_per_token, doc_id) orderings the two
    former row_number windows sorted by — one exchange, no sorts, no
    count-window, and no component-keyed chosen⋈rejected self-join;
    doc_id is unique within a component, so each ordering is total
    and the argmax/argmin pick the identical rows)."""
    from firefox_public_data_report_etl_spark.operators.graph import (
        connected_components,
    )
    from firefox_public_data_report_etl_spark.operators.text import (
        lm_unigram_scores,
    )
    from firefox_public_data_report_etl_spark.plans.text import (
        LM_REF_KEEP,
        LM_REF_MOD,
    )

    docs = load_table(spark, sf_dir, "documents")
    hs = gram_hash_arrays(docs)
    pairs = minhash_lsh_pairs_arr(hs).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    comp = connected_components(pairs, "da", "db")
    scored = lm_unigram_scores(
        docs, F.col("doc_id") % LM_REF_MOD < LM_REF_KEEP
    )
    m = scored.join(comp, scored.doc_id == comp.node, "inner").select(
        "doc_id",
        "n_tokens",
        "score_munats",
        "lm_per_token",
        F.col("comp").alias("component"),
    )
    # chosen = argmax (lm_per_token DESC, doc_id ASC) ≡ max_by over
    # the lexicographic key (lm_per_token, -doc_id); rejected = argmin
    # of the SAME key (min of -doc_id = doc_id DESC, the reverse
    # tie-break). One hash aggregate replaces two sorted windows, a
    # count window, and the component self-join; n_members rides the
    # same aggregate row.
    picked = m.groupBy("component").agg(
        F.count("*").cast("long").alias("n_members"),
        F.expr(
            "max_by(struct(doc_id, n_tokens, score_munats),"
            " struct(lm_per_token, -doc_id))"
        ).alias("ch"),
        F.expr(
            "min_by(struct(doc_id, n_tokens, score_munats),"
            " struct(lm_per_token, -doc_id))"
        ).alias("rj"),
    )
    return (
        picked.select(
            "component",
            "n_members",
            F.col("ch.doc_id").alias("chosen_id"),
            F.col("ch.n_tokens").alias("chosen_n_tokens"),
            F.col("ch.score_munats").alias("chosen_score_munats"),
            F.col("rj.doc_id").alias("rejected_id"),
            F.col("rj.n_tokens").alias("rejected_n_tokens"),
            F.col("rj.score_munats").alias("rejected_score_munats"),
        )
        .filter(F.col("n_members") >= 2)
        .withColumn(
            "margin_x",
            F.col("chosen_score_munats") * F.col("rejected_n_tokens")
            - F.col("rejected_score_munats") * F.col("chosen_n_tokens"),
        )
        .filter(F.col("margin_x") > 0)
        .select(
            "component",
            "n_members",
            "chosen_id",
            "rejected_id",
            "chosen_n_tokens",
            "chosen_score_munats",
            "rejected_n_tokens",
            "rejected_score_munats",
            "margin_x",
        )
    )


def _preference_pairs_oracle() -> str:
    from firefox_public_data_report_etl_spark.plans.text import (
        _lm_quality_oracle,
    )

    minhash = _minhash_oracle().strip()
    lm = _lm_quality_oracle().strip()
    return f"""
WITH RECURSIVE
pairs AS (SELECT da, db FROM ({minhash}) mh),
e AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
),
comp AS (SELECT a AS node, least(a, min(b)) AS comp FROM reach GROUP BY a),
lm AS (SELECT * FROM ({lm}) q),
m AS (
  SELECT lm.doc_id, lm.n_tokens, lm.score_munats, lm.lm_per_token,
         c.comp AS component
  FROM lm JOIN comp c ON lm.doc_id = c.node
),
r AS (
  SELECT component, doc_id, n_tokens, score_munats,
         row_number() OVER (PARTITION BY component
                            ORDER BY lm_per_token DESC, doc_id) AS rb,
         row_number() OVER (PARTITION BY component
                            ORDER BY lm_per_token, doc_id DESC) AS rw,
         CAST(count(*) OVER (PARTITION BY component) AS BIGINT)
           AS n_members
  FROM m
),
ch AS (SELECT component, n_members, doc_id AS chosen_id,
              n_tokens AS chosen_n_tokens,
              score_munats AS chosen_score_munats
       FROM r WHERE rb = 1),
rj AS (SELECT component, doc_id AS rejected_id,
              n_tokens AS rejected_n_tokens,
              score_munats AS rejected_score_munats
       FROM r WHERE rw = 1)
SELECT ch.component, ch.n_members, ch.chosen_id, rj.rejected_id,
       ch.chosen_n_tokens, ch.chosen_score_munats,
       rj.rejected_n_tokens, rj.rejected_score_munats,
       CAST(ch.chosen_score_munats * rj.rejected_n_tokens
            - rj.rejected_score_munats * ch.chosen_n_tokens AS BIGINT)
         AS margin_x
FROM ch JOIN rj ON ch.component = rj.component
WHERE ch.n_members >= 2
  AND ch.chosen_score_munats * rj.rejected_n_tokens
      - rj.rejected_score_munats * ch.chosen_n_tokens > 0
"""


def _keep_best_lm_oracle() -> str:
    from firefox_public_data_report_etl_spark.plans.text import (
        _lm_quality_oracle,
    )

    minhash = _minhash_oracle().strip()
    lm = _lm_quality_oracle().strip()
    return f"""
WITH RECURSIVE
pairs AS (SELECT da, db FROM ({minhash}) mh),
e AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
),
comp AS (SELECT a AS node, least(a, min(b)) AS comp FROM reach GROUP BY a),
lm AS (SELECT * FROM ({lm}) q),
m AS (
  SELECT lm.doc_id, lm.n_tokens, lm.score_munats, lm.lm_per_token,
         coalesce(c.comp, lm.doc_id) AS component
  FROM lm LEFT JOIN comp c ON lm.doc_id = c.node
),
r AS (
  SELECT component, doc_id, n_tokens, score_munats,
         row_number() OVER (PARTITION BY component
                            ORDER BY lm_per_token DESC, doc_id) AS rn,
         CAST(count(*) OVER (PARTITION BY component) AS BIGINT)
           AS n_members
  FROM m
)
SELECT component, doc_id, n_members, n_tokens, score_munats
FROM r WHERE rn = 1
"""


EMBED_NEARDUP_THRESHOLD = 0.45


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: exact quantized cosine over all
    id-ordered pairs, thresholded. This is the correctness baseline;
    the 100 TB path prefilters with banded random-hyperplane buckets
    (see operators.similarity.sign_bucket) before the exact verify.

    The pair dots run through the Arrow integer-matmul stage
    (round 11: `cosine_threshold_pairs_matmul` — same scale-killer
    fix as the caption retrieval scorer; 20.8 s → ~1 s at sf0.1,
    values and oracle bit-unchanged)."""
    from firefox_public_data_report_etl_spark.operators.similarity import quantized
    from firefox_public_data_report_etl_spark.operators.vectorized import (
        cosine_threshold_pairs_matmul,
    )

    emb = quantized(load_table(spark, sf_dir, "embeddings")).cache()
    return cosine_threshold_pairs_matmul(emb, EMBED_NEARDUP_THRESHOLD)


EMBED_NEARDUP_ORACLE = f"""
WITH qt AS (SELECT vec_id,
        list_transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT)) AS q
       FROM embeddings),
e AS (SELECT vec_id, unnest(q) AS v, unnest(range(1, len(q) + 1)) AS i FROM qt),
norms AS (SELECT vec_id, CAST(sum(v * v) AS BIGINT) AS norm FROM e GROUP BY vec_id),
dots AS (
  SELECT a.vec_id AS da, b.vec_id AS db, CAST(sum(a.v * b.v) AS BIGINT) AS dot
  FROM e a JOIN e b ON a.i = b.i AND a.vec_id < b.vec_id
  GROUP BY a.vec_id, b.vec_id
),
sc AS (
  SELECT da, db,
         CAST(dot AS DOUBLE) / sqrt(CAST(x.norm AS DOUBLE) * CAST(y.norm AS DOUBLE)) AS cos
  FROM dots JOIN norms x ON da = x.vec_id JOIN norms y ON db = y.vec_id
)
SELECT da, db, cos FROM sc WHERE cos >= {EMBED_NEARDUP_THRESHOLD}
"""


def dedup_decisions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's END PRODUCT: per near-dup cluster, keep
    exactly one document — the one with the richest vocabulary
    (highest distinct-token count; ties break to the lowest doc_id) —
    and mark the rest for removal. Composes three operator families:
    array-native MinHash-LSH pairs → connected components → quality
    ranking. Integer keep-criterion, so the decision is deterministic
    in any engine.

    Scale: clusters and quality scores are both doc-grain; the rank is
    a window over components (cluster-sized partitions — bounded by
    near-dup group sizes, not corpus size).
    """
    from firefox_public_data_report_etl_spark.operators.text import (
        quality_features,
    )
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    clusters = dedup_clusters(spark, sf_dir)
    quality = quality_features(docs).select("doc_id", "n_types")
    ranked = clusters.join(quality, "doc_id").withColumn(
        "rnk",
        F.row_number().over(
            Window.partitionBy("component").orderBy(
                F.desc("n_types"), F.asc("doc_id")
            )
        ),
    )
    return ranked.select(
        "doc_id", "component", "n_types", (F.col("rnk") == 1).alias("keep")
    )


def _decisions_oracle() -> str:
    clusters = _clusters_oracle().strip()
    return f"""
WITH clusters AS (SELECT * FROM ({clusters}) c),
quality AS (
  SELECT doc_id, CAST(len(list_distinct(string_split(text, ' '))) AS BIGINT)
           AS n_types
  FROM documents
),
ranked AS (
  SELECT cl.doc_id, cl.component, q.n_types,
         row_number() OVER (PARTITION BY cl.component
                            ORDER BY q.n_types DESC, cl.doc_id ASC) AS rnk
  FROM clusters cl JOIN quality q USING (doc_id)
)
SELECT doc_id, component, n_types, rnk = 1 AS keep FROM ranked
"""


SIMHASH_MAX_HAMMING = 3
# 60-bit signatures, NOT text_profile's 28-bit fingerprint column:
# band buckets hold corpus/2^(bits/4) docs, so 28 bits (128-value
# bands) saturates at corpus scale while 60 bits (32k-value bands)
# keeps the block join sparse — and 15 md5 nibbles still fit a
# BIGINT, so the DuckDB oracle reproduces signatures bit-for-bit.
# The 64-bit xxhash64 production mode drops the md5 hex cost
# entirely (operators/dedup.py simhash_pairs(bits=64,
# hash_mode="xxhash64"); banding-losslessness is hash-agnostic —
# test_simhash_pairs_banding_is_lossless covers both).
SIMHASH_PAIR_BITS = 60


def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs at Hamming ≤ 3 over 60-bit signatures —
    the fingerprint-distance sibling of `dedup_minhash_lsh` (exact
    recall at the cutoff via pigeonhole banding, no probabilistic
    miss). Scale: one codegen signature pass + a self-equi-join on
    (band, 15-bit value) keys; candidates shrink as corpus entropy
    grows, never an all-pairs product. The oracle twin is the brute
    all-pairs form — banding is provably lossless, so they agree
    bit-for-bit at any SF."""
    from firefox_public_data_report_etl_spark.operators.dedup import (
        simhash_pairs,
    )

    docs = load_table(spark, sf_dir, "documents")
    return simhash_pairs(
        docs, max_hamming=SIMHASH_MAX_HAMMING, bits=SIMHASH_PAIR_BITS
    )


def _simhash_pairs_oracle() -> str:
    votes = ",\n       ".join(
        f"sum(CASE WHEN (h >> {b}) & 1 = 1 THEN 1 ELSE -1 END) AS v{b}"
        for b in range(SIMHASH_PAIR_BITS)
    )
    terms = " + ".join(
        f"(CASE WHEN v{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(SIMHASH_PAIR_BITS)
    )
    return f"""
WITH tok AS (SELECT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
sh AS (SELECT doc_id, {md5_int_sql('w', nibbles=SIMHASH_PAIR_BITS // 4)} AS h FROM tok),
sv AS (SELECT doc_id,
       {votes}
      FROM sh GROUP BY doc_id),
sim AS (SELECT doc_id, CAST({terms} AS BIGINT) AS simhash FROM sv)
SELECT a.doc_id AS da, b.doc_id AS db,
       CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
FROM sim a JOIN sim b ON a.doc_id < b.doc_id
WHERE bit_count(xor(a.simhash, b.simhash)) <= {SIMHASH_MAX_HAMMING}
"""


# Incremental dedup batch split: doc_id % BATCH_MOD == 0 plays "this
# week's crawl" (125 of 500 docs at sf0.01); the rest is the curated
# base corpus whose signature index is already built. Modulo keeps
# planted near-dup pairs landing in every base/batch combination.
BATCH_MOD = 4


def dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental cross-corpus dedup (operators/incremental.py) —
    dedup this batch against the already-curated base WITHOUT
    recomputing base signatures: cross candidates come from the
    base's LSH band table (the registry form materializes the exact
    rows ``build_minhash_index`` persists — the parquet round-trip +
    partition-pruning twin is pinned equal in
    test_incremental_index; ``cross_pairs_against_bands`` is the one
    shared join), within-batch pairs from the ordinary array-native
    pipeline, and ``incremental_decisions`` turns the union graph
    into batch-grain verdicts: (doc_id, component, matched_base,
    keep).

    Oracle: full minhash recompute over base ∪ batch restricted to
    pairs touching the batch, recursive-CTE components, identical
    keep rule — so the incremental path is pinned to "exactly what a
    from-scratch run would have decided about these docs".

    Scale: the one workflow a weekly corpus refresh runs. Index side
    never rescans base text (band rows carry gram arrays); probe IO
    is partition-pruned to the batch's buckets; edges are post-LSH
    pair-sized; CC is the lineage-truncated loop."""
    from firefox_public_data_report_etl_spark.operators.dedup import (
        minhash_band_rows,
    )
    from firefox_public_data_report_etl_spark.operators.incremental import (
        cross_pairs_against_bands,
        incremental_decisions,
    )

    docs = widen_partitions(load_table(spark, sf_dir, "documents"))
    base = docs.filter(F.col("doc_id") % BATCH_MOD != 0)
    batch = docs.filter(F.col("doc_id") % BATCH_MOD == 0)
    batch_hs = gram_hash_arrays(batch).cache()
    cross = cross_pairs_against_bands(
        minhash_band_rows(gram_hash_arrays(base)),
        minhash_band_rows(batch_hs),
    ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
    within = minhash_lsh_pairs_arr(batch_hs).filter(
        F.col("jaccard") >= JACCARD_THRESHOLD
    )
    return incremental_decisions(batch.select("doc_id"), cross, within)


def _incremental_oracle() -> str:
    minhash = _minhash_oracle().strip()
    return f"""
WITH RECURSIVE
pairs AS (SELECT da, db FROM ({minhash}) mh
          WHERE da % {BATCH_MOD} = 0 OR db % {BATCH_MOD} = 0),
e AS (SELECT da AS a, db AS b FROM pairs UNION SELECT db, da FROM pairs),
reach(a, b) AS (
  SELECT a, b FROM e
  UNION
  SELECT r.a, e.b FROM reach r JOIN e ON r.b = e.a
),
comp AS (SELECT a AS node, least(a, min(b)) AS component
         FROM reach GROUP BY a),
hb AS (SELECT component, bool_or(node % {BATCH_MOD} <> 0) AS has_base
       FROM comp GROUP BY component),
batch AS (SELECT doc_id FROM documents WHERE doc_id % {BATCH_MOD} = 0),
lab AS (SELECT b.doc_id, coalesce(c.component, b.doc_id) AS component
        FROM batch b LEFT JOIN comp c ON c.node = b.doc_id),
mb AS (SELECT component, min(doc_id) AS _mb FROM lab GROUP BY component)
SELECT l.doc_id, l.component,
       coalesce(hb.has_base, FALSE) AS matched_base,
       (NOT coalesce(hb.has_base, FALSE)) AND l.doc_id = mb._mb AS keep
FROM lab l LEFT JOIN hb USING (component) JOIN mb USING (component)
"""


LINE_SPAN_TOKENS = 10


def dedup_lines_c4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-rule line/span-grain exact dedup
    (operators/text.py:dedup_line_spans): drop every repeated
    occurrence of any 10-token span corpus-wide (keep the first by
    (doc_id, seg_no)), reassemble documents from surviving spans —
    the span-grain complement of doc-grain `dedup_exact` that every
    web-corpus pipeline runs (127 duplicated spans / 278 occurrences
    at sf0.01, so the rule does real work here). Oracle: the same
    segmentation + first-occurrence window + ordered string_agg in
    DuckDB — reassembly is deterministic, so text_dedup is
    hash-matched byte-for-byte."""
    from firefox_public_data_report_etl_spark.operators.text import (
        dedup_line_spans,
    )

    docs = widen_partitions(load_table(spark, sf_dir, "documents"))
    return dedup_line_spans(docs, span_tokens=LINE_SPAN_TOKENS)


DEDUP_LINES_C4_ORACLE = f"""
WITH t AS (SELECT doc_id, string_split(text, ' ') AS toks FROM documents),
seg AS (
  SELECT doc_id, i AS seg_no,
         array_to_string(
           toks[(i * {LINE_SPAN_TOKENS} + 1):(i * {LINE_SPAN_TOKENS} + {LINE_SPAN_TOKENS})],
           ' ') AS line
  FROM t,
       unnest(range(0, CAST(ceil(len(toks) / {LINE_SPAN_TOKENS}.0) AS INT))) u(i)
),
k AS (
  SELECT doc_id, seg_no, line,
         row_number() OVER (PARTITION BY line ORDER BY doc_id, seg_no) = 1
           AS kept
  FROM seg
)
SELECT doc_id,
       CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       coalesce(
         string_agg(CASE WHEN kept THEN line END, ' ' ORDER BY seg_no),
         '') AS text_dedup
FROM k GROUP BY doc_id
"""


def source_overlap_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-source contamination matrix — for every source pair, how
    much distinct word-3-gram mass they share (the diagnostic a
    curation team runs before trusting per-source mixture weights:
    two "independent" crawls sharing half their shingle space are one
    source wearing two names). Reuses the dedup family's hashed
    shingle stream at SOURCE grain (``shingle_rows(id_col="source")``
    — distinct 28-bit gram hashes per source), so the shuffles move
    8-byte keys, never gram strings.

    Output: (source_a, source_b, n_grams_a, n_grams_b, n_shared,
    overlap) with overlap = |A∩B| / min(|A|,|B|) — ONE final IEEE
    division per pair (the repo's ratio contract).

    Scale: ONE corpus pass — grams group straight to hash grain
    (``collect_set(source)``, map-side combined, ≤ S elements per
    hash), each hash emits its ordered source pairs INCLUDING the
    diagonal (so the (s, s) count IS |s|'s distinct-gram size — no
    separate sizes pass), and the pair aggregate lands at ≤ S² rows.
    No doc-grain or pair-grain blowup anywhere.

    Round 12 (guide §2.4): the previous shape evaluated the hashed-
    shingle relation THREE times (both self-join sides + sizes; Spark
    shares no subplans across a DAG) and paid a (source, h) distinct
    shuffle before the join's own h shuffles. The per-h source-set
    form dedups and groups in the SAME aggregate, so the corpus is
    exploded/hashed once and exactly one gram-grain exchange remains;
    only the S²-row pair table persists (report-sized — caller-owned
    release via ``_probe_persisted``, cleared between bench rows)."""
    docs = load_table(spark, sf_dir, "documents").select("source", "text")
    from firefox_public_data_report_etl_spark.operators.dedup import (
        SPARK_SHINGLES,
        _hash28,
    )

    t = docs.select("source", F.split("text", " ").alias("t")).filter(
        F.size("t") >= 3
    )
    sh = t.select(
        "source", F.explode(F.array_distinct(F.expr(SPARK_SHINGLES))).alias("g")
    ).select("source", _hash28("g", "parity").alias("h"))
    per_h = sh.groupBy("h").agg(
        F.array_sort(F.collect_set("source")).alias("ss")
    )
    pairs = per_h.select(
        F.explode(
            F.expr(
                "flatten(transform(ss, (sa, i) ->"
                " transform(slice(ss, i + 1, size(ss) - i), sb ->"
                " struct(sa, sb))))"
            )
        ).alias("p")
    ).select(
        F.col("p.sa").alias("source_a"), F.col("p.sb").alias("source_b")
    )
    cnt = (
        pairs.groupBy("source_a", "source_b")
        .agg(F.count("*").cast("long").alias("n"))
        .persist()
    )
    diag = cnt.filter(F.col("source_a") == F.col("source_b"))
    na = F.broadcast(
        diag.select("source_a", F.col("n").alias("n_grams_a"))
    )
    nb = F.broadcast(
        diag.select(
            F.col("source_a").alias("source_b"), F.col("n").alias("n_grams_b")
        )
    )
    out = (
        cnt.filter(F.col("source_a") < F.col("source_b"))
        .withColumnRenamed("n", "n_shared")
        .join(na, "source_a")
        .join(nb, "source_b")
        .select(
            "source_a",
            "source_b",
            "n_grams_a",
            "n_grams_b",
            "n_shared",
            (
                F.col("n_shared").cast("double")
                / F.least("n_grams_a", "n_grams_b").cast("double")
            ).alias("overlap"),
        )
    )
    out._probe_persisted = [cnt]
    return out


SOURCE_OVERLAP_ORACLE = f"""
WITH d AS (SELECT source, string_split(text, ' ') AS t FROM documents),
dd AS (SELECT source, t FROM d WHERE len(t) >= 3),
raw AS (SELECT source, unnest(list_distinct({DUCK_SHINGLES})) AS g FROM dd),
sh AS (SELECT DISTINCT source, {md5_int_sql('g')} AS h FROM raw),
sizes AS (SELECT source, CAST(count(*) AS BIGINT) AS n FROM sh GROUP BY source),
inter AS (
  SELECT a.source AS source_a, b.source AS source_b,
         CAST(count(*) AS BIGINT) AS n_shared
  FROM sh a JOIN sh b ON a.h = b.h AND a.source < b.source
  GROUP BY a.source, b.source
)
SELECT source_a, source_b, x.n AS n_grams_a, y.n AS n_grams_b, n_shared,
       CAST(n_shared AS DOUBLE) / least(x.n, y.n) AS overlap
FROM inter JOIN sizes x ON source_a = x.source
           JOIN sizes y ON source_b = y.source
"""


def dedup_repeated_substrings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact repeated-substring spans (operators/text.py:
    repeated_substring_spans; Lee et al. 2022) — the suffix-array
    dedup result via repeated-k-gram island merging: every maximal
    token span of ≥ SUBSTR_GRAM tokens that occurs more than once in
    the corpus, with 1-based boundaries per document. The arbitrary-
    boundary complement of dedup_lines_c4's line-grain pass.

    Scale: 8-byte gram hashes + positions, one count aggregate, one
    hash join, a doc-partitioned island window — no global sort, no
    suffix array, nothing quadratic."""
    from firefox_public_data_report_etl_spark.operators.text import (
        repeated_substring_spans,
    )

    return repeated_substring_spans(
        widen_partitions(load_table(spark, sf_dir, "documents"))
    )


def _repeated_substr_oracle() -> str:
    from firefox_public_data_report_etl_spark.operators.text import (
        SUBSTR_GRAM as K,
    )

    gram = md5_int_sql(f"array_to_string(t[pos : pos + {K} - 1], ' ')")
    return f"""
WITH d AS (SELECT doc_id, string_split(text, ' ') AS t,
                  len(string_split(text, ' ')) AS n
           FROM documents),
g AS (SELECT doc_id, t, unnest(range(1, n - {K} + 2)) AS pos
      FROM d WHERE n >= {K}),
h AS (SELECT doc_id, pos, {gram} AS h FROM g),
rc AS (SELECT h FROM (SELECT h, count(*) AS c FROM h GROUP BY h)
       WHERE c >= 2),
rep AS (SELECT doc_id, pos FROM h JOIN rc USING (h)),
isl AS (SELECT doc_id, pos,
               pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos)
                 AS grp
        FROM rep)
SELECT doc_id,
       CAST(min(pos) AS BIGINT) AS span_start,
       CAST(max(pos) + {K} - 1 AS BIGINT) AS span_end,
       CAST(count(*) AS BIGINT) AS n_grams,
       CAST(max(pos) + {K} - 1 - min(pos) + 1 AS BIGINT) AS span_tokens
FROM isl GROUP BY doc_id, grp
"""


def dedup_substring_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring REMOVAL, keep-first policy (operators/
    text.py:substring_scrub; Lee et al. 2022 §3): tokens covered by a
    k-gram whose first occurrence is earlier (lower doc id, or
    earlier position in the same doc) are dropped, so each duplicated
    span survives exactly once corpus-wide; the cleaned text is
    reassembled byte-exactly. The removal sibling of
    dedup_repeated_substrings' detection pass.

    Scale: one gram rollup carrying (min doc, min pos), one hash
    join, foreign-cover expansion bounded by k x foreign grams, and
    per-doc array reassembly — no window at all."""
    from firefox_public_data_report_etl_spark.operators.text import (
        substring_scrub,
    )

    return substring_scrub(
        widen_partitions(load_table(spark, sf_dir, "documents"))
    )


def _substring_scrub_oracle() -> str:
    from firefox_public_data_report_etl_spark.operators.text import (
        SUBSTR_GRAM as K,
    )

    gram = md5_int_sql(f"array_to_string(t[pos : pos + {K} - 1], ' ')")
    big = 1 << 32
    return f"""
WITH d AS (SELECT doc_id, text, string_split(text, ' ') AS t,
                  len(string_split(text, ' ')) AS n
           FROM documents),
g AS (SELECT doc_id, t, unnest(range(1, n - {K} + 2)) AS pos
      FROM d WHERE n >= {K}),
h AS (SELECT doc_id, pos, {gram} AS h FROM g),
f AS (SELECT h, min(doc_id * {big} + pos) AS first_key FROM h GROUP BY h),
frn AS (SELECT doc_id, pos FROM h JOIN f USING (h)
        WHERE doc_id * {big} + pos > first_key),
cov AS (SELECT DISTINCT doc_id, pos + off AS tp
        FROM (SELECT doc_id, pos, unnest(range({K})) AS off FROM frn)),
drops AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_dropped FROM cov
          GROUP BY doc_id),
tk AS (SELECT doc_id, unnest(t) AS w, unnest(range(1, n + 1)) AS i FROM d),
kept AS (SELECT tk.doc_id, string_agg(tk.w, ' ' ORDER BY tk.i) AS s
         FROM tk LEFT JOIN cov ON tk.doc_id = cov.doc_id AND tk.i = cov.tp
         WHERE cov.tp IS NULL
         GROUP BY tk.doc_id)
SELECT d.doc_id, d.text, CAST(d.n AS BIGINT) AS n_tokens,
       coalesce(drops.n_dropped, 0) AS n_dropped,
       CASE WHEN drops.n_dropped IS NULL THEN d.text
            ELSE coalesce(kept.s, '') END AS scrubbed_text
FROM d LEFT JOIN drops USING (doc_id) LEFT JOIN kept USING (doc_id)
"""


# --- LSH parameter planner --------------------------------------------
#
# The S-curve table every MinHash deployment derives before picking
# (bands, rows_per_band): catch probability p(s) = 1 - (1 - s^r)^b.
# Computed in fixed-point ppm with TRUNCATING integer multiply-divide
# steps — one step per exponent unit, identically sequenced in both
# engines (Spark: aggregate over sequence with 10^6 init; DuckDB:
# list_reduce over the same list with the init prepended) — so the
# planner's numbers are hash-pinned, not float-approximate.
LSH_PLAN_BANDS = [2, 4, 8, 16]
LSH_PLAN_ROWS = [2, 4, 8]
LSH_PLAN_S_STEP = 5  # similarity grid: 5%..95%


def lsh_parameter_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding design table for the MinHash family: for every
    (bands, rows_per_band) candidate and similarity grid point, the
    probability (ppm) that a pair at that Jaccard similarity shares
    at least one band bucket. This is how `dedup_minhash_lsh`'s
    (4, 4) and the hi-recall twin's banding were chosen; emitting it
    as a registry query makes the trade-off auditable next to the
    measured recall tables (tools/minhash_recall.py).

    Corpus-free by design (the ``sf_dir`` input is unused): the
    relation is the literal design grid, so the plan is a few
    hundred generated rows of integer arithmetic — the point is the
    cross-engine-pinned fixed-point S-curve, not a scan."""
    grid = [
        (b, r, s)
        for b in LSH_PLAN_BANDS
        for r in LSH_PLAN_ROWS
        for s in range(LSH_PLAN_S_STEP, 100, LSH_PLAN_S_STEP)
    ]
    df = spark.createDataFrame(
        grid, "bands long, rows_per_band long, s_pct long"
    )
    powr = (
        "aggregate(sequence(1, {n}), 1000000L,"
        " (acc, i) -> (acc * {x}) div 1000000)"
    )
    return (
        df.withColumn("s_ppm", F.col("s_pct") * 10000)
        .withColumn(
            "s_r_ppm",
            F.expr(powr.format(n="rows_per_band", x="s_ppm")).cast(
                "long"
            ),
        )
        .withColumn(
            "p_catch_ppm",
            (
                1_000_000
                - F.expr(
                    powr.format(n="bands", x="(1000000 - s_r_ppm)")
                )
            ).cast("long"),
        )
        .select(
            "bands", "rows_per_band", "s_pct", "s_r_ppm", "p_catch_ppm"
        )
    )


def _lsh_planner_oracle() -> str:
    bands = ", ".join(str(b) for b in LSH_PLAN_BANDS)
    rows = ", ".join(str(r) for r in LSH_PLAN_ROWS)
    pts = ", ".join(
        str(s) for s in range(LSH_PLAN_S_STEP, 100, LSH_PLAN_S_STEP)
    )
    reduce = (
        "list_reduce(list_prepend(CAST(1000000 AS BIGINT),"
        " list_transform(range(CAST({n} AS INT)),"
        " i -> CAST({x} AS BIGINT))),"
        " (a, b) -> (a * b) // 1000000)"
    )
    return f"""
WITH grid AS (
  SELECT CAST(b.x AS BIGINT) AS bands,
         CAST(r.x AS BIGINT) AS rows_per_band,
         CAST(s.x AS BIGINT) AS s_pct
  FROM UNNEST([{bands}]) b(x), UNNEST([{rows}]) r(x),
       UNNEST([{pts}]) s(x)),
sr AS (
  SELECT bands, rows_per_band, s_pct, s_pct * 10000 AS s_ppm,
         CAST({reduce.format(n='rows_per_band', x='s_pct * 10000')}
              AS BIGINT) AS s_r_ppm
  FROM grid)
SELECT bands, rows_per_band, s_pct, s_r_ppm,
       CAST(1000000 - {reduce.format(n='bands', x='1000000 - s_r_ppm')}
            AS BIGINT) AS p_catch_ppm
FROM sr
"""


QUERIES = {
    "lsh_parameter_planner": lsh_parameter_planner,
    "dedup_exact": dedup_exact,
    "dedup_incremental": dedup_incremental,
    "dedup_lines_c4": dedup_lines_c4,
    "dedup_simhash": dedup_simhash,
    "dedup_ngram_jaccard": dedup_ngram_jaccard,
    "dedup_minhash_lsh": dedup_minhash_lsh,
    "dedup_minhash_lsh_hirecall": dedup_minhash_lsh_hirecall,
    "dedup_prefix_filter": dedup_prefix_filter,
    "dedup_prefix_filter_t90": dedup_prefix_filter_t90,
    "dedup_containment": dedup_containment,
    "dedup_containment_t90": dedup_containment_t90,
    "dedup_clusters": dedup_clusters,
    "corpus_group_split": corpus_group_split,
    "dedup_keep_best_lm": dedup_keep_best_lm,
    "preference_pairs": preference_pairs,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "dedup_decisions": dedup_decisions,
    "source_overlap_matrix": source_overlap_matrix,
    "dedup_repeated_substrings": dedup_repeated_substrings,
    "dedup_substring_scrub": dedup_substring_scrub,
}

ORACLES = {
    "lsh_parameter_planner": _lsh_planner_oracle(),
    "dedup_exact": DEDUP_EXACT_ORACLE,
    "dedup_incremental": _incremental_oracle(),
    "dedup_lines_c4": DEDUP_LINES_C4_ORACLE,
    "dedup_simhash": _simhash_pairs_oracle(),
    "dedup_ngram_jaccard": DEDUP_NGRAM_ORACLE,
    "dedup_minhash_lsh": _minhash_oracle(),
    "dedup_minhash_lsh_hirecall": _minhash_oracle(n_bands=HIRECALL_BANDS),
    # exact-output scale path: same result set as brute force, so the
    # brute-force oracle IS its oracle (prefix filtering is lossless)
    "dedup_prefix_filter": DEDUP_NGRAM_ORACLE,
    "dedup_prefix_filter_t90": DEDUP_NGRAM_T90_ORACLE,
    "dedup_containment": DEDUP_CONTAINMENT_ORACLE,
    "dedup_containment_t90": DEDUP_CONTAINMENT_T90_ORACLE,
    "dedup_clusters": _clusters_oracle(),
    "corpus_group_split": _group_split_oracle(),
    "dedup_keep_best_lm": _keep_best_lm_oracle(),
    "preference_pairs": _preference_pairs_oracle(),
    "dedup_embedding_cosine": EMBED_NEARDUP_ORACLE,
    "dedup_decisions": _decisions_oracle(),
    "source_overlap_matrix": SOURCE_OVERLAP_ORACLE,
    "dedup_repeated_substrings": _repeated_substr_oracle(),
    "dedup_substring_scrub": _substring_scrub_oracle(),
}

# brute-force ground truths for the banded scale paths (registry.py
# SCALE_CLASS contract): run at test SF only
SCALE_CLASS = {
    "dedup_ngram_jaccard": "baseline",
    "dedup_embedding_cosine": "baseline",
}
SCALE_PATH_FOR = {
    "dedup_ngram_jaccard": "dedup_minhash_lsh",
    "dedup_embedding_cosine": "ann_lsh",
}
