"""Similarity search over embedding columns.

Brute-force cosine top-k as the correctness baseline, and a
sign-bucket LSH variant as the scale path. Both operate on QUANTIZED
embeddings — ``floor(x * 1000)`` int64 components — so dot products
and norms are exact integer arithmetic and the final cosine is a
single deterministic FP expression, bit-identical in Spark and the
DuckDB oracle. Every Spark-side scorer (here, operators.vectorized,
the streaming embedding gate, the plans) takes that expression from
``functions.cosine``: an all-zero vector scores NULL, as in DuckDB.

Scale notes: brute force is |Q| x |C| — fine for |Q| small (the
queries side is broadcast, candidates never shuffle). The LSH variant
buckets both sides by the sign pattern of leading components: the
join becomes per-bucket, trading recall for a 2^bits fan-in
reduction; recall improves with multiple hyperplane tables (extend by
unioning several bucket functions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from firefox_public_data_report_etl_spark.functions import cosine

QUANT = "transform(embedding, x -> CAST(floor(CAST(x AS DOUBLE) * 1000) AS BIGINT))"
_DOT = "aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (s, v) -> s + v)"
_NORM = "aggregate(transform(q, x -> x * x), 0L, (s, v) -> s + v)"


def quantized(emb: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """(id, q, norm): int64-quantized embedding + exact squared norm."""
    return emb.select(
        id_col, F.expr(QUANT).alias("q")
    ).withColumn("norm", F.expr(_NORM))


def cosine_topk(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    id_col: str = "vec_id",
    band: tuple[float, float] | None = None,
) -> DataFrame:
    """(q_id, n_id, rank, cos): brute-force exact top-k by cosine.

    ``queries``/``candidates`` are `quantized` outputs. Queries are
    broadcast; ties break on candidate id for determinism.
    ``band=(lo, hi)`` restricts ranking to the OPEN cosine interval
    (lo, hi) — the hard-negative-mining mode (round-7): candidates
    at/above ``hi`` are the near-dup positives and must not leak
    into the negative set, below ``lo`` they are too easy to teach
    anything.
    """
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col("q").alias("qa"), F.col("norm").alias("na")
    )
    c = candidates.select(
        F.col(id_col).alias("n_id"), F.col("q").alias("qb"), F.col("norm").alias("nb")
    )
    scored = (
        c.join(F.broadcast(q), F.col("q_id") != F.col("n_id"))
        .withColumn("dot", F.expr(_DOT))
        .withColumn("cos", cosine("dot", "na", "nb"))
    )
    if band is not None:
        lo, hi = band
        scored = scored.filter(
            (F.col("cos") > lo) & (F.col("cos") < hi)
        )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "cos")
    )


def _rank_pairs(
    pairs: DataFrame, queries: DataFrame, candidates: DataFrame, k: int, id_col: str
) -> DataFrame:
    """Exact cosine + per-query rank over an id-only candidate-pair
    set: vectors join back once, after any dedupe."""
    q = queries.select(
        F.col(id_col).alias("q_id"), F.col("q").alias("qa"), F.col("norm").alias("na")
    )
    c = candidates.select(
        F.col(id_col).alias("n_id"), F.col("q").alias("qb"), F.col("norm").alias("nb")
    )
    scored = (
        pairs.join(F.broadcast(q), "q_id")
        .join(c, "n_id")
        .withColumn("dot", F.expr(_DOT))
        .withColumn("cos", cosine("dot", "na", "nb"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "cos")
    )


def cosine_topk_lsh_multi(
    queries: DataFrame,
    candidates: DataFrame,
    k: int,
    id_col: str = "vec_id",
    n_tables: int = 3,
) -> DataFrame:
    """Multi-table sign-bucket ANN: union the per-table bucket matches
    (each table hashes a DISJOINT SIGN_BITS-component slice), dedupe
    the id-only pair set, then exact-rank only the union.

    Recall strictly dominates the single-table variant — a neighbor
    survives if it agrees with the query in ANY table — at n_tables x
    the bucket-join cost, which stays per-bucket (never all-pairs).
    """
    pair_parts = []
    for t in range(n_tables):
        qt = sign_bucket(queries, t * SIGN_BITS).select(
            F.col(id_col).alias("q_id"), "bucket"
        )
        ct = sign_bucket(candidates, t * SIGN_BITS).select(
            F.col(id_col).alias("n_id"), "bucket"
        )
        pair_parts.append(
            ct.join(F.broadcast(qt), "bucket").select("q_id", "n_id")
        )
    pairs = pair_parts[0]
    for p in pair_parts[1:]:
        pairs = pairs.unionAll(p)
    pairs = pairs.filter(F.col("q_id") != F.col("n_id")).distinct()
    return _rank_pairs(pairs, queries, candidates, k, id_col)


SIGN_BITS = 8
N_TABLES = 3


def _bucket_expr(offset: int) -> str:
    """Sign pattern of quantized components offset+1..offset+SIGN_BITS
    (1-based) → bucket id. Different offsets give independent hash
    tables over disjoint component sets."""
    return " + ".join(
        f"(CASE WHEN element_at(q, {offset + j + 1}) >= 0 THEN {1 << j} ELSE 0 END)"
        for j in range(SIGN_BITS)
    )


def sign_bucket(df: DataFrame, offset: int = 0) -> DataFrame:
    """Adds the LSH `bucket` column (sign pattern of SIGN_BITS
    components starting at ``offset``)."""
    return df.withColumn(
        "bucket", F.expr(f"CAST({_bucket_expr(offset)} AS BIGINT)")
    )


def cosine_topk_lsh(
    queries: DataFrame, candidates: DataFrame, k: int, id_col: str = "vec_id"
) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's sign
    bucket, then exact cosine rank within it.

    NOT the deployable default — ``cosine_topk_lsh_multi`` is: a
    single 8-bit table misses a near-copy whenever ANY of 8 signs
    flips (measured recall 0.925 planted / 0.00 uniform vs 1.0 / 0.05
    for 3 tables — tools/ann_recall.py). This form exists as the
    cost floor and the per-table building block."""
    q = sign_bucket(queries).select(
        F.col(id_col).alias("q_id"),
        F.col("q").alias("qa"),
        F.col("norm").alias("na"),
        "bucket",
    )
    c = sign_bucket(candidates).select(
        F.col(id_col).alias("n_id"),
        F.col("q").alias("qb"),
        F.col("norm").alias("nb"),
        "bucket",
    )
    scored = (
        c.join(F.broadcast(q), "bucket")
        .filter(F.col("q_id") != F.col("n_id"))
        .withColumn("dot", F.expr(_DOT))
        .withColumn("cos", cosine("dot", "na", "nb"))
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "cos")
    )


def int8_quantize(emb: DataFrame, id_col: str = "vec_id") -> DataFrame:
    """Adaptive int8 quantization with a per-vector max-abs scale —
    the storage/serving compression step of an embedding pipeline
    (vs the fixed x1000 parity quantization above, which exists for
    exact cross-engine arithmetic, not compression).

    Returns (id, amax, q, err6_max): the double scale, the int8-range
    components ``sign(x) * floor(|x|/amax * 127)``, and the max
    per-component reconstruction error in integer micro-units
    (``floor(|x - q*amax/127| * 1e6)``). All expression-level
    higher-order functions — no Python in the row path; the FP chains
    are identical IEEE double sequences in Spark and DuckDB, so the
    audit is oracle-exact. Zero vectors quantize to all-zero (amax
    NULLIF guard).
    """
    with_amax = emb.select(
        id_col,
        "embedding",
        F.expr(
            "array_max(transform(embedding, x -> abs(CAST(x AS DOUBLE))))"
        ).alias("amax"),
    )
    # per-element guard (NOT nullif on the array: that would yield
    # NULL elements, never a NULL array): zero/empty vectors get q=0.
    q = (
        "transform(embedding, x -> CAST(CASE WHEN amax IS NULL OR amax = 0"
        " THEN 0 ELSE sign(CAST(x AS DOUBLE)) * "
        "floor(abs(CAST(x AS DOUBLE)) / amax * 127) END AS BIGINT))"
    )
    with_q = with_amax.select(
        id_col, "embedding", "amax", F.expr(q).alias("q")
    )
    # outer coalesce: an EMPTY embedding has array_max(zip_with(..)) =
    # NULL — report 0 error (nothing to mis-reconstruct), keeping the
    # row aligned with the oracle's LEFT-JOIN form.
    err6 = (
        "coalesce(CAST(floor(array_max(zip_with(embedding, q, (x, v) -> "
        "abs(CAST(x AS DOUBLE) - v * coalesce(amax, CAST(0 AS DOUBLE))"
        " / 127))) * 1000000) AS BIGINT), 0L)"
    )
    return with_q.select(
        id_col, "amax", "q", F.expr(err6).alias("err6_max")
    )


EMB_DRIFT_PPM = 20_000  # centroid shift >= 2% of mean centroid mass


def centroid_drift(
    emb_a: DataFrame,
    emb_b: DataFrame,
    label_col: str = "label",
) -> DataFrame:
    """Per-label embedding-space drift between two snapshots — the
    retrieval-index counterpart of the text drift audit: for each
    label, the integer centroid of each side (per-dim floor-div
    means of the quantized components) and the normalized squared
    centroid shift in ppm, ``(10^6 * Σ(ma_d - mb_d)^2) div
    (Σ ma_d^2 + Σ mb_d^2 + 1)``. Pure int64 end to end, so the
    DuckDB oracle replays it exactly; the +1 denominator guard makes
    an all-zero pair score 0, not divide-by-zero.

    Inputs carry (label, q) with q the milli-quantized vector
    (`QUANT`). Labels present on only one side are dropped (inner
    join) — a label appearing/vanishing is `corpus_snapshot_diff`'s
    job; this op scores the shift of what persists.

    Scale: posexplode → (label, dim) partial sums, one shuffle of
    labels × dims aggregate rows per side, then report-sized joins.
    int64 bounds: |mean| <= max|q|, so dist2 <= 4·dim·max|q|^2 and
    the ppm product stays in range for max|q| < ~3.7e5 at dim 64."""
    def side_means(e: DataFrame) -> DataFrame:
        x = e.select(label_col, F.posexplode("q").alias("pos", "v"))
        # plain truncating integer division: Spark's div and DuckDB's
        # // BOTH truncate toward zero (verified: -7 // 2 = -3 in
        # DuckDB), so negative component sums stay in parity with no
        # sign gymnastics
        return x.groupBy(label_col, "pos").agg(
            F.expr("sum(v) div count(*)").alias("m"),
            F.count("*").alias("n"),
        )

    a = side_means(emb_a).select(
        label_col,
        "pos",
        F.col("m").alias("ma"),
        F.col("n").alias("n_a"),
    )
    b = side_means(emb_b).select(
        label_col,
        "pos",
        F.col("m").alias("mb"),
        F.col("n").alias("n_b"),
    )
    j = a.join(b, [label_col, "pos"])
    per_label = j.groupBy(label_col).agg(
        F.first("n_a").alias("n_a"),
        F.first("n_b").alias("n_b"),
        F.sum(
            (F.col("ma") - F.col("mb")) * (F.col("ma") - F.col("mb"))
        ).alias("dist2"),
        F.sum(F.col("ma") * F.col("ma")).alias("na2"),
        F.sum(F.col("mb") * F.col("mb")).alias("nb2"),
    )
    ppm = F.expr("(1000000 * dist2) div (na2 + nb2 + 1)")
    return per_label.select(
        label_col,
        "n_a",
        "n_b",
        "dist2",
        "na2",
        "nb2",
        ppm.cast("long").alias("drift_ppm"),
        (ppm >= EMB_DRIFT_PPM).alias("drifted"),
    )
