"""Arrow pandas-UDF cosine must agree with the pure-expression form."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

from firefox_public_data_report_etl_spark.operators.vectorized import (
    cosine_to_query,
    cosine_topk_matmul,
)
from firefox_public_data_report_etl_spark.sources import load_table


def test_matmul_topk_matches_expression_form(spark, sf_dir):
    """The Arrow integer-matmul top-k must be BIT-identical to the
    pure-expression quantized form (same int64 dots, same single FP
    division)."""
    from firefox_public_data_report_etl_spark.operators.similarity import (
        cosine_topk,
        quantized,
    )

    emb = quantized(load_table(spark, sf_dir, "embeddings")).cache()
    queries = emb.filter(F.col("vec_id") % 10 == 0)
    a = sorted(map(tuple, cosine_topk(queries, emb, 3).collect()))
    b = sorted(map(tuple, cosine_topk_matmul(queries, emb, 3).collect()))
    assert a == b
    assert len(a) > 0
    emb.unpersist()


def test_pandas_udf_cosine_matches_expression(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings")
    qrow = emb.filter(F.col("vec_id") == 0).first()
    qvec = [float(x) for x in qrow["embedding"]]

    udf_cos = cosine_to_query(qvec)
    got = {
        r["vec_id"]: r["c"]
        for r in emb.select("vec_id", udf_cos(F.col("embedding")).alias("c"))
        .collect()
    }

    # cross-check: recompute driver-side for a sample
    qn = math.sqrt(sum(x * x for x in qvec))
    rows = emb.limit(50).collect()
    for r in rows:
        v = [float(x) for x in r["embedding"]]
        dot = sum(a * b for a, b in zip(v, qvec))
        vn = math.sqrt(sum(x * x for x in v))
        expected = dot / (vn * qn)
        assert abs(got[r["vec_id"]] - expected) < 1e-9


def test_kmeans_lloyd_converges_to_cluster_means(spark):
    """Two well-separated clusters; seeds (id % 3 == 1) start one in
    each. After 2 iterations centroids equal the exact floor-div
    cluster means and every vector is in its true cluster."""
    from firefox_public_data_report_etl_spark.operators.vectorized import (
        kmeans_lloyd,
    )

    rows = [
        (1, [0, 0, 3]), (2, [1, 0, 0]), (3, [0, 2, 0]),   # cluster A
        (4, [1000, 1000, 1000]), (5, [1001, 999, 1000]),  # cluster B
        (6, [999, 1002, 1001]),
    ]
    emb = spark.createDataFrame(
        [(i, [int(x) for x in v]) for i, v in rows], "vec_id long, q array<long>"
    )
    out = kmeans_lloyd(emb, init_mod=3, iters=2).collect()
    cent = {}
    for r in out:
        cent.setdefault(r["cid"], {})[r["pos"]] = (r["c"], r["n"])
    assert sorted(cent) == [1, 4]
    # floor-div means: A = floor([1,2,3]/3)=[0,0,1]; B = [1000,1000,1000]
    assert [cent[1][p][0] for p in range(3)] == [0, 0, 1]
    assert [cent[4][p][0] for p in range(3)] == [1000, 1000, 1000]
    assert all(cent[1][p][1] == 3 and cent[4][p][1] == 3 for p in range(3))


def test_kmeans_lloyd_empty_cell_drops_out(spark):
    """All vectors identical: every one assigns to the LOWEST centroid
    id (exact tie-break), the other seed loses all members and drops
    out of the codebook — k shrinks, same as the oracle's GROUP BY."""
    from firefox_public_data_report_etl_spark.operators.vectorized import (
        kmeans_lloyd,
    )

    emb = spark.createDataFrame(
        [(i, [7, 7, 7]) for i in range(1, 7)], "vec_id long, q array<long>"
    )
    out = kmeans_lloyd(emb, init_mod=3, iters=2).collect()  # seeds: 1, 4
    cids = {r["cid"] for r in out}
    assert cids == {1}
    assert all(r["n"] == 6 and r["c"] == 7 for r in out)
    assert len(out) == 3  # one row per dimension


def test_dedup_semantic_finds_planted_near_copies(spark):
    """SemDeDup regime check: planted near-copies (cos ~ 0.999) MUST
    land in the same k-means cell and be deduped (keep=False for the
    higher id), while the random background stays kept. Uniform-random
    moderate-cosine pairs (the 0.45 testdata regime) may legitimately
    split across cells — that approximation is the operator's design
    trade, covered honestly by the oracle (which applies the same cell
    restriction); THIS test pins the regime the operator exists for."""
    import random

    from pyspark.sql import functions as F

    from firefox_public_data_report_etl_spark.operators.similarity import (
        quantized,
    )
    from firefox_public_data_report_etl_spark.plans.similarity import (
        _dedup_semantic_over,
        _trained_codebook,
    )

    rnd = random.Random(11)
    dim, n_q, n_bg = 64, 15, 300
    rows = []
    for qid in range(n_q):
        v = [rnd.uniform(-1, 1) for _ in range(dim)]
        rows.append((qid * 1000, v))
        rows.append((qid * 1000 + 1, [x + rnd.uniform(-0.01, 0.01) for x in v]))
    for b in range(n_bg):
        rows.append((9_000_001 + b, [rnd.uniform(-1, 1) for _ in range(dim)]))
    emb = quantized(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ).cache()
    out = {
        r["vec_id"]: (r["component"], r["keep"])
        for r in _dedup_semantic_over(
            emb, _trained_codebook(emb, init_mod=7)
        ).collect()
    }
    assert len(out) == n_q * 2 + n_bg
    for qid in range(n_q):
        lo, hi = qid * 1000, qid * 1000 + 1
        assert out[lo] == (lo, True), f"query {lo} must keep itself"
        assert out[hi] == (lo, False), f"near-copy {hi} must dedup to {lo}"
    kept_bg = sum(1 for v in range(9_000_001, 9_000_001 + n_bg) if out[v][1])
    assert kept_bg >= n_bg - 2  # random background essentially untouched
    emb.unpersist()


def test_ivf_index_serving_matches_in_memory_and_prunes(
    spark, sf_dir, tmp_path
):
    """The persisted IVF index must return EXACTLY the in-memory IVF
    search's results for the same codebook/queries/nprobe, and its
    scan must plan a partition filter on the probed cells that
    actually prunes: the filtered read touches strictly fewer files
    than the full index."""
    from firefox_public_data_report_etl_spark.operators.similarity import (
        quantized,
    )
    from firefox_public_data_report_etl_spark.operators.vectorized import (
        build_ivf_index,
        cosine_topk_ivf,
        ivf_assign,
        search_ivf_index,
    )

    emb = quantized(load_table(spark, sf_dir, "embeddings")).cache()
    cmod, qmod, k, nprobe = 50, 100, 3, 2
    centroids = emb.filter(F.col("vec_id") % cmod == 1)
    queries = emb.filter(F.col("vec_id") % qmod == 0)

    path = str(tmp_path / "ivf_index")
    build_ivf_index(emb, centroids, path)

    # queries ARE corpus rows here, so self-matches must be excluded
    # to agree with the in-memory dedup-style search
    got = {
        (r["q_id"], r["n_id"], r["rank"])
        for r in search_ivf_index(
            spark, path, queries, k, nprobe=nprobe, exclude_self=True
        ).collect()
    }
    want = {
        (r["q_id"], r["n_id"], r["rank"])
        for r in cosine_topk_ivf(
            emb, k, qmod, cmod, nprobe=nprobe
        ).collect()
    }
    assert got and got == want

    # pruning: the probed-cell filter must cut the planned file set
    probed = sorted(
        r["cell"]
        for r in ivf_assign(queries, centroids, nprobe=nprobe)
        .select("cell")
        .distinct()
        .collect()
    )
    full = spark.read.parquet(f"{path}/vectors")
    pruned = full.filter(F.col("cell").isin(probed))
    n_cells = full.select("cell").distinct().count()
    assert len(probed) < n_cells  # the filter is a real subset
    files_full = full.select(F.input_file_name()).distinct().count()
    files_pruned = pruned.select(F.input_file_name()).distinct().count()
    assert 0 < files_pruned < files_full
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "PartitionFilters" in plan and "cell" in plan.split(
        "PartitionFilters", 1
    )[1][:120]
    emb.unpersist()


def test_text_serving_index_with_frozen_idf(spark, sf_dir, tmp_path):
    """TEXT retrieval serving end-to-end: hashproj-embed the corpus,
    persist the IVF index, then embed LATE-ARRIVING query texts with
    the FROZEN corpus idf (operators.text.hashproj_idf_table) and
    probe. A query that is a near-copy of a corpus document must come
    back rank 1; a query full of OOV terms embeds to near-zero but
    must not crash the pipeline; and the probe must plan a partition
    filter on the probed cells."""
    from pyspark.sql import Row

    from firefox_public_data_report_etl_spark.operators.text import (
        hashproj_embeddings,
        hashproj_idf_table,
    )
    from firefox_public_data_report_etl_spark.operators.vectorized import (
        build_ivf_index,
        search_ivf_index,
    )

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    idf = hashproj_idf_table(docs).cache()
    emb = hashproj_embeddings(docs, idf=idf).cache()
    centroids = emb.filter(F.col("doc_id") % 25 == 1)
    path = str(tmp_path / "text_ivf")
    build_ivf_index(emb, centroids, path, id_col="doc_id")

    # late-arriving queries: a verbatim copy of corpus doc 7's text
    # (external id space), plus a pure-OOV query
    target = docs.filter(F.col("doc_id") == 7).head()["text"]
    q_rows = [
        Row(doc_id=900001, text=target),
        Row(doc_id=900002, text="zzqx1 zzqx2 zzqx3 zzqx4"),
    ]
    qdf = spark.createDataFrame(q_rows)
    q_emb = hashproj_embeddings(qdf, idf=idf)
    got = search_ivf_index(
        spark, path, q_emb, k=3, nprobe=2, id_col="doc_id"
    ).toPandas()
    top_copy = got[(got.q_id == 900001) & (got["rank"] == 1)].iloc[0]
    assert top_copy.n_id == 7  # the verbatim copy finds its source
    assert top_copy.cos > 0.999999
    # OOV query embeds to the zero vector (all terms dropped by the
    # frozen-idf join) — norms are 0, so it produces no rankable rows
    # but the search itself must not fail
    oov = q_emb.filter(F.col("doc_id") == 900002).head()
    assert oov is None or oov["norm"] == 0
    idf.unpersist()
    emb.unpersist()


def test_pca_power_iteration_planted_direction():
    """On a matrix WITH spectral decay the fixed-point rounds find the
    true dominant eigenvector: plant one (lambda1 = 10x lambda2) and
    check |cos| vs numpy eigh >= 0.999."""
    import numpy as np

    rng = np.random.RandomState(7)
    d = 64
    top = rng.randn(d)
    top /= np.linalg.norm(top)
    noise = rng.randn(d, d)
    S = 10_000_000 * np.outer(top, top) + (noise @ noise.T) * 100
    Si = np.rint(S).astype(np.int64)
    Si = (Si + Si.T) // 2  # keep exact symmetry after rounding
    from firefox_public_data_report_etl_spark.operators.vectorized import (
        power_iteration_fixed,
    )

    rows = [
        {"i": i, "j": j, "s": int(Si[i, j])} for i in range(d) for j in range(d)
    ]
    v = np.asarray(power_iteration_fixed(rows, d, 24, 1000), dtype=np.float64)
    evecs = np.linalg.eigh(Si.astype(np.float64))[1]
    cos = abs(v @ evecs[:, -1]) / np.linalg.norm(v)
    assert cos >= 0.999, cos


def test_pca_rayleigh_quotient_on_corpus(spark, sf_dir):
    """The corpus embeddings are near-isotropic (lambda2/lambda1 ~
    0.93 at sf0.001) — no fixed round count can single out "the" top
    eigenvector there, so the honest convergence metric is captured
    variance: Rayleigh(v)/lambda1 >= 0.95 (measured 0.976 at
    PCA_ITERS=24; 8 rounds gave 0.90)."""
    import numpy as np

    from firefox_public_data_report_etl_spark.contracts import EMBEDDING_DIM
    from firefox_public_data_report_etl_spark.operators.similarity import (
        quantized,
    )
    from firefox_public_data_report_etl_spark.operators.vectorized import (
        power_iteration_fixed,
        scatter_matrix,
    )
    from firefox_public_data_report_etl_spark.plans.similarity import (
        PCA_ITERS,
        PCA_SCALE,
    )
    from firefox_public_data_report_etl_spark.sources import load_table

    emb = quantized(load_table(spark, sf_dir, "embeddings"))
    rows = scatter_matrix(emb, EMBEDDING_DIM).collect()
    v = np.asarray(
        power_iteration_fixed(rows, EMBEDDING_DIM, PCA_ITERS, PCA_SCALE),
        dtype=np.float64,
    )
    S = np.zeros((EMBEDDING_DIM, EMBEDDING_DIM))
    for r in rows:
        S[r["i"], r["j"]] = r["s"]
    lam1 = np.linalg.eigvalsh(S)[-1]
    rayleigh = (v @ S @ v) / (v @ v)
    assert rayleigh >= 0.95 * lam1, (rayleigh, lam1)


def test_power_iteration_zero_matrix_degenerate():
    from firefox_public_data_report_etl_spark.operators.vectorized import (
        power_iteration_fixed,
    )

    v = power_iteration_fixed([], 4, n_iter=3, scale=10)
    assert v == [10, 10, 10, 10]


def test_rank_eval_matmul_matches_window_form(spark):
    """retrieval_rank_eval_matmul (per-batch rank reduction, round-11
    verdict #1) is pinned EQUAL to scoring every pair through
    pair_dots_matmul and window-ranking it — exact truth rank, top-1
    and tie rules included, plus the missing-truth -> rank 0 case."""
    import random

    from pyspark.sql import Window
    from firefox_public_data_report_etl_spark.operators.vectorized import (
        pair_dots_matmul,
        retrieval_rank_eval_matmul,
    )

    rnd = random.Random(7)
    dim, scale = 8, 10000
    cands = [
        (i, [rnd.randint(-5, 5) for _ in range(dim)]) for i in range(60)
    ]
    # duplicate vectors to force score ties; a zero vector for na=0
    cands[10] = (10, list(cands[3][1]))
    cands[11] = (11, [0] * dim)
    queries = [
        (100 + j, [rnd.randint(-5, 5) for _ in range(dim)],
         j if j < 6 else 9999)  # q with truth_id 9999 -> missing
        for j in range(12)
    ]
    cdf = spark.createDataFrame(cands, "c_id long, cv array<long>")
    qdf = spark.createDataFrame(
        queries, "q_id long, qv array<long>, truth_id long"
    )
    got = {
        r.q_id: (r.truth_id, r.truth_rank, r.top1_id, r.top1_is_truth)
        for r in retrieval_rank_eval_matmul(qdf, cdf, scale).collect()
    }
    pairs = pair_dots_matmul(
        qdf.select("q_id", "qv"), cdf, q_vec="qv"
    )
    qn = qdf.select(
        "q_id",
        "truth_id",
        F.aggregate(
            "qv", F.lit(0).cast("long"), lambda a, x: a + x * x
        ).alias("nb"),
    )
    sfp = pairs.join(qn, "q_id").withColumn(
        "score_fp",
        F.expr(
            f"CASE WHEN c_norm * nb = 0 THEN CAST(0 AS BIGINT)"
            f" WHEN dot >= 0 THEN (dot * dot * {scale}) DIV (c_norm * nb)"
            f" ELSE -((dot * dot * {scale}) DIV (c_norm * nb)) END"
        ),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("score_fp"), F.asc("c_id"))
    ranked = sfp.withColumn("rank", F.row_number().over(w).cast("long"))
    want = {
        r.q_id: (r.truth_id, r.truth_rank, r.top1_id, r.top1_is_truth)
        for r in ranked.groupBy("q_id")
        .agg(
            F.first("truth_id").alias("truth_id"),
            F.coalesce(
                F.max(F.when(F.col("c_id") == F.col("truth_id"), F.col("rank"))),
                F.lit(0),
            ).cast("long").alias("truth_rank"),
            F.max(F.when(F.col("rank") == 1, F.col("c_id"))).alias("top1_id"),
            F.max(
                F.when(F.col("rank") == 1, F.col("c_id") == F.col("truth_id"))
            ).alias("top1_is_truth"),
        )
        .collect()
    }
    assert got == want
    missing = [q for q in got if got[q][1] == 0]
    assert missing, "at least one missing-truth query must exercise rank 0"


def test_threshold_pairs_matmul_matches_expression_form(spark):
    """cosine_threshold_pairs_matmul (round-11 Arrow rewrite of the
    brute near-dup baseline) pinned EQUAL to the original expression
    form — id-ordered pair set AND exact cosine values, including
    pairs sitting exactly on the threshold boundary."""
    import random

    from firefox_public_data_report_etl_spark.operators.vectorized import (
        cosine_threshold_pairs_matmul,
    )

    rnd = random.Random(11)
    rows = [
        (i, [rnd.randint(-8, 8) for _ in range(16)], ) for i in range(80)
    ]
    # identical vectors -> cos exactly 1.0; a scaled copy too
    rows[5] = (5, list(rows[3][1]))
    rows[6] = (6, [2 * x for x in rows[3][1]])
    emb = spark.createDataFrame(
        [(i, v, sum(x * x for x in v)) for i, v in rows],
        "vec_id long, q array<long>, norm long",
    )
    thr = 0.45
    got = {
        (r.da, r.db): r.cos
        for r in cosine_threshold_pairs_matmul(emb, thr).collect()
    }
    a = emb.select(
        F.col("vec_id").alias("da"), F.col("q").alias("qa"),
        F.col("norm").alias("na"),
    )
    b = emb.select(
        F.col("vec_id").alias("db"), F.col("q").alias("qb"),
        F.col("norm").alias("nb"),
    )
    want = {
        (r.da, r.db): r.cos
        for r in a.join(b, F.col("da") < F.col("db"))
        .withColumn(
            "dot",
            F.expr(
                "aggregate(zip_with(qa, qb, (x, y) -> x * y),"
                " 0L, (s, v) -> s + v)"
            ),
        )
        .withColumn(
            "cos",
            F.col("dot").cast("double")
            / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")),
        )
        .filter(F.col("cos") >= thr)
        .select("da", "db", "cos")
        .collect()
    }
    assert got == want
    assert (3, 5) in got and got[(3, 5)] == 1.0
    assert (3, 6) in got and got[(3, 6)] == 1.0


def test_threshold_pairs_closure_guard_fires(spark):
    """The brute baseline refuses corpora past the closure bound and
    names the banded scale path (the same refusal convention as the
    ER_MAX_BLOCK guard)."""
    import pytest

    from firefox_public_data_report_etl_spark.operators import (
        vectorized as V,
    )

    emb = spark.createDataFrame(
        [(i, [1, 2], 5) for i in range(8)],
        "vec_id long, q array<long>, norm long",
    )
    old = V._BRUTE_CLOSURE_MAX
    V._BRUTE_CLOSURE_MAX = 4
    try:
        with pytest.raises(ValueError, match="ann_lsh"):
            V.cosine_threshold_pairs_matmul(emb, 0.45)
    finally:
        V._BRUTE_CLOSURE_MAX = old
    assert V.cosine_threshold_pairs_matmul(emb, 0.45).count() > 0
