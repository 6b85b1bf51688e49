#!/usr/bin/env python
"""IVF+PQ recall: ADC-only vs ADC-shortlist→exact-re-rank, per
codebook size — the measured curve behind SCALING.md's round-7 PQ
table, extended (round 8) with the re-ranked column. Ground truth is
exact squared-L2 top-k WITHIN the query's coarse cell (both variants
search only the cell, so cell-restricted truth isolates the PQ
compression loss from the IVF partitioning loss, which the r5/r6 IVF
tables already measure).

Usage: python tools/pq_recall.py [sf_dir]   (default sf0.1)
Prints one JSON line per codebook size.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"

    from firefox_public_data_report_etl_spark.session import TIERED_C2, get_spark
    from firefox_public_data_report_etl_spark.operators.similarity import (
        quantized,
    )
    from firefox_public_data_report_etl_spark.sources import load_table

    spark = get_spark(app_name="pq-recall", extra_conf=TIERED_C2)

    for regime, emb in (
        ("uniform", quantized(load_table(spark, sf_dir, "embeddings"))),
        ("clustered", clustered_corpus(spark)),
    ):
        measure(spark, emb.cache(), regime, sf_dir)
    spark.stop()


def clustered_corpus(spark, n_clusters: int = 40, per: int = 50, dim: int = 64):
    """The regime residual encoding is FOR: members = cluster center
    + small noise, so a vector's coarse cell lands in its own cluster
    and the residual distribution is the tight noise ball — vs the
    uniform testdata, where residuals are differences of unrelated
    vectors (double the variance) and residual PQ measurably HURTS.
    Both regimes are printed so the flip condition is pinned."""
    import random

    from firefox_public_data_report_etl_spark.operators.similarity import (
        quantized,
    )

    rnd = random.Random(13)
    rows = []
    vid = 0
    for _ in range(n_clusters):
        center = [rnd.uniform(-1, 1) for _ in range(dim)]
        for _ in range(per):
            rows.append(
                (vid, [x + rnd.uniform(-0.08, 0.08) for x in center])
            )
            vid += 1
    return quantized(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    )


def measure(spark, emb, regime: str, sf_dir: str) -> None:
    from pyspark.sql import Window, functions as F

    from firefox_public_data_report_etl_spark.operators.vectorized import (
        ivf_assign,
        pq_adc_topk,
        pq_encode,
        pq_residual_vectors,
    )
    from firefox_public_data_report_etl_spark.plans.similarity import (
        CENTROID_MOD,
        PQ_RERANK_SHORTLIST,
        PQ_SUB_DIM,
        PQ_SUBSPACES,
        QUERY_MOD,
        TOP_K,
    )

    n = emb.count()

    # cell-restricted exact-L2 ground truth for the sampled queries
    coarse = emb.filter(F.col("vec_id") % CENTROID_MOD == 1)
    cells = ivf_assign(emb, coarse).cache()
    q = cells.join(
        emb.filter(F.col("vec_id") % QUERY_MOD == 0).select("vec_id"),
        "vec_id",
    ).select(F.col("vec_id").alias("q_id"), "cell")
    cand = cells.select(F.col("vec_id").alias("n_id"), "cell")
    qa = emb.select(F.col("vec_id").alias("q_id"), F.col("q").alias("qa"))
    nb = emb.select(F.col("vec_id").alias("n_id"), F.col("q").alias("qb"))
    d2 = (
        q.join(cand, "cell")
        .filter(F.col("n_id") != F.col("q_id"))
        .join(qa, "q_id")
        .join(nb, "n_id")
        .select(
            "q_id",
            "n_id",
            F.expr(
                "aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)),"
                " 0L, (s, v) -> s + v)"
            ).alias("d2"),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("d2"), F.asc("n_id"))
    truth = {
        (r["q_id"], r["n_id"])
        for r in d2.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= TOP_K)
        .collect()
    }

    res, rcells = pq_residual_vectors(emb, CENTROID_MOD)
    res = res.select("vec_id", "q").cache()

    def topk_pairs(df):
        return {(r["q_id"], r["n_id"]) for r in df.collect()}

    def rerank_pairs(short):
        wr = Window.partitionBy("q_id").orderBy(
            F.asc("exact_d2"), F.asc("n_id")
        )
        rr = short.withColumn("rk", F.row_number().over(wr)).filter(
            F.col("rk") <= TOP_K
        )
        return topk_pairs(rr)

    for cb_mod in (100, 50, 20, 10):
        codes, cents = pq_encode(emb, cb_mod, PQ_SUBSPACES, PQ_SUB_DIM)
        rcodes, rcents = pq_encode(res, cb_mod, PQ_SUBSPACES, PQ_SUB_DIM)

        def adc(k, residual):
            if residual:
                return pq_adc_topk(
                    emb, rcodes, rcents, k, QUERY_MOD, CENTROID_MOD,
                    PQ_SUBSPACES, PQ_SUB_DIM,
                    lut_vectors=res, cells=rcells,
                )
            return pq_adc_topk(
                emb, codes, cents, k, QUERY_MOD, CENTROID_MOD,
                PQ_SUBSPACES, PQ_SUB_DIM,
            )

        row = {
            "regime": regime,
            "sf_dir": sf_dir,
            "n_vectors": n,
            "codebook_per_subspace": max(1, (n + cb_mod - 1) // cb_mod),
            "cb_mod": cb_mod,
            "truth_pairs": len(truth),
            "shortlist": PQ_RERANK_SHORTLIST,
        }
        for label, residual in (("adc", False), ("residual_adc", True)):
            got = topk_pairs(adc(TOP_K, residual))
            row[f"{label}_recall"] = round(len(got & truth) / len(truth), 4)
            got_rr = rerank_pairs(adc(PQ_RERANK_SHORTLIST, residual))
            row[f"{label}_rerank_recall"] = round(
                len(got_rr & truth) / len(truth), 4
            )
        print(json.dumps(row), flush=True)


if __name__ == "__main__":
    main()
