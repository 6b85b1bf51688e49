#!/usr/bin/env python
"""Measure recall@k of every ANN variant against the exact brute-force
top-k ground truth — the quality axis of the speed/recall trade that
SCALING.md's timing tables only half-describe — in BOTH regimes:

1. uniform-random (the testdata embeddings): the pathological floor —
   no true near neighbors exist, cosine concentrates near 0, and any
   bucketing scheme's recall collapses. Reported so nobody mistakes
   the bucketed configs for magic.
2. planted near-copies: the regime dedup/similarity search is FOR —
   each query has a genuine near-duplicate (cos ~ 0.99) hidden in
   random background; recall here is what a corpus-curation deployment
   would see.

Usage: python tools/ann_recall.py [sf_dir ...]   (default sf0.1)
Prints one JSON line per sf_dir (uniform regime) plus one line for the
planted regime (sf-independent synthetic corpus).
"""

from __future__ import annotations

import json
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def pairs(df) -> set[tuple[int, int]]:
    return {(r["q_id"], r["n_id"]) for r in df.collect()}


def planted_corpus(spark, n_q: int = 40, n_bg: int = 2000, dim: int = 64):
    """n_q queries (ids = multiples of 1000) each with one planted
    near-copy (id = query+1, cos ~ 0.99) in n_bg random background
    vectors. Returns (quantized_df, truth_pairs)."""
    from firefox_public_data_report_etl_spark.operators.similarity import (
        quantized,
    )

    rnd = random.Random(7)
    rows = []
    for qid in range(n_q):
        v = [rnd.uniform(-1, 1) for _ in range(dim)]
        rows.append((qid * 1000, v))
        rows.append(
            (qid * 1000 + 1, [x + rnd.uniform(-0.05, 0.05) for x in v])
        )
    for b in range(n_bg):
        rows.append(
            (9_000_001 + b, [rnd.uniform(-1, 1) for _ in range(dim)])
        )
    emb = quantized(
        spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    ).cache()
    truth = {(q * 1000, q * 1000 + 1) for q in range(n_q)}
    return emb, truth


def main() -> None:
    dirs = sys.argv[1:] or ["/root/testdata/sf0.1"]

    from pyspark.sql import functions as F

    from firefox_public_data_report_etl_spark import get_spark
    from firefox_public_data_report_etl_spark.operators.similarity import (
        cosine_topk_lsh,
        cosine_topk_lsh_multi,
        quantized,
    )
    from firefox_public_data_report_etl_spark.operators.vectorized import (
        cosine_topk_ivf,
    )
    from firefox_public_data_report_etl_spark.plans import QUERIES
    from firefox_public_data_report_etl_spark.plans.similarity import (
        QUERY_MOD,
        TOP_K,
        ann_ivf_scaled,
        codebook_mod,
    )
    from firefox_public_data_report_etl_spark.sources import load_table

    spark = get_spark(app_name="ann-recall")

    # --- regime 1: uniform-random testdata embeddings ----------------
    for sf_dir in dirs:
        truth = pairs(QUERIES["embedding_cosine_topk"](spark, sf_dir))
        emb = quantized(load_table(spark, sf_dir, "embeddings")).cache()
        variants = {
            "ann_ivf_multiprobe": QUERIES["ann_ivf_multiprobe"](
                spark, sf_dir
            ),
            "ann_ivf_nprobe4": cosine_topk_ivf(
                emb, TOP_K, QUERY_MOD, 100, nprobe=4
            ),
            "ann_ivf_scaled": ann_ivf_scaled(spark, sf_dir),
            "ann_ivf_trained": QUERIES["ann_ivf_trained"](spark, sf_dir),
            "ann_lsh_single": QUERIES["ann_lsh"](spark, sf_dir).filter(
                F.col("mode") == "single"
            ),
            "ann_lsh_multi": QUERIES["ann_lsh"](spark, sf_dir).filter(
                F.col("mode") == "multi"
            ),
        }
        row = {
            "regime": "uniform",
            "sf_dir": sf_dir,
            "truth_pairs": len(truth),
        }
        for name, df in variants.items():
            got = pairs(df)
            row[name] = round(len(got & truth) / len(truth), 4)
        print(json.dumps(row), flush=True)

    # --- regime 2: planted near-copies -------------------------------
    emb, truth = planted_corpus(spark)
    queries = emb.filter(F.col("vec_id") % 1000 == 0)
    # sqrt-N centroid sizing on the synthetic corpus (n ~ 2080 -> ~45
    # centroids via the % trick on background ids)
    n = emb.count()
    cmod = codebook_mod(n, 7)
    variants = {
        "ivf_nprobe1": cosine_topk_ivf(emb, 1, 1000, cmod, nprobe=1),
        "ivf_nprobe2": cosine_topk_ivf(emb, 1, 1000, cmod, nprobe=2),
        "ivf_nprobe4": cosine_topk_ivf(emb, 1, 1000, cmod, nprobe=4),
        "lsh_single": cosine_topk_lsh(queries, emb, 1),
        "lsh_multi3": cosine_topk_lsh_multi(queries, emb, 1, n_tables=3),
    }
    row = {"regime": "planted", "n": n, "truth_pairs": len(truth)}
    for name, df in variants.items():
        got = pairs(df)
        row[name] = round(len(got & truth) / len(truth), 4)
    print(json.dumps(row), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
