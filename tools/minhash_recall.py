#!/usr/bin/env python
"""Measure MinHash-LSH recall vs Jaccard at realistic dedup
thresholds, against `all_pairs_jaccard` ground truth.

Corpus: synthetic doc pairs with controlled overlap — each pair has a
disjoint vocabulary (so only planted pairs share shingles) and the
partner doc replaces every m-th token; word-3-gram Jaccard lands near
(m-3)/(m+3), giving pairs across J ≈ 0.5-0.95 — the range where
production near-dup thresholds (0.7-0.8) actually sit, far below the
testdata's planted ~0.97 dups.

For each banding configuration, recall per J bin =
|LSH-verified pairs in bin| / |ground-truth pairs in bin|; the LSH
verify recomputes the same exact Jaccard, so a pair is in the output
iff LSH banding surfaced it — exactly the recall the banding theory
(1-(1-J^rows)^bands) predicts. Results land in SCALING.md round 5.

Usage: python tools/minhash_recall.py
"""

from __future__ import annotations

import json
import os
import random
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

M_VALUES = [9, 12, 15, 21, 27, 39, 63, 123]
PAIRS_PER_M = 50
DOC_LEN = 200
CONFIGS = [(4, 4), (8, 4)]  # (n_bands, rows_per_band)
TRUTH_FLOOR = 0.35  # below any bin of interest; keeps truth finite
BINS = [0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.01]


def build_corpus() -> list[tuple[int, str]]:
    rnd = random.Random(42)
    rows = []
    doc_id = 0
    for m in M_VALUES:
        for p in range(PAIRS_PER_M):
            # disjoint vocabulary per pair: no cross-pair shingles
            vocab = f"v{m}x{p}t"
            base = [f"{vocab}{rnd.randrange(10**6)}" for _ in range(DOC_LEN)]
            partner = [
                f"{vocab}R{i}" if i % m == 0 else t
                for i, t in enumerate(base)
            ]
            rows.append((doc_id, " ".join(base)))
            rows.append((doc_id + 1, " ".join(partner)))
            doc_id += 2
    return rows


def main() -> None:
    from pyspark.sql import functions as F

    from firefox_public_data_report_etl_spark.session import TIERED_C2, get_spark
    from firefox_public_data_report_etl_spark.operators.dedup import (
        all_pairs_jaccard,
        gram_hash_arrays,
        minhash_lsh_pairs_arr,
        shingle_rows,
    )

    spark = get_spark(app_name="minhash-recall", extra_conf=TIERED_C2)
    docs = spark.createDataFrame(
        build_corpus(), "doc_id long, text string"
    ).cache()

    truth = {
        (r["da"], r["db"]): r["jaccard"]
        for r in all_pairs_jaccard(shingle_rows(docs))
        .filter(F.col("jaccard") >= TRUTH_FLOOR)
        .collect()
    }

    hs = gram_hash_arrays(docs).cache()
    got = {}
    for n_bands, rows_per_band in CONFIGS:
        pairs = {
            (r["da"], r["db"])
            for r in minhash_lsh_pairs_arr(
                hs, n_bands=n_bands, rows_per_band=rows_per_band
            )
            .filter(F.col("jaccard") >= TRUTH_FLOOR)
            .collect()
        }
        got[(n_bands, rows_per_band)] = pairs

    out = []
    for lo, hi in zip(BINS, BINS[1:]):
        in_bin = {p for p, j in truth.items() if lo <= j < hi}
        if not in_bin:
            continue
        row = {"bin": f"[{lo},{min(hi, 1.0)})", "n_truth": len(in_bin)}
        for cfg, pairs in got.items():
            recall = len(in_bin & pairs) / len(in_bin)
            # theory: P(candidate) = 1-(1-J^rows)^bands at bin midpoint
            mid = (lo + min(hi, 1.0)) / 2
            row[f"recall_{cfg[0]}x{cfg[1]}"] = round(recall, 3)
            row[f"theory_{cfg[0]}x{cfg[1]}"] = round(
                1 - (1 - mid ** cfg[1]) ** cfg[0], 3
            )
        out.append(row)
    for row in out:
        print(json.dumps(row))
    spark.stop()


if __name__ == "__main__":
    main()
