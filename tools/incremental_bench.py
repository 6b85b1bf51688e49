#!/usr/bin/env python
"""Measure incremental dedup (persisted signature index) against
full recompute at the scale stacks — the evidence behind the
dedup_incremental SCALING.md entry.

Three timed variants per point, write-sink (scratch parquet,
overwritten in place between samples — production semantics):

  full_scratch  the naive weekly job: MinHash-LSH over base ∪ batch
                (base-base pair work included), CC over batch-
                touching pairs, decisions;
  inmem_incr    the registry `dedup_incremental` form: base
                signatures recomputed live, but base-base pair space
                never generated;
  indexed       `probe_minhash_index` against a pre-built persisted
                index (+ within-batch pairs + decisions). The index
                build is timed separately and reported as
                `index_build` — it is the amortized once-per-refresh
                cost, not part of the weekly probe.

A fixed-size drift-control query (sf0.1 dedup_exact) brackets each
point. Usage: python tools/incremental_bench.py [--points sf0.1,sf1,sf10]
[--samples 2]. Prints one JSON line per point.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

POINTS = {
    "sf0.1": ("/root/testdata/sf0.1", 0.1),
    "sf1": (".scale/sf1", 1.0),
    "sf10": (".scale/sf10", 10.0),
}

SCRATCH = ".scale/_incr_scratch"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--points", default="sf0.1,sf1,sf10")
    ap.add_argument("--samples", type=int, default=2)
    ap.add_argument(
        "--batch-mod",
        type=int,
        default=100,
        help=(
            "doc_id %% batch_mod == 0 is the batch. Default 100 — a"
            " 1%% weekly crawl against a 99%% curated base, the"
            " production shape where index reuse earns its keep;"
            " pass 4 to reproduce the registry query's split"
        ),
    )
    args = ap.parse_args()
    BM = args.batch_mod

    from pyspark.sql import functions as F

    from firefox_public_data_report_etl_spark.session import TIERED_C2, get_spark
    from firefox_public_data_report_etl_spark.operators.dedup import (
        gram_hash_arrays,
        minhash_lsh_pairs_arr,
    )
    from firefox_public_data_report_etl_spark.operators.dedup import (
        minhash_band_rows,
    )
    from firefox_public_data_report_etl_spark.operators.incremental import (
        build_minhash_index,
        cross_pairs_against_bands,
        incremental_decisions,
        probe_minhash_index,
    )
    from firefox_public_data_report_etl_spark.operators.parallelism import (
        widen_partitions,
    )
    from firefox_public_data_report_etl_spark.plans.dedup import (
        JACCARD_THRESHOLD,
        dedup_incremental,
    )
    from firefox_public_data_report_etl_spark.plans.dedup import (
        dedup_exact as control_query,
    )
    from firefox_public_data_report_etl_spark.sources import load_table

    spark = get_spark(app_name="incremental-bench", extra_conf=TIERED_C2)
    spark.sparkContext.setLogLevel("ERROR")

    def timed(fn):
        best = None
        for _ in range(args.samples):
            spark.catalog.clearCache()
            t0 = time.monotonic()
            fn()
            dt = time.monotonic() - t0
            best = dt if best is None else min(best, dt)
        return round(best, 3)

    def sink(df):
        df.write.mode("overwrite").parquet(f"{SCRATCH}/out")

    def full_scratch(sf_dir):
        docs = widen_partitions(load_table(spark, sf_dir, "documents"))
        pairs = minhash_lsh_pairs_arr(gram_hash_arrays(docs)).filter(
            F.col("jaccard") >= JACCARD_THRESHOLD
        )
        touching = pairs.filter(
            (F.col("da") % BM == 0) | (F.col("db") % BM == 0)
        )
        cross = touching.filter(
            (F.col("da") % BM == 0) != (F.col("db") % BM == 0)
        ).select(
            F.when(F.col("da") % BM != 0, F.col("da"))
            .otherwise(F.col("db"))
            .alias("base_id"),
            F.when(F.col("da") % BM == 0, F.col("da"))
            .otherwise(F.col("db"))
            .alias("batch_id"),
            "jaccard",
        )
        within = touching.filter(
            (F.col("da") % BM == 0) & (F.col("db") % BM == 0)
        )
        batch_ids = docs.filter(F.col("doc_id") % BM == 0).select(
            "doc_id"
        )
        sink(incremental_decisions(batch_ids, cross, within))

    def inmem_incr(sf_dir):
        # the registry dedup_incremental shape, at this --batch-mod
        docs = widen_partitions(load_table(spark, sf_dir, "documents"))
        base = docs.filter(F.col("doc_id") % BM != 0)
        batch = docs.filter(F.col("doc_id") % BM == 0)
        batch_hs = gram_hash_arrays(batch).cache()
        cross = cross_pairs_against_bands(
            minhash_band_rows(gram_hash_arrays(base)),
            minhash_band_rows(batch_hs),
        ).filter(F.col("jaccard") >= JACCARD_THRESHOLD)
        within = minhash_lsh_pairs_arr(batch_hs).filter(
            F.col("jaccard") >= JACCARD_THRESHOLD
        )
        sink(
            incremental_decisions(batch.select("doc_id"), cross, within)
        )
        batch_hs.unpersist()

    def indexed(sf_dir, path):
        docs = widen_partitions(load_table(spark, sf_dir, "documents"))
        batch = docs.filter(F.col("doc_id") % BM == 0)
        batch_hs = gram_hash_arrays(batch).cache()
        cross = probe_minhash_index(spark, path, batch_hs).filter(
            F.col("jaccard") >= JACCARD_THRESHOLD
        )
        within = minhash_lsh_pairs_arr(batch_hs).filter(
            F.col("jaccard") >= JACCARD_THRESHOLD
        )
        sink(
            incremental_decisions(batch.select("doc_id"), cross, within)
        )
        batch_hs.unpersist()

    # JIT warm-up
    dedup_incremental(spark, "/root/testdata/sf0.001").count()

    for pname in args.points.split(","):
        sf_dir, sf = POINTS[pname]
        if not os.path.exists(f"{sf_dir}/documents.parquet"):
            print(json.dumps({"point": pname, "skipped": "no data"}))
            continue
        shutil.rmtree(SCRATCH, ignore_errors=True)
        idx_path = f"{SCRATCH}/index"

        ctrl0 = timed(lambda: sink(control_query(spark, "/root/testdata/sf0.1")))

        docs = widen_partitions(load_table(spark, sf_dir, "documents"))
        base_hs = gram_hash_arrays(
            docs.filter(F.col("doc_id") % BM != 0)
        )
        t0 = time.monotonic()
        build_minhash_index(base_hs, idx_path)
        t_build = round(time.monotonic() - t0, 3)

        res = {
            "point": pname,
            "sf": sf,
            "index_build": t_build,
            "full_scratch": timed(lambda: full_scratch(sf_dir)),
            "inmem_incr": timed(lambda: inmem_incr(sf_dir)),
            "indexed": timed(lambda: indexed(sf_dir, idx_path)),
        }
        res["control_sf01"] = [
            ctrl0,
            timed(lambda: sink(control_query(spark, "/root/testdata/sf0.1"))),
        ]
        print(json.dumps(res), flush=True)

    shutil.rmtree(SCRATCH, ignore_errors=True)
    spark.stop()


if __name__ == "__main__":
    main()
