#!/usr/bin/env python
"""Measure the IVF index lifecycle against full rebuild — the
evidence behind the ivf_lifecycle SCALING.md entry (round 9), the
embedding-space mirror of tools/incremental_bench.py.

Per point, timed write-sink variants for a batch-mod batch arriving
against an already-indexed base:

  rebuild   the naive refresh: re-build the whole (bl, cell) index
            over base ∪ batch, then search the batch's queries;
  append    `append_to_ivf_index` of just the batch + the same
            search — the lifecycle path whose cost should track the
            BATCH, not the corpus;
  probe     the search alone against the pre-appended index (the
            steady-state serving cost).

A fixed-size drift-control (sf0.1 embedding count) brackets each
point. Usage: python tools/ivf_bench.py [--points sf0.1,sf1]
[--samples 2] [--batch-mod 100]. Prints one JSON line per point.
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
    "sf0.1": "/root/testdata/sf0.1",
    "sf1": ".scale/sf1",
    "sf10": ".scale/sf10",
}

SCRATCH = ".scale/_ivf_scratch"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--points", default="sf0.1,sf1")
    ap.add_argument("--samples", type=int, default=2)
    ap.add_argument("--batch-mod", type=int, default=100)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from firefox_public_data_report_etl_spark.session import TIERED_C2, get_spark
    from firefox_public_data_report_etl_spark.operators.ivf_lifecycle import (
        append_to_ivf_index,
    )
    from firefox_public_data_report_etl_spark.operators.similarity import (
        quantized,
    )
    from firefox_public_data_report_etl_spark.operators.vectorized import (
        build_ivf_index,
        search_ivf_index,
    )
    from firefox_public_data_report_etl_spark.sources import load_table

    spark = get_spark(app_name="ivf_bench", extra_conf=TIERED_C2)

    def control() -> float:
        t = time.monotonic()
        quantized(
            load_table(spark, POINTS["sf0.1"], "embeddings")
        ).count()
        return time.monotonic() - t

    for point in args.points.split(","):
        sf_dir = POINTS[point]
        if not os.path.isdir(sf_dir):
            print(json.dumps({"point": point, "skipped": "no data"}))
            continue
        emb = quantized(load_table(spark, sf_dir, "embeddings")).cache()
        n = emb.count()
        # sqrt-N codebook, same policy as ann_ivf_scaled
        cmod = max(2, int((n / max(1, n**0.5))))
        centroids = emb.filter(F.col("vec_id") % cmod == 1).cache()
        centroids.count()
        base = emb.filter(F.col("vec_id") % args.batch_mod != 0)
        batch = emb.filter(F.col("vec_id") % args.batch_mod == 0).cache()
        n_batch = batch.count()
        queries = batch.limit(50).cache()
        queries.count()

        res = {
            "point": point, "n_vectors": n, "n_batch": n_batch,
            "batch_mod": args.batch_mod, "ctl_before": round(control(), 3),
        }
        timings: dict[str, list[float]] = {}
        for _ in range(args.samples):
            # rebuild: full index over base ∪ batch + search
            shutil.rmtree(SCRATCH, ignore_errors=True)
            t = time.monotonic()
            build_ivf_index(emb, centroids, f"{SCRATCH}/re")
            search_ivf_index(
                spark, f"{SCRATCH}/re", queries, 3, exclude_self=True
            ).write.mode("overwrite").format("noop").save()
            timings.setdefault("rebuild", []).append(time.monotonic() - t)

            # append: base pre-indexed (untimed), then append + search
            build_ivf_index(base, centroids, f"{SCRATCH}/ap")
            t = time.monotonic()
            append_to_ivf_index(spark, f"{SCRATCH}/ap", batch, 1)
            search_ivf_index(
                spark, f"{SCRATCH}/ap", queries, 3, exclude_self=True
            ).write.mode("overwrite").format("noop").save()
            timings.setdefault("append", []).append(time.monotonic() - t)

            # probe: search alone against the appended index
            t = time.monotonic()
            search_ivf_index(
                spark, f"{SCRATCH}/ap", queries, 3, exclude_self=True
            ).write.mode("overwrite").format("noop").save()
            timings.setdefault("probe", []).append(time.monotonic() - t)
        for k, v in timings.items():
            res[k] = round(min(v), 3)
        res["ctl_after"] = round(control(), 3)
        emb.unpersist()
        centroids.unpersist()
        batch.unpersist()
        queries.unpersist()
        shutil.rmtree(SCRATCH, ignore_errors=True)
        print(json.dumps(res), flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
