#!/usr/bin/env python
"""Measure the Hamming signature-index lifecycle against full rebuild
— the media-index mirror of tools/ivf_bench.py (evidence behind the
hamming_index SCALING.md entry, round 9).

Per point, timed write-sink variants for a batch-mod batch of image
dHash signatures arriving against an already-indexed base:

  rebuild   re-build the whole (bl, b, pb) index over base ∪ batch,
            then probe with a 1% probe set;
  append    `append_to_hamming_index` of just the batch + the same
            probe — the lifecycle path whose cost should track the
            BATCH;
  probe     the probe alone against the appended index.

Signatures are computed once per point (untimed) — the bench
isolates INDEX lifecycle cost, not decode cost (decode curves are in
the multimodal scaling rows). A fixed-size drift control brackets
each point. Usage: python tools/hamming_bench.py
[--points sf0.1,sf1,sf10] [--samples 2] [--batch-mod 100].
Prints one JSON line per point.
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

SCRATCH = ".scale/_hamming_scratch"


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--points", default="sf0.1,sf1,sf10")
    ap.add_argument("--samples", type=int, default=2)
    ap.add_argument("--batch-mod", type=int, default=100)
    # Past-the-crossover mode (round-10 verdict #4): N synthetic
    # 60-bit signatures generated directly (spark.range + xxhash64 —
    # no decode, no parquet source), so the lifecycle can be measured
    # at 10^7 items where rewriting N band rows dominates the fixed
    # leaf cost. --bucket-parts applies the fan rule (raise with
    # corpus size so per-leaf files stay near target size).
    ap.add_argument("--synth", type=int, default=0)
    ap.add_argument("--bucket-parts", type=int, default=0)
    args = ap.parse_args()

    from pyspark.sql import functions as F

    from firefox_public_data_report_etl_spark.session import TIERED_C2, get_spark
    from firefox_public_data_report_etl_spark.operators.hamming_index import (
        append_to_hamming_index,
        build_hamming_index,
        probe_hamming_index,
    )
    from firefox_public_data_report_etl_spark.operators.multimodal import (
        DHASH_BITS,
        NDIMG_MAX_HAMMING,
        attach_neardup_bmp_payload,
        decode_dhash,
    )
    from firefox_public_data_report_etl_spark.sources import load_table

    spark = get_spark(app_name="hamming_bench", extra_conf=TIERED_C2)
    geom = {"bits": DHASH_BITS, "max_hamming": NDIMG_MAX_HAMMING}
    if args.bucket_parts:
        geom["bucket_parts"] = args.bucket_parts

    def synth_sigs(n: int):
        mask = (1 << DHASH_BITS) - 1
        return spark.range(n).select(
            F.col("id").alias("media_id"),
            F.expr(f"xxhash64(id) & {mask}").alias("dhash"),
        )

    def control() -> float:
        t = time.monotonic()
        load_table(spark, POINTS["sf0.1"], "documents").count()
        return time.monotonic() - t

    points = (
        [f"synth{args.synth}"] if args.synth else args.points.split(",")
    )
    for point in points:
        if args.synth:
            sigs = synth_sigs(args.synth).cache()
        else:
            sf_dir = POINTS[point]
            if not os.path.isdir(sf_dir):
                print(json.dumps({"point": point, "skipped": "no data"}))
                continue
            docs = load_table(spark, sf_dir, "documents").select("doc_id")
            sigs = (
                decode_dhash(attach_neardup_bmp_payload(docs))
                .select("media_id", "dhash")
                .cache()
            )
        n = sigs.count()
        base = sigs.filter(F.col("media_id") % args.batch_mod != 0)
        batch = sigs.filter(F.col("media_id") % args.batch_mod == 0).cache()
        n_batch = batch.count()

        res = {
            "point": point, "n_sigs": n, "n_batch": n_batch,
            "batch_mod": args.batch_mod,
            "bucket_parts": geom.get("bucket_parts", 32),
            "ctl_before": round(control(), 3),
        }
        timings: dict[str, list[float]] = {}
        for _ in range(args.samples):
            shutil.rmtree(SCRATCH, ignore_errors=True)
            t = time.monotonic()
            build_hamming_index(
                sigs, f"{SCRATCH}/re", id_col="media_id",
                sig_col="dhash", **geom,
            )
            pr = probe_hamming_index(spark, f"{SCRATCH}/re", batch)
            pr.pairs.write.mode("overwrite").format("noop").save()
            pr.close()
            timings.setdefault("rebuild", []).append(time.monotonic() - t)

            build_hamming_index(
                base, f"{SCRATCH}/ap", id_col="media_id",
                sig_col="dhash", **geom,
            )
            t = time.monotonic()
            append_to_hamming_index(spark, f"{SCRATCH}/ap", batch, 1)
            pr = probe_hamming_index(spark, f"{SCRATCH}/ap", batch)
            pr.pairs.write.mode("overwrite").format("noop").save()
            pr.close()
            timings.setdefault("append", []).append(time.monotonic() - t)

            t = time.monotonic()
            pr = probe_hamming_index(spark, f"{SCRATCH}/ap", batch)
            pr.pairs.write.mode("overwrite").format("noop").save()
            pr.close()
            timings.setdefault("probe", []).append(time.monotonic() - t)
        for k, v in timings.items():
            res[k] = round(min(v), 3)
        res["ctl_after"] = round(control(), 3)
        sigs.unpersist()
        batch.unpersist()
        shutil.rmtree(SCRATCH, ignore_errors=True)
        print(json.dumps(res), flush=True)

    spark.stop()


if __name__ == "__main__":
    main()
