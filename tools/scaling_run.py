#!/usr/bin/env python
"""Measure scaling curves for registry queries across sf0.1 and the
self-generated 10x/100x stacks (tools/gen_scale.py — facts, customer,
part, and embeddings stacked with remapped foreign keys; region/
nation/supplier fixed dims). Prints one JSON line per SF point with
wall seconds (best of N, caches cleared between runs, JIT warmed at
sf0.001) plus a fixed-size drift-control query per point — the data
behind SCALING.md's measured-slope tables.

SCALE_CLASS-aware: queries classed "baseline" (deliberate brute
force) are skipped above the --baseline-cap point so the runner
itself can't accidentally present a non-scaling correctness device as
a scale measurement; pass a higher cap to measure them anyway.

Usage:
  python tools/scaling_run.py                          # default set
  python tools/scaling_run.py --names q1,q2 --points sf0.1,sf1
  python tools/scaling_run.py --samples 2 --points sf10
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

POINTS = {
    "sf0.001": ("/root/testdata/sf0.001", 0.001),
    "sf0.01": ("/root/testdata/sf0.01", 0.01),
    "sf0.1": ("/root/testdata/sf0.1", 0.1),
    "sf1": (".scale/sf1", 1.0),
    "sf10": (".scale/sf10", 10.0),
}

# the priced-12 (BASELINE.md table) + round-4 curve set + the scale
# siblings of the capped baselines + the MAU salting measurement twin
DEFAULT_NAMES = [
    "user_activity_flagship",
    "mau_wau_weekly",
    "mau_wau_weekly_salted",
    "pricing_summary",
    "regional_revenue",
    "late_ship_priority",
    "top_customers_per_nation",
    "hardware_dims_grouping_sets",
    "bucket_collapse_ptype",
    "dedup_exact",
    "dedup_minhash_lsh",
    "embedding_cosine_topk",
    "text_quality_scores",
    "user_sessions",
    "sequence_packing",
    "train_eval_contamination",
    "corpus_boilerplate",
    "pii_redaction",
    "corpus_curation_pipeline",
    "kmeans_refine_scaled",
    "ann_ivf_scaled",
    # round-7 additions
    "dedup_incremental",
    "dedup_lines_c4",
    "corpus_lm_quality",
    "bpe_merge_table",
    # round-8 additions
    "corpus_ccnet_buckets_scaled",
    "corpus_dsir_sample",
    "source_overlap_matrix",
    "corpus_snapshot_diff",
    "gopher_quality_filter",
    "curriculum_shards",
    "corpus_bm25_topk",
    "retrieval_hybrid_rrf",
    "dedup_clusters",
    # round-8 continuation
    "corpus_quality_classifier",
    "quality_classifier_eval",
    "doc_embedding_hashproj",
    "retrieval_hashproj_ivf_scaled",
    "multimodal_wav_decode",
    "multimodal_resize",
    "key_skew_audit_events",
    "adaptive_salted_distinct",
    "retrieval_rag_chunks",
    "dedup_repeated_substrings",
    "dedup_substring_scrub",
    # round-8 second-session additions
    "dedup_prefix_filter",
    "dedup_containment",
    "user_state_scd2",
    "doc_pagerank",
    "part_entity_resolution",
    "token_lift_pairs",
    "funnel_conversion",
    "cohort_retention",
    "corpus_moore_lewis",
    "customer_order_histogram",
    "part_entity_resolution_scaled",
    "hopping_event_counts",
    "cumulative_unique_users",
    "part_name_fuzzy_matches",
    "dedup_keep_best_lm",
    "graph_triangle_count",
    "nation_trade_matrix",
    "customer_rfm_quartiles",
    "weekly_rollup_ivm",
    "event_transition_matrix",
    "multimodal_scene_cuts",
    "corpus_group_split",
    # round-8 third-session additions
    "returned_item_top_customers",
    "waiting_suppliers",
    "min_cost_supplier",
    "important_parts_share",
    "graph_kcore",
    "weekly_event_anomalies",
    "embedding_pca_project",
    "last_touch_attribution",
    "k_anonymity_audit",
    "multimodal_audio_vad",
    "ab_experiment_readout",
    "events_pit_enrich",
    "discounted_revenue",
    "part_token_profit",
    "dominant_part_suppliers",
    "graph_lpa_communities",
    "first_touch_attribution",
    "user_trailing_hour_stats",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--names", default=",".join(DEFAULT_NAMES))
    ap.add_argument("--points", default="sf0.1,sf1,sf10")
    ap.add_argument("--samples", type=int, default=3)
    ap.add_argument(
        "--baseline-cap",
        type=float,
        default=1.0,
        help="max sf at which baseline-classed queries still run",
    )
    ap.add_argument(
        "--sink",
        choices=["collect", "noop", "write"],
        default="collect",
        help=(
            "how to materialize each query: collect (driver round-trip"
            " included — comparable to bench.py and earlier rounds);"
            " noop (spark's no-op batch sink: executes the full plan,"
            " writes nothing, isolates engine time from driver"
            " materialization for per-row-output queries); write (the"
            " PRODUCTION sink — partitioned parquet via"
            " sources.write_partitioned where the query has a low-"
            " cardinality partition column, plain parquet otherwise,"
            " into a scratch dir: overwritten IN PLACE between samples"
            " — production semantics — and wiped between queries so"
            " layouts never mix)"
        ),
    )
    args = ap.parse_args()

    from firefox_public_data_report_etl_spark import get_spark
    from firefox_public_data_report_etl_spark.plans import (
        QUERIES,
        SCALE_CLASS,
    )
    from firefox_public_data_report_etl_spark.plans.activity import (
        mau_wau_weekly_salted,
    )
    from firefox_public_data_report_etl_spark.plans.text import (
        corpus_boilerplate_hashed,
    )
    queries = dict(QUERIES)
    queries["mau_wau_weekly_salted"] = mau_wau_weekly_salted
    queries["corpus_boilerplate_hashed"] = corpus_boilerplate_hashed

    # production-mode simhash measurement twin: 64-bit xxhash64
    # signatures (no md5 hex cost, 65k-value bands) vs the registry's
    # 60-bit md5-parity form
    def _simhash_xxhash64(spark, sf_dir):
        from firefox_public_data_report_etl_spark.operators.dedup import (
            simhash_pairs,
        )
        from firefox_public_data_report_etl_spark.sources import load_table

        return simhash_pairs(
            load_table(spark, sf_dir, "documents"),
            hash_mode="xxhash64",
            bits=64,
        )

    queries["dedup_simhash_xxhash64"] = _simhash_xxhash64

    # Manku-style wide-key layout: C(6,3)=20 tables of 30-bit keys —
    # the knob for corpora that saturate the 4x15-bit band space
    def _simhash_manku(spark, sf_dir):
        from firefox_public_data_report_etl_spark.operators.dedup import (
            simhash_pairs,
        )
        from firefox_public_data_report_etl_spark.sources import load_table

        return simhash_pairs(
            load_table(spark, sf_dir, "documents"), bits=60, n_blocks=6
        )

    queries["dedup_simhash_manku"] = _simhash_manku

    names = [n for n in args.names.split(",") if n]
    unknown = [n for n in names if n not in queries]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    points = [POINTS[p] for p in args.points.split(",") if p]

    spark = get_spark(app_name="scaling-run")

    # partition columns for the write sink: only genuinely low-
    # cardinality output columns qualify (a partitioned write on a
    # high-card key would measure small-file pathology, not the sink)
    write_parts = {
        "text_quality_scores": ["lang"],
        "corpus_curation_pipeline": ["split"],
        "corpus_curation_pipeline_neardup": ["split"],
        "pii_redaction": None,
        "dedup_exact": None,
        "user_sessions": None,
    }
    sink_dir = ".scale/_sink"
    run_name = [None]  # set per query below so run() can pick the layout

    def run(df) -> None:
        if args.sink == "noop":
            df.write.format("noop").mode("overwrite").save()
        elif args.sink == "write":
            from firefox_public_data_report_etl_spark.sources.tables import (
                write_partitioned,
            )

            parts = write_parts.get(run_name[0])
            if parts:
                write_partitioned(df, sink_dir, parts)
            else:
                df.write.mode("overwrite").parquet(sink_dir)
        else:
            df.collect()

    for _ in range(2):  # JIT/codegen warm
        for n in names:
            run_name[0] = n
            run(queries[n](spark, "/root/testdata/sf0.001"))
        spark.catalog.clearCache()

    def best_of(fn, n: int) -> float:
        best = float("inf")
        for _ in range(n):
            spark.catalog.clearCache()
            t0 = time.perf_counter()
            fn()
            best = min(best, time.perf_counter() - t0)
        return round(best, 3)

    for sf_dir, sf in points:
        row = {"sf": sf, "dir": sf_dir}
        # Per-point drift control: the same fixed-size query measured
        # alongside every point. This sandbox's absolute speed swings
        # 2-3x between minutes; slopes are only meaningful after
        # normalizing each point by its control.
        row["sink"] = args.sink

        def _fresh_sink() -> None:
            # untimed per-query wipe: samples of ONE query overwrite in
            # place (production semantics), but two queries' layouts
            # (partitioned vs plain) must never mix in the scratch dir
            if args.sink == "write":
                import shutil

                shutil.rmtree(sink_dir, ignore_errors=True)

        run_name[0] = names[0]
        _fresh_sink()
        row["control"] = best_of(
            lambda: run(queries[names[0]](spark, "/root/testdata/sf0.01")),
            args.samples,
        )
        for n in names:
            if SCALE_CLASS.get(n) == "baseline" and sf > args.baseline_cap:
                row[n] = None  # capped: non-scaling correctness device
                continue
            run_name[0] = n
            _fresh_sink()
            try:
                row[n] = best_of(
                    lambda: run(queries[n](spark, sf_dir)), args.samples
                )
            except Exception as e:  # noqa: BLE001 — e.g. a baseline
                # guard refusing an oversized stack: record it and keep
                # measuring the rest of the set instead of losing the run
                row[n] = f"error: {type(e).__name__}: {e}"[:300]
        print(json.dumps(row), flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
