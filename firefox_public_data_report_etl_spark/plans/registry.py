"""Assembles the engine's public query registry.

Each plans module contributes ``QUERIES`` (name → (spark, sf_dir) →
DataFrame) and ``ORACLES`` (name → DuckDB-runnable ANSI SQL). The
driver's correctness gate runs both sides at sf0.01 and compares
row-count + schema + order-insensitive value hash; names present in
QUERIES but absent from ORACLES get a weaker rows-only check.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from firefox_public_data_report_etl_spark.plans import (
    activity,
    annotations,
    dedup,
    hardware,
    linkage,
    loader,
    quality,
    scalars,
    shapes,
    similarity,
    streamingq,
    text,
    tpch,
    tpch2,
    windowsq,
)

_MODULES = [
    activity,
    annotations,
    dedup,
    hardware,
    linkage,
    loader,
    quality,
    scalars,
    shapes,
    similarity,
    streamingq,
    text,
    tpch,
    tpch2,
    windowsq,
]

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}

# Programmatic scale classification — consumed by bench.py and the
# README table so a correctness baseline can never be mistaken for a
# scale path by reading the registry alone:
#   "scale"             (default) designed and measured for 100 TB;
#   "baseline"          deliberately brute-force (O(n^2)-ish) ground
#                       truth for an approximate/banded operator — run
#                       at test SF only; SCALE_PATH_FOR names the
#                       production sibling;
#   "streaming_binding" correctness binding for a streaming operator;
#                       its BATCH form is linear-at-best and the
#                       registry's window-form twin is the batch path.
SCALE_CLASS: dict[str, str] = {}
SCALE_PATH_FOR: dict[str, str] = {}

# Partition-less windows found in "scale"-class plans, each with the
# reason its single WindowExec task is bounded INDEPENDENT of corpus
# size. tests/test_scale_class_completeness.py walks every registry
# plan and fails any partition-less window that is neither labeled
# via SCALE_CLASS nor justified here — so the next ccnet-style
# silent single-task global sort cannot ship unlabeled (r7 verdict
# #7; corpus_ccnet_buckets was the motivating case, now classed
# "baseline" with a guarded exact form and a sketch-cutoff twin).
REPORT_EDGE_WINDOWS: dict[str, str] = {
    "user_activity_flagship": (
        "running latest-release max over the WEEK spine — time-"
        "bounded cardinality (weeks, not data) at any SF"
    ),
    "unshipped_orders_top10": (
        "position column computed over the ALREADY-LIMITED 10 rows; "
        "the global top-K itself is TakeOrderedAndProject"
    ),
    "bucket_collapse_ptype": (
        "global-total window over the KEY-grain rollup (150 "
        "p_type-p_brand combos), never the fact table"
    ),
    "compaction_plan_docs": (
        "cumulative byte binning over a FILE LISTING — metadata "
        "cardinality; the planner input is per-file rows, not data"
    ),
    "key_skew_audit_events": (
        "rank column computed over the ALREADY-LIMITED top-K rows; "
        "the global top-K itself is TakeOrderedAndProject"
    ),
    "tokenizer_tail_audit": (
        "rank/cumulative windows run on the VOCAB-grain frequency "
        "rollup (chars + BPE_MERGES rows — a learned-tokenizer "
        "constant), never on the token stream; the stream is reduced "
        "by a keyed groupBy first"
    ),
    "corpus_mixture_capacity_refill": (
        "pool/cumsum windows run on the LANG-grain rollup "
        "(#languages rows by construction); the doc-grain work is a "
        "lang-partitioned rank and a broadcast join of the "
        "report-sized refill table"
    ),
}

for _m in _MODULES:
    for _name, _fn in _m.QUERIES.items():
        assert _name not in QUERIES, f"duplicate query name {_name}"
        QUERIES[_name] = _fn
        SCALE_CLASS[_name] = "scale"
    ORACLES.update(getattr(_m, "ORACLES", {}))
    SCALE_CLASS.update(getattr(_m, "SCALE_CLASS", {}))
    SCALE_PATH_FOR.update(getattr(_m, "SCALE_PATH_FOR", {}))
