"""Physical-plan regression tests: the properties that keep these
queries viable at 100 TB must survive refactors.

- no CartesianProduct anywhere;
- BroadcastNestedLoopJoin only where a broadcast range/theta join is
  the intended strategy (as-of joins, brute-force similarity);
- parquet scans prune columns and receive pushed filters.
"""

from __future__ import annotations

import pytest

# Queries whose plans intentionally contain a broadcast non-equi join.
# name -> join-kind marker every BroadcastNestedLoopJoin node in the
# executed plan must carry (absent = no BNLJ tolerated at all). A
# TYPED waiver, not a blanket one: the curation capstones may carry
# condition-free Cross joins (the 1-row doc-count scalar attach) and
# nothing else — a band/gram equi join degenerating to an Inner BNLJ
# with a condition still fails the guard. Node lines are normalized
# (codegen `*(n)` prefixes and tree art stripped) and deduplicated
# because AQE prints initial+final plans and cached subtrees re-print.
BNLJ_ALLOWED = {
    "user_activity_flagship": "LeftOuter",  # as-of latest-release (tiny right)
    "release_annotations": "LeftOuter",     # spine x weekly-max range join
    "embedding_cosine_topk": "Inner",       # brute-force baseline: q x cands
    # recall/MRR eval harness: scores the IVF plan against the brute
    # ground truth, so it contains cosine_topk's waived broadcast
    # theta-join (SCALE_CLASS=baseline, scale path multiprobe)
    "retrieval_eval_ann": "Inner",
    # (dedup_embedding_cosine lost its waiver in round 11: the pair
    # dots now run in the Arrow matmul stage — no join in the plan)
    # brute-force band-scan baseline (SCALE_CLASS=baseline): shares
    # cosine_topk's broadcast theta-join shape
    "contrastive_hard_negatives": "Inner",
    # (multimodal_caption_retrieval lost its waiver in round 11: the
    # brute sweep runs in the Arrow rank-eval kernel — no crossJoin)
    "date_spine_weeks": "Cross",            # 1-row bounds crossJoin to spine
    # 1-row doc-count crossJoin attaching the corpus-relative
    # boilerplate cut (round 6) — the canonical broadcast-scalar shape
    "corpus_boilerplate": "Cross",
    "corpus_curation_pipeline": "Cross",
    "corpus_curation_pipeline_neardup": "Cross",
    "corpus_curation_pipeline_lm": "Cross",  # same gate-chain scalar cut
    "corpus_curation_pipeline_full": "Cross",  # same gate-chain scalar cut
    # 1-row approx_percentile cutoffs crossJoin broadcast onto the
    # doc-grain scores (r8 sketch-cutoff tercile twin) — the same
    # broadcast-scalar shape as the boilerplate cut above
    "corpus_ccnet_buckets_scaled": "Cross",
    # 1-row global-summary crossJoin broadcast onto the already-
    # LIMITed top-K keys (r8 skew audit) — broadcast-scalar shape
    "key_skew_audit_events": "Cross",
    # 1-row corpus-total crossJoin attaching N to the frequent-pair
    # lift ratio — broadcast-scalar shape
    "token_lift_pairs": "Cross",
    # 1-row (N, avg_len) corpus-totals crossJoin onto the tf relation
    # (round 12: replaced a driver head() action so bm25 is one job) —
    # broadcast-scalar shape
    "corpus_bm25_topk": "Cross",
    "retrieval_hybrid_rrf": "Cross",  # contains the bm25 subtree
    # 1-row stage-count crossJoins assembling the 3-row funnel report
    # edge — broadcast-scalar shape
    "funnel_conversion": "Cross",
    # 1-row reference-date crossJoin anchoring recency — broadcast-
    # scalar shape
    "customer_rfm_quartiles": "Cross",
    # 1-row global-total crossJoin for the Q11 fraction threshold —
    # broadcast-scalar shape (compared by integer cross-multiply)
    "important_parts_share": "Cross",
    # 1-row positive-balance average crossJoin for the Q22 threshold —
    # broadcast-scalar shape
    "idle_customers_by_code": "Cross",
}


def _executed_plan(spark, name, sf_dir):
    from firefox_public_data_report_etl_spark.plans import QUERIES

    df = QUERIES[name](spark, sf_dir)
    df.collect()  # finalize AQE re-planning
    return df._jdf.queryExecution().executedPlan().toString()


def _names():
    from firefox_public_data_report_etl_spark.plans import QUERIES

    return sorted(QUERIES)


@pytest.mark.parametrize("name", _names())
def test_no_cartesian_and_bnlj_only_where_intended(spark, sf_dir, name):
    import re

    plan = _executed_plan(spark, name, sf_dir)
    assert "CartesianProduct" not in plan, f"{name} degenerated to cartesian"
    nodes = {
        re.sub(r"^\W*(\*\(\d+\) )?", "", line.strip())
        for line in plan.splitlines()
        if "BroadcastNestedLoopJoin" in line
    }
    kind = BNLJ_ALLOWED.get(name)
    for node in nodes:
        assert kind is not None and kind in node, (
            f"{name}: unexpected nested-loop join {node[:120]!r} "
            f"(allowed kind: {kind}) — a hash/band join degenerated"
        )


def test_pricing_summary_scan_pruning(spark, sf_dir):
    plan = _executed_plan(spark, "pricing_summary", sf_dir)
    scan = next(l for l in plan.splitlines() if "FileScan parquet" in l)
    # column pruning: the 9 unused lineitem columns never reach the scan
    assert "l_orderkey" not in scan and "l_partkey" not in scan
    # the conservative raw-nanos range filter reaches the parquet reader
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "l_shipdate" in pushed


def test_regional_revenue_broadcasts_dims(spark, sf_dir):
    plan = _executed_plan(spark, "regional_revenue", sf_dir)
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan or "nation" not in plan.split(
        "SortMergeJoin"
    )[0]


def test_regional_revenue_filters_before_fact_fact_join(spark, sf_dir):
    """The region IN-list cut must prune customer→orders BEFORE the
    lineitem join: the OUTERMOST join in the optimized plan is the
    orderkey fact join (its build side already carries the filter), not
    a dim join sitting above an unfiltered fact-fact shuffle."""
    from firefox_public_data_report_etl_spark.plans import QUERIES

    df = QUERIES["regional_revenue"](spark, sf_dir)
    opt = df._jdf.queryExecution().optimizedPlan().toString()
    first_join = next(
        l for l in opt.splitlines() if "Join Inner" in l or "Join LeftSemi" in l
    )
    assert "l_orderkey" in first_join, (
        "fact join is not outermost — dims are joined above the "
        f"fact-fact shuffle: {first_join}"
    )


@pytest.mark.full
def test_regional_revenue_explicit_bloom_prunes_lineitem(spark, sf_dir):
    """The explicit runtime bloom (operators/runtime_filter.py) must
    (a) place its probe — xxhash64(l_orderkey) bit tests — as a Filter
    BELOW the fact-fact join, i.e. on the lineitem scan side, and
    (b) change no results (superset-safe bloom + exact join above)."""
    from firefox_public_data_report_etl_spark.plans.tpch import regional_revenue

    base = {
        tuple(r) for r in regional_revenue(spark, sf_dir).collect()
    }
    df = regional_revenue(spark, sf_dir, runtime_filter="bloom")
    got = {tuple(r) for r in df.collect()}
    assert got == base
    plan = df._jdf.queryExecution().executedPlan().toString()
    # the probe must sit in a Filter over the lineitem relation
    filt = [
        l for l in plan.splitlines()
        if "Filter" in l and "xxhash64(l_orderkey" in l
    ]
    assert filt, "bloom probe not found as a lineitem-side Filter"


def test_late_ship_agg_form_preaggregates(spark, sf_dir):
    """Default strategy rewrites the inequality EXISTS as MAX-per-key:
    the plan must collapse lineitem with a partial HashAggregate
    (map-side combine) before the join — the 100 TB shuffle saver."""
    plan = _executed_plan(spark, "late_ship_priority", sf_dir)
    assert "max(l_shipdate" in plan


def test_late_ship_semi_strategy_and_agreement(spark, sf_dir):
    """The literal EXISTS plan must be a left-semi join, and both
    strategies must return identical results."""
    from firefox_public_data_report_etl_spark.plans.tpch import (
        late_ship_priority,
    )

    semi = late_ship_priority(spark, sf_dir, strategy="semi")
    assert "LeftSemi" in semi._jdf.queryExecution().executedPlan().toString()
    agg = late_ship_priority(spark, sf_dir)
    assert {tuple(r) for r in semi.collect()} == {
        tuple(r) for r in agg.collect()
    }


def test_weekly_engagement_scan_prune(spark, sf_dir):
    """The report-date recency window must reach the parquet reader as
    a raw-nanos upper bound (pushed below the timestamp conversion)."""
    plan = _executed_plan(spark, "weekly_engagement_report", sf_dir)
    assert "PushedFilters: [" in plan
    pushed = plan.split("PushedFilters: [", 1)[1].split("]", 1)[0]
    assert "ts" in pushed


def test_ann_ivf_is_hash_partitioned_by_cell(spark, sf_dir):
    """IVF candidate scoring must be a broadcast/hash join on the cell
    key — never an all-pairs nested loop."""
    plan = _executed_plan(spark, "ann_ivf_scaled", sf_dir)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_late_ship_derived_probe_pushdown(spark, sf_dir):
    """The +60-day semi-join condition implies l_shipdate > 1996-03-01
    on the probe side; the derived predicate must reach the lineitem
    parquet scan (Catalyst cannot infer it through the non-equi join
    condition, so the plan states it explicitly)."""
    plan = _executed_plan(spark, "late_ship_priority", sf_dir)
    li_scans = [
        l for l in plan.splitlines()
        if "FileScan parquet" in l and "l_shipdate" in l
    ]
    assert li_scans, "lineitem scan not found"
    assert any("PushedFilters: [" in l and "l_shipdate" in l.split("PushedFilters: [", 1)[1]
               for l in li_scans), "derived l_shipdate bound did not reach the probe scan"


def test_intersect_aggregates_before_set_op(spark, sf_dir):
    """INTERSECT must hash pre-aggregated key sets, not order rows:
    each side's distinct collapses to custkey grain before the set-op
    join, and its orders scans carry only the two needed columns.
    (repeat_customers_intersect rides inside kpi_snapshot now — check
    the intersect branch's scans there.)"""
    from firefox_public_data_report_etl_spark.plans.shapes import (
        repeat_customers_intersect,
    )

    df = repeat_customers_intersect(spark, sf_dir)
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    for l in plan.splitlines():
        if "FileScan parquet" in l:
            assert "o_totalprice" not in l and "o_comment" not in l


def test_zorder_locality_prunes_both_dimensions(spark, tmp_path):
    """The Morton key must deliver what it promises on REAL parquet
    footers: range-partitioning a 256x256 grid by zkey yields files
    whose (x, y) min/max stats form tiles, so a selective predicate on
    the NON-leading dimension prunes most files — while an x-sorted
    layout serves y-predicates with zero pruning."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from firefox_public_data_report_etl_spark.functions import zorder16_spark_sql

    grid = (
        spark.range(0, 256 * 256)
        .select(
            (F.col("id") % 256).alias("x"),
            (F.col("id") / 256).cast("long").alias("y"),
        )
        .withColumn("zkey", F.expr(zorder16_spark_sql("x", "y")).cast("long"))
    )
    zdir, xdir = str(tmp_path / "z"), str(tmp_path / "x")
    grid.repartitionByRange(16, "zkey").write.parquet(zdir)
    grid.repartitionByRange(16, "x").write.parquet(xdir)

    def files_overlapping_y(path, lo, hi):
        import glob

        n_total, n_hit = 0, 0
        for f in glob.glob(path + "/part-*.parquet"):
            md = pq.ParquetFile(f).metadata
            ymins, ymaxs = [], []
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    if col.path_in_schema == "y" and col.statistics is not None:
                        ymins.append(col.statistics.min)
                        ymaxs.append(col.statistics.max)
            if not ymins:
                continue
            n_total += 1
            if min(ymins) <= hi and max(ymaxs) >= lo:
                n_hit += 1
        return n_hit, n_total

    z_hit, z_total = files_overlapping_y(zdir, 50, 57)
    x_hit, x_total = files_overlapping_y(xdir, 50, 57)
    assert z_total >= 8 and x_total >= 8
    assert x_hit == x_total  # linear x-sort cannot prune on y
    assert z_hit * 2 <= z_total  # z-order prunes most files on y


def test_top10_uses_take_ordered_not_full_sort(spark, sf_dir):
    """ORDER BY + LIMIT must plan as TakeOrderedAndProject (per-
    partition heap, no global sort) — the difference between a top-10
    and sorting 100 TB."""
    plan = _executed_plan(spark, "unshipped_orders_top10", sf_dir)
    assert "TakeOrderedAndProject" in plan


def test_interval_join_is_equi_keyed(spark, sf_dir):
    """The click->purchase interval join must hash/sort on user_id with
    the time bounds as a residual condition — never a cross product."""
    plan = _executed_plan(spark, "click_purchase_pairs_weekly", sf_dir)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan


def test_native_runtime_bloom_injection_eligible(spark, sf_dir):
    """Spark's own runtime bloom-filter rewrite (on by default) stays
    dormant at test scale only because its creation/application
    thresholds target production sizes. With the thresholds set to
    local-scale values, a selective-dim -> fact shuffle join from this
    engine's tables gets (a) `bloom_filter_agg` built over the
    filtered creation side and (b) a `might_contain` Filter placed on
    the fact scan side — evidence the join shapes here are eligible
    for native runtime row pruning at 100 TB with zero plan changes
    (companion to the EXPLICIT bloom in operators/runtime_filter.py,
    which works at any size and under broadcast)."""
    from pyspark.sql import functions as F

    from firefox_public_data_report_etl_spark.sources import load_table

    knobs = {
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "10GB",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k) for k in knobs}
    try:
        for k, v in knobs.items():
            spark.conf.set(k, v)
        o = (
            load_table(spark, sf_dir, "orders")
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_orderkey")
        )
        fact = load_table(spark, sf_dir, "lineitem").select(
            "l_orderkey", "l_quantity"
        )
        j = (
            fact.join(o, fact.l_orderkey == o.o_orderkey)
            .groupBy()
            .agg(F.sum("l_quantity").alias("q"))
        )
        j.collect()
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "bloom_filter_agg" in plan, "creation-side bloom not built"
        probe = [
            l
            for l in plan.splitlines()
            if "might_contain" in l and "l_orderkey" in l and "Filter" in l
        ]
        assert probe, "might_contain probe not on the fact scan side"
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


def test_tpch2_order_priority_scan_prunes_both_sides(spark, sf_dir):
    """Q4 shape: the quarter window must reach the ORDERS parquet scan
    and the derived shipdate lower bound the LINEITEM scan — the semi
    join's residual is not enough at 100 TB; the reads themselves must
    shrink."""
    plan = _executed_plan(spark, "order_priority_counts", sf_dir)
    pushed_blocks = [
        seg.split("]", 1)[0] for seg in plan.split("PushedFilters: [")[1:]
    ]
    assert any("o_orderdate" in b for b in pushed_blocks), pushed_blocks
    assert any("l_shipdate" in b for b in pushed_blocks), pushed_blocks


def test_tpch2_disjunctive_part_filter_pushed(spark, sf_dir):
    """Q19 shape: the brand/size union envelope must reach the part
    scan (it is pre-applied before the broadcast precisely because
    Catalyst cannot derive it from the OR spanning the join)."""
    plan = _executed_plan(spark, "disjunctive_promo_revenue", sf_dir)
    pushed_blocks = [
        seg.split("]", 1)[0] for seg in plan.split("PushedFilters: [")[1:]
    ]
    assert any("p_brand" in b for b in pushed_blocks), pushed_blocks
    assert "BroadcastHashJoin" in plan


def test_tpch2_top10_uses_take_ordered(spark, sf_dir):
    """Q10/Q21 shapes: global top-K must be TakeOrderedAndProject, not
    a global sort."""
    for name in ("returned_item_top_customers", "waiting_suppliers"):
        plan = _executed_plan(spark, name, sf_dir)
        assert "TakeOrderedAndProject" in plan, name
        assert "GlobalSort" not in plan, name


# Shuffle stages in the final AQE plan of user_activity_weekly over the
# hand fixture: one two-level aggregate for the five (week, country)
# branches, plus latest-version, top-addons and top-locales branches
# and their 4-way join. The 8-branch DAG over a cached `sample` had 19.
USER_ACTIVITY_MAX_SHUFFLE_STAGES = 11


def test_user_activity_weekly_plan_shape(spark):
    from firefox_public_data_report_etl_spark.plans.user_activity_pipeline import (
        user_activity_weekly,
    )
    from tests.test_user_activity_pipeline import _buildhub, _clients, _countries

    df = user_activity_weekly(
        _clients(spark), _countries(spark), _buildhub(spark),
        date_to="2025-01-01",
    )
    df.collect()  # finalize AQE re-planning
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" not in plan
    stages = sum(
        1 for line in plan.splitlines()
        if line.lstrip(" :+-").startswith("ShuffleQueryStage")
    )
    assert stages <= USER_ACTIVITY_MAX_SHUFFLE_STAGES, plan


# Spark jobs run_pipeline starts on the hardware fixture, report
# records included: the aggregate, collapse and partitioned write, then
# one read-back scan and one collect. The parent design ran 9 jobs in
# run_pipeline (a range sort before the write, an ordered read-back and
# a distinct-keys collect) and the wide frame's pivot + sort collect in
# the CLI added 5 more: 14 in all.
HARDWARE_MAX_JOBS = 6


def test_hardware_run_pipeline_job_count(spark, tmp_path):
    from firefox_public_data_report_etl_spark.plans import hardware_pipeline as hp
    from tests.test_hardware_pipeline import RAW_DEVICE_MAP, _input_df

    sc = spark.sparkContext
    group = "plan-quality-hardware"
    sc.setJobGroup(group, "hardware run_pipeline job count")
    try:
        _, records = hp.run_pipeline(
            spark, _input_df(spark), hp.invert_device_map(RAW_DEVICE_MAP),
            str(tmp_path / "hw"),
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc.statusTracker().getJobIdsForGroup(group)
    assert len(jobs) <= HARDWARE_MAX_JOBS, len(jobs)
    assert len(records) == 1
