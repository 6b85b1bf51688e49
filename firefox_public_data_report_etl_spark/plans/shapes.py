"""Oracle-backed queries for operator shapes that previously had only
pytest coverage (no ``queries()`` entry): recency filters + post-agg
HAVING + two-level averages (F7/F8/A4), distinct-ratio and re-keyed
re-aggregation (A11/A14), null-safe division (X10), broadcast LEFT
join with coalesce fallback (J1/X3), literal-map lookup with Other
default and ordered when-chain decision tables (J9/X20/X22),
oracle-checkable sort order via row_number positions (O1-O4), and
sorted kv-array reshape stringified for cross-engine comparison (P1).

Each query runs the SAME operator implementations the pipelines use
(functions.safe_div, the when-chain style of functions.os_arch, the
literal-map style of functions.gpu_vendor_name) against testdata
tables, with a hand-written DuckDB twin.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from firefox_public_data_report_etl_spark.functions import cents, safe_div, week_start
from firefox_public_data_report_etl_spark.sources import load_table

# F7 analog of the reference's days_since_seen recency predicates:
# a fixed report date, keep events from the trailing 14 days.
REPORT_DATE = "2024-01-29"
RECENT_DAYS = 14
HAVING_CUT = 150.0


def weekly_engagement_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F7 recency + F8 post-agg HAVING + A4 two-level average + A11
    distinct-count ratio + X10 safe divide + A14 re-keyed re-agg, in
    one weekly report over `events`."""
    ev = load_table(
        spark, sf_dir, "events", prune=("ts", None, REPORT_DATE)
    ).select(
        "user_id",
        F.to_date("ts").alias("d"),
        week_start(F.col("ts")).alias("week_start"),
        "value",
        "event_type",
        "props",
    )
    # F7: recency window relative to the report date.
    recent = ev.filter(
        (F.datediff(F.lit(REPORT_DATE).cast("date"), F.col("d")) < RECENT_DAYS)
        & (F.col("d") < F.lit(REPORT_DATE))
    )
    # A4 level 1 (per-user average) + F8 (HAVING on the aggregate).
    # Exact-arithmetic form of the determinism rules: the average is
    # kept as (cents_sum, n) and the HAVING avg < CUT is the exact
    # integer comparison cents_sum < CUT*100*n; the per-user average is
    # floored to cent grain (integer div) so level 2 sums exact ints
    # and divides ONCE — bit-identical across engines.
    from firefox_public_data_report_etl_spark.functions import cents

    per_user = (
        recent.groupBy("week_start", "user_id")
        .agg(
            F.sum(cents(F.col("value"))).alias("cents_u"),
            F.count("*").alias("n_u"),
        )
        .filter(F.col("cents_u") < int(HAVING_CUT * 100) * F.col("n_u"))
        .withColumn("avg_cents_u", F.expr("cents_u div n_u"))
    )
    # A4 level 2: average of per-user (cent-floored) averages.
    weekly = per_user.groupBy("week_start").agg(
        (
            F.sum("avg_cents_u").cast("double")
            / (F.lit(100.0) * F.count("*"))
        ).alias("avg_of_user_avgs"),
        F.count("*").alias("qualifying_users"),
    )
    # A11: distinct-count ratio with X10 null-safe division (the
    # error-event user set CAN be empty in a week).
    per_type = recent.groupBy("week_start", "event_type").agg(
        F.countDistinct("user_id").alias("type_users"),
        F.countDistinct(
            F.when(F.col("value") > 190.0, F.col("user_id"))
        ).alias("heavy_users"),
    )
    ratios = per_type.withColumn(
        "heavy_ratio",
        safe_div(F.col("heavy_users").cast("double"), F.col("type_users")),
    )
    # A14: re-key the per-type aggregate back to week grain.
    reagg = ratios.groupBy("week_start").agg(
        F.sum("type_users").alias("type_user_rows"),
        F.max("heavy_ratio").alias("max_heavy_ratio"),
    )
    return weekly.join(reagg, "week_start").select(
        F.date_format("week_start", "yyyy-MM-dd").alias("week_start"),
        "avg_of_user_avgs",
        "qualifying_users",
        "type_user_rows",
        "max_heavy_ratio",
    )


WEEKLY_ENGAGEMENT_ORACLE = f"""
WITH ev AS (
  SELECT user_id, CAST(ts AS DATE) AS d,
         CAST(date_trunc('week', ts) AS DATE) AS week_start,
         value, event_type
  FROM events
  WHERE datediff('day', CAST(ts AS DATE), DATE '{REPORT_DATE}') < {RECENT_DAYS}
    AND CAST(ts AS DATE) < DATE '{REPORT_DATE}'
),
per_user AS (
  SELECT week_start, user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS cents_u,
         CAST(count(*) AS BIGINT) AS n_u
  FROM ev GROUP BY week_start, user_id
  HAVING CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT)
         < {int(HAVING_CUT * 100)} * count(*)
),
weekly AS (
  SELECT week_start,
         CAST(sum(cents_u // n_u) AS DOUBLE) / (100.0 * count(*)) AS avg_of_user_avgs,
         CAST(count(*) AS BIGINT) AS qualifying_users
  FROM per_user GROUP BY week_start
),
per_type AS (
  SELECT week_start, event_type,
         CAST(count(DISTINCT user_id) AS BIGINT) AS type_users,
         CAST(count(DISTINCT CASE WHEN value > 190.0 THEN user_id END) AS BIGINT)
           AS heavy_users
  FROM ev GROUP BY week_start, event_type
),
reagg AS (
  SELECT week_start, CAST(sum(type_users) AS BIGINT) AS type_user_rows,
         max(CASE WHEN type_users = 0 THEN NULL
                  ELSE CAST(heavy_users AS DOUBLE) / type_users END)
           AS max_heavy_ratio
  FROM per_type GROUP BY week_start
)
SELECT strftime(week_start, '%Y-%m-%d') AS week_start,
       avg_of_user_avgs, qualifying_users, type_user_rows, max_heavy_ratio
FROM weekly JOIN reagg USING (week_start)
"""


# J9/X20: literal map with Other default, same style as
# functions.gpu_vendor_name's 13-entry vendor map.
BRAND_LABELS = {
    "Brand#11": "Alpha",
    "Brand#22": "Beta",
    "Brand#33": "Gamma",
}

# X22: ordered when-chain decision table, same style as
# functions.os_arch (first match wins, order matters).
def _size_class() -> F.Column:
    return (
        F.when((F.col("p_size") >= 40) & (F.col("p_type").startswith("PROMO")), "huge")
        .when(F.col("p_size") >= 40, "large")
        .when(F.col("p_type").startswith("STANDARD"), "small")
        .otherwise("medium")
    )


def part_decision_table(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J9 literal-map lookup (Other default) + X22 ordered when-chain
    over `part`, counted per decision cell."""
    part = load_table(spark, sf_dir, "part")
    mapping = F.create_map(
        *[F.lit(x) for kv in BRAND_LABELS.items() for x in kv]
    )
    labeled = part.select(
        F.coalesce(
            F.element_at(mapping, F.col("p_brand")), F.lit("Other")
        ).alias("brand_label"),
        _size_class().alias("size_class"),
    )
    return labeled.groupBy("brand_label", "size_class").agg(
        F.count("*").alias("parts")
    )


_BRAND_CASE = (
    "CASE "
    + " ".join(f"WHEN p_brand = '{k}' THEN '{v}'" for k, v in BRAND_LABELS.items())
    + " ELSE 'Other' END"
)

PART_DECISION_ORACLE = f"""
SELECT {_BRAND_CASE} AS brand_label,
       CASE WHEN p_size >= 40 AND p_type LIKE 'PROMO%' THEN 'huge'
            WHEN p_size >= 40 THEN 'large'
            WHEN p_type LIKE 'STANDARD%' THEN 'small'
            ELSE 'medium' END AS size_class,
       CAST(count(*) AS BIGINT) AS parts
FROM part
GROUP BY 1, 2
"""


def priority_year_kv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1 sorted kv-array rows, stringified for cross-engine equality:
    per order priority, the per-year order counts as a sorted
    'year:count' list (the hardware report's sorted kv_array shape,
    hardware_report.py:448-453)."""
    orders = load_table(spark, sf_dir, "orders")
    per_year = orders.groupBy(
        "o_orderpriority", F.year("o_orderdate").alias("y")
    ).agg(F.count("*").alias("n"))
    return per_year.groupBy("o_orderpriority").agg(
        F.concat_ws(
            ",",
            F.transform(
                F.sort_array(F.collect_list(F.struct("y", "n"))),
                lambda s: F.concat_ws(":", s["y"].cast("string"), s["n"].cast("string")),
            ),
        ).alias("year_counts")
    )


PRIORITY_KV_ORACLE = """
WITH per_year AS (
  SELECT o_orderpriority, year(o_orderdate) AS y, count(*) AS n
  FROM orders GROUP BY o_orderpriority, year(o_orderdate)
)
SELECT o_orderpriority,
       string_agg(CAST(y AS VARCHAR) || ':' || CAST(n AS VARCHAR), ',' ORDER BY y) AS year_counts
FROM per_year GROUP BY o_orderpriority
"""


SPINE_START = "2023-12-25"
SPINE_STOP = "2024-02-26"


def spine_gap_fill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python Data Source (sources.pydatasource) feeding a
    gap-fill: the date-spine relation LEFT-joins weekly event counts,
    so weeks with no data appear zero-filled — the reporting shape the
    reference gets from GENERATE_DATE_ARRAY spines (S12 as a
    first-class connector with partition planning instead of an
    expression)."""
    from firefox_public_data_report_etl_spark.sources.pydatasource import register

    register(spark)
    spine = (
        spark.read.format("date_spine")
        .option("start", SPINE_START)
        .option("stop", SPINE_STOP)
        .option("step_days", "7")
        .option("numPartitions", "4")
        .load()
        .select("day")
    )
    weekly = (
        load_table(spark, sf_dir, "events")
        .groupBy(week_start(F.col("ts")).alias("day"))
        .agg(F.count("*").alias("n"))
    )
    return spine.join(weekly, "day", "left").select(
        F.date_format("day", "yyyy-MM-dd").alias("week"),
        F.coalesce(F.col("n"), F.lit(0)).alias("events"),
    )


SPINE_GAP_FILL_ORACLE = f"""
WITH spine AS (
  SELECT CAST(unnest(generate_series(TIMESTAMP '{SPINE_START}',
                                     TIMESTAMP '{SPINE_STOP}',
                                     INTERVAL 7 DAY)) AS DATE) AS day
),
weekly AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS day, count(*) AS n
  FROM events GROUP BY 1
)
SELECT strftime(day, '%Y-%m-%d') AS week,
       CAST(coalesce(n, 0) AS BIGINT) AS events
FROM spine LEFT JOIN weekly USING (day)
"""


def corpus_refresh_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row-level MERGE (operators.merge.merge_rows): a simulated
    re-crawl where every 10th document is refreshed (updated text) and
    a small batch of brand-new docs inserts; untouched rows pass
    through. The oracle is the independent anti-join formulation
    (source UNION target-minus-source), so a latest-wins bug in the
    window form can't hide."""
    from firefox_public_data_report_etl_spark.operators.merge import merge_rows

    target = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    recrawl = (
        target.filter(F.col("doc_id") % 10 == 0)
        .select("doc_id", F.upper(F.col("text")).alias("text"))
    )
    fresh = target.filter(F.col("doc_id") < 5).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("new: "), F.col("text")).alias("text"),
    )
    source = recrawl.unionByName(fresh)
    return merge_rows(target, source, ["doc_id"])


CORPUS_MERGE_ORACLE = """
WITH target AS (SELECT doc_id, text FROM documents),
source AS (
  SELECT doc_id, upper(text) AS text FROM documents WHERE doc_id % 10 = 0
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id, 'new: ' || text AS text
  FROM documents WHERE doc_id < 5
)
SELECT doc_id, text FROM source
UNION ALL
SELECT t.doc_id, t.text FROM target t
WHERE NOT EXISTS (SELECT 1 FROM source s WHERE s.doc_id = t.doc_id)
"""


def value_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated quantiles per event type (p50/p90/p99 of
    exact cents) PLUS the 100 TB sketch variant in the same entry:
    ``approx_percentile`` (t-digest-style, accuracy 10000) — at fact
    scale the exact form must shuffle every value to its group; the
    sketch merges fixed-size summaries.

    Oracle form for the sketch half: sketch outputs are
    engine-specific, so the row carries the EXACT percentiles
    (bit-identical — both engines use the same linear interpolation
    over int64 cents) plus RANK-tolerance booleans: the empirical CDF
    position of the sketch output must sit within ±0.01 of the target
    quantile. A value tolerance would be wrong — approx_percentile
    returns an actual data element (discrete) while the exact
    percentile interpolates, so in a sparse tail their VALUES can
    differ by a whole inter-point gap while the rank is perfect.
    DuckDB emits the exact values and literal TRUE."""
    from firefox_public_data_report_etl_spark.functions import cents

    ev = load_table(spark, sf_dir, "events").select(
        "event_type", cents(F.col("value")).alias("c")
    )
    g = ev.groupBy("event_type").agg(
        F.expr("percentile(c, 0.5)").alias("p50_cents"),
        F.expr("percentile(c, 0.9)").alias("p90_cents"),
        F.expr("percentile(c, 0.99)").alias("p99_cents"),
        F.expr("approx_percentile(c, 0.5, 10000)").alias("_a50"),
        F.expr("approx_percentile(c, 0.99, 10000)").alias("_a99"),
    )
    ranked = ev.join(F.broadcast(g), "event_type").groupBy("event_type").agg(
        F.first("p50_cents").alias("p50_cents"),
        F.first("p90_cents").alias("p90_cents"),
        F.first("p99_cents").alias("p99_cents"),
        F.count("*").alias("n"),
        F.count(F.when(F.col("c") <= F.col("_a50"), True)).alias("_le50"),
        F.count(F.when(F.col("c") < F.col("_a50"), True)).alias("_lt50"),
        F.count(F.when(F.col("c") <= F.col("_a99"), True)).alias("_le99"),
        F.count(F.when(F.col("c") < F.col("_a99"), True)).alias("_lt99"),
    )
    eps = 0.01

    def rank_ok(le, lt, p):
        n = F.col("n").cast("double")
        return (F.col(le) / n >= p - eps) & (F.col(lt) / n <= p + eps)

    return ranked.select(
        "event_type",
        "p50_cents",
        "p90_cents",
        "p99_cents",
        "n",
        rank_ok("_le50", "_lt50", 0.5).alias("p50_within_tol"),
        rank_ok("_le99", "_lt99", 0.99).alias("p99_within_tol"),
    )


VALUE_PERCENTILES_ORACLE = """
SELECT event_type,
       quantile_cont(CAST(round(value * 100) AS BIGINT), 0.5) AS p50_cents,
       quantile_cont(CAST(round(value * 100) AS BIGINT), 0.9) AS p90_cents,
       quantile_cont(CAST(round(value * 100) AS BIGINT), 0.99) AS p99_cents,
       CAST(count(*) AS BIGINT) AS n,
       TRUE AS p50_within_tol,
       TRUE AS p99_within_tol
FROM events GROUP BY event_type
"""


def funnel_click_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Funnel conversion in ONE aggregation pass: a user converted iff
    some purchase follows their first click, which is exactly
    ``max(purchase_ts) > min(click_ts)`` — no self-join, no window;
    the classic two-step funnel collapses to two conditional
    aggregates per user and a global rollup. One fact shuffle at user
    grain, then a 1-row reduce."""
    ev = load_table(spark, sf_dir, "events").select("user_id", "ts", "event_type")
    per_user = ev.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias("first_click"),
        F.max(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "last_purchase"
        ),
    )
    flags = per_user.select(
        F.col("first_click").isNotNull().alias("clicked"),
        (
            F.col("first_click").isNotNull()
            & (F.col("last_purchase") > F.col("first_click"))
        ).alias("converted"),
    )
    return flags.agg(
        F.count(F.when(F.col("clicked"), True)).alias("users_clicked"),
        F.count(F.when(F.col("converted"), True)).alias("users_converted"),
        (
            F.count(F.when(F.col("converted"), True)).cast("double")
            / F.count(F.when(F.col("clicked"), True))
        ).alias("conversion_rate"),
    )


FUNNEL_ORACLE = """
WITH per_user AS (
  SELECT user_id,
         min(CASE WHEN event_type = 'click' THEN ts END) AS first_click,
         max(CASE WHEN event_type = 'purchase' THEN ts END) AS last_purchase
  FROM events GROUP BY user_id
),
flags AS (
  SELECT first_click IS NOT NULL AS clicked,
         first_click IS NOT NULL AND last_purchase > first_click AS converted
  FROM per_user
)
SELECT CAST(count(CASE WHEN clicked THEN 1 END) AS BIGINT) AS users_clicked,
       CAST(count(CASE WHEN converted THEN 1 END) AS BIGINT) AS users_converted,
       CAST(count(CASE WHEN converted THEN 1 END) AS DOUBLE)
         / count(CASE WHEN clicked THEN 1 END) AS conversion_rate
FROM flags
"""


def compaction_plan_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compaction planning (operators/maintenance.py) demonstrated on
    the documents table as a stand-in file listing (doc_id → path,
    payload bytes → file size): 64 KB target bins via the one-window
    cumulative binning, plus the per-bin rollup a rewrite scheduler
    consumes."""
    from firefox_public_data_report_etl_spark.operators.maintenance import (
        compaction_bins,
    )

    files = load_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("path"),
        F.length("text").cast("long").alias("bytes"),
    )
    planned = compaction_bins(files, target_bytes=65536)
    return planned.groupBy("bin").agg(
        F.count("*").alias("n_files"),
        F.sum("bytes").alias("bin_bytes"),
        F.min("path").alias("first_path"),
        F.max("path").alias("last_path"),
    )


COMPACTION_PLAN_ORACLE = """
WITH f AS (
  SELECT doc_id AS path, CAST(length(text) AS BIGINT) AS bytes FROM documents
),
b AS (
  SELECT path, bytes,
         CAST(floor(coalesce(sum(bytes) OVER (ORDER BY path
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
              / 65536.0) AS BIGINT) AS bin
  FROM f
)
SELECT bin, count(*) AS n_files, CAST(sum(bytes) AS BIGINT) AS bin_bytes,
       min(path) AS first_path, max(path) AS last_path
FROM b GROUP BY bin
"""


def salted_weekly_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-safe exact distinct count (operators.skew) at the A12
    multi-dimension grain — distinct users per (week, event_type,
    locale), the reference's (week, country, locale) analog
    (user_activity.py:47-60; testdata has no locale column, so a
    deterministic user attribute ``loc-<user_id%3>`` stands in — the
    operator shape, a 3-column grain feeding a salted distinct, is
    what A12 specifies). Salting is exact (a key always lands in one
    salt bucket), so the oracle is a plain COUNT(DISTINCT).

    Also carries the HLL++ sketch variant in the same pass family:
    ``approx_count_distinct`` (rsd=0.01) per grain cell, checked as a
    within-5%-of-exact boolean (5 sigma) — sketch estimates are
    engine-specific, so the boolean is the cross-engine contract;
    register merge is order-insensitive, hence deterministic for
    fixed data at any partitioning."""
    from firefox_public_data_report_etl_spark.operators.skew import (
        salted_count_distinct,
    )

    ev = load_table(spark, sf_dir, "events").select(
        week_start(F.col("ts")).alias("week_start"),
        "event_type",
        F.concat(F.lit("loc-"), (F.col("user_id") % 3).cast("string")).alias(
            "locale"
        ),
        "user_id",
    )
    keys = ["week_start", "event_type", "locale"]
    exact = salted_count_distinct(ev, keys, "user_id", "users")
    approx = ev.groupBy(*keys).agg(
        F.approx_count_distinct("user_id", 0.01).alias("_users_approx")
    )
    out = exact.join(approx, keys)
    return out.select(
        F.date_format("week_start", "yyyy-MM-dd").alias("week_start"),
        "event_type",
        "locale",
        "users",
        (
            F.abs(F.col("_users_approx") - F.col("users"))
            <= 0.05 * F.col("users")
        ).alias("sketch_ok"),
    )


SALTED_WEEKLY_USERS_ORACLE = """
SELECT strftime(CAST(date_trunc('week', ts) AS DATE), '%Y-%m-%d') AS week_start,
       event_type,
       'loc-' || CAST(user_id % 3 AS VARCHAR) AS locale,
       CAST(count(DISTINCT user_id) AS BIGINT) AS users,
       TRUE AS sketch_ok
FROM events GROUP BY 1, 2, 3
"""


def orders_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Table-profiling pass (the engine's ANALYZE analog): per-column
    null counts, distinct counts, and min/max in ONE scan — long-form
    output (column, stat, value) so the shape is schema-stable. The
    profile every ingestion pipeline runs before trusting a new drop."""
    o = load_table(spark, sf_dir, "orders")
    cols = ["o_orderkey", "o_custkey", "o_orderpriority"]
    # Round 12 (guide §2.2/§2.5): one agg holding THREE countDistinct
    # plus string min/max planned as Expand(x4 rows) -> Sort ->
    # SortAggregate at (custkey, priority, orderkey, gid) grain — the
    # multi-distinct rewrite's dedup grain, sort-forced by the string
    # min/max buffers (1.7 s for a 150k-row scan). Split instead:
    # (a) the non-distinct stats in one empty-key aggregate (no
    # Expand; empty-key SortAggregate needs no sort — single pass),
    # (b) the distinct counts via an explicit melt -> two-phase hash
    # aggregate (casts are injective, so counts are identical).
    aggs = []
    for c in cols:
        aggs += [
            F.count(F.when(F.col(c).isNull(), True)).alias(f"{c}__nulls"),
            F.min(c).cast("string").alias(f"{c}__min"),
            F.max(c).cast("string").alias(f"{c}__max"),
        ]
    wide = o.agg(F.count("*").alias("__rows"), *aggs)
    plain_cols = [f.name for f in wide.schema.fields]
    pairs = F.array(
        *[
            F.struct(F.lit(c).alias("stat"), F.col(c).cast("string").alias("value"))
            for c in plain_cols
        ]
    )
    plain = (
        wide.select(F.explode(pairs).alias("kv"))
        .select(F.col("kv.stat").alias("stat"), F.col("kv.value").alias("value"))
    )
    melted = o.select(
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(f"{c}__distinct").alias("stat"),
                        F.col(c).cast("string").alias("v"),
                    )
                    for c in cols
                ]
            )
        ).alias("kv")
    ).select("kv.stat", "kv.v")
    dist = (
        melted.filter(F.col("v").isNotNull())
        .groupBy("stat")
        .agg(F.countDistinct("v").cast("string").alias("value"))
    )
    return plain.unionByName(dist)


ORDERS_PROFILE_ORACLE = """
WITH w AS (
  SELECT CAST(count(*) AS VARCHAR) AS "__rows",
         CAST(count(CASE WHEN o_orderkey IS NULL THEN 1 END) AS VARCHAR) AS "o_orderkey__nulls",
         CAST(count(DISTINCT o_orderkey) AS VARCHAR) AS "o_orderkey__distinct",
         CAST(min(o_orderkey) AS VARCHAR) AS "o_orderkey__min",
         CAST(max(o_orderkey) AS VARCHAR) AS "o_orderkey__max",
         CAST(count(CASE WHEN o_custkey IS NULL THEN 1 END) AS VARCHAR) AS "o_custkey__nulls",
         CAST(count(DISTINCT o_custkey) AS VARCHAR) AS "o_custkey__distinct",
         CAST(min(o_custkey) AS VARCHAR) AS "o_custkey__min",
         CAST(max(o_custkey) AS VARCHAR) AS "o_custkey__max",
         CAST(count(CASE WHEN o_orderpriority IS NULL THEN 1 END) AS VARCHAR) AS "o_orderpriority__nulls",
         CAST(count(DISTINCT o_orderpriority) AS VARCHAR) AS "o_orderpriority__distinct",
         CAST(min(o_orderpriority) AS VARCHAR) AS "o_orderpriority__min",
         CAST(max(o_orderpriority) AS VARCHAR) AS "o_orderpriority__max"
  FROM orders
)
SELECT u.stat, u.value FROM w,
LATERAL (VALUES
  ('__rows', "__rows"),
  ('o_orderkey__nulls', "o_orderkey__nulls"),
  ('o_orderkey__distinct', "o_orderkey__distinct"),
  ('o_orderkey__min', "o_orderkey__min"),
  ('o_orderkey__max', "o_orderkey__max"),
  ('o_custkey__nulls', "o_custkey__nulls"),
  ('o_custkey__distinct', "o_custkey__distinct"),
  ('o_custkey__min', "o_custkey__min"),
  ('o_custkey__max', "o_custkey__max"),
  ('o_orderpriority__nulls', "o_orderpriority__nulls"),
  ('o_orderpriority__distinct', "o_orderpriority__distinct"),
  ('o_orderpriority__min', "o_orderpriority__min"),
  ('o_orderpriority__max', "o_orderpriority__max")
) AS u(stat, value)
"""


def repeat_customers_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT set op: customers who placed orders in BOTH 1996 and
    1997 — the set-operator sibling of the exceptAll contract check
    (U2). Scale: each side is a pre-aggregated distinct (map-side
    combine before its shuffle); INTERSECT hashes the two key sets,
    never the order rows."""
    orders = load_table(spark, sf_dir, "orders")
    def _year(y: int):
        return (
            orders.filter(F.year("o_orderdate") == y)
            .select("o_custkey")
            .distinct()
        )
    return (
        _year(1996)
        .intersect(_year(1997))
        .select(F.col("o_custkey").alias("custkey"))
    )


REPEAT_CUSTOMERS_ORACLE = """
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1996
INTERSECT
SELECT o_custkey AS custkey FROM orders WHERE year(o_orderdate) = 1997
"""


def customer_balance_deciles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile ranking partitioned by the J1/X3 fallback label:
    customers broadcast-LEFT-join the 'known' nation dim (regionkey
    0/1 only) and keep a coalesce('Other') label when outside it — the
    reference's country-name join shape (sample_cte) — then bucket
    into account-balance deciles per label. The ntile ordering
    tie-breaks on the key so both engines assign identical buckets.

    Scale: the dim join is broadcast (customer never shuffles for
    it); one window shuffle on the label key; deciles collapse to 10
    rows per label."""
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey",
        "c_nationkey",
        cents(F.col("c_acctbal")).alias("bal_c"),
    )
    known = (
        load_table(spark, sf_dir, "nation")
        .filter(F.col("n_regionkey").isin(0, 1))
        .select("n_nationkey", "n_name")
    )
    labeled = cust.join(
        F.broadcast(known), cust.c_nationkey == known.n_nationkey, "left"
    ).withColumn("nation_label", F.coalesce(F.col("n_name"), F.lit("Other")))
    w = Window.partitionBy("nation_label").orderBy("bal_c", "c_custkey")
    tiled = labeled.withColumn("decile", F.ntile(10).over(w))
    return tiled.groupBy("nation_label", "decile").agg(
        F.count("*").alias("n"),
        F.min("bal_c").alias("min_bal_c"),
        F.max("bal_c").alias("max_bal_c"),
    )


CUSTOMER_DECILES_ORACLE = """
WITH known AS (SELECT n_nationkey, n_name FROM nation WHERE n_regionkey IN (0, 1)),
labeled AS (
  SELECT coalesce(n_name, 'Other') AS nation_label, c_custkey,
         CAST(round(c_acctbal * 100) AS BIGINT) AS bal_c
  FROM customer LEFT JOIN known ON c_nationkey = n_nationkey
),
tiled AS (
  SELECT nation_label,
         CAST(ntile(10) OVER (PARTITION BY nation_label
                              ORDER BY bal_c, c_custkey) AS INT) AS decile,
         bal_c
  FROM labeled
)
SELECT nation_label, decile, count(*) AS n,
       CAST(min(bal_c) AS BIGINT) AS min_bal_c,
       CAST(max(bal_c) AS BIGINT) AS max_bal_c
FROM tiled GROUP BY nation_label, decile
"""


def events_zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over (user_id, day) for the
    events table — the write-side layout lever: range-partitioning
    output files by this key makes row-group min/max stats prune
    selective predicates on EITHER dimension (a linear sort serves
    only its leading column). The key is a pure integer expression
    (whole-stage codegen); `test_zorder_locality` proves the pruning
    property on real parquet footers."""
    from firefox_public_data_report_etl_spark.functions import zorder16_spark_sql

    ev = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.datediff(
            F.to_date("ts"), F.lit("2024-01-01").cast("date")
        ).alias("day_no"),
    )
    bounded = ev.select(
        "user_id",
        "day_no",
        F.pmod(F.col("user_id"), F.lit(65536)).alias("ub"),
        F.pmod(F.col("day_no"), F.lit(65536)).alias("db"),
    )
    return bounded.select(
        "user_id",
        "day_no",
        F.expr(zorder16_spark_sql("ub", "db")).cast("long").alias("zkey"),
    )


def _zorder_oracle() -> str:
    from firefox_public_data_report_etl_spark.functions import zorder16_duck_sql

    return f"""
WITH ev AS (
  SELECT user_id,
         CAST(date_diff('day', DATE '2024-01-01', CAST(ts AS DATE)) AS INT) AS day_no
  FROM events
),
b AS (
  SELECT user_id, day_no,
         ((user_id % 65536) + 65536) % 65536 AS ub,
         ((day_no % 65536) + 65536) % 65536 AS db
  FROM ev
)
SELECT user_id, day_no,
       CAST({zorder16_duck_sql("ub", "db")} AS BIGINT) AS zkey
FROM b
"""


def kpi_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar-KPI report in one long-form entry (metric, value) —
    the same assemble-scalars-into-one-export shape as the reference's
    fxhealth JSON (user_activity.py:28-45), carrying five operator
    families that each produce report-sized output:

    - funnel conversion (one-aggregation-pass funnel over events),
    - TPC-H Q14 promo revenue share (fact⋈dim conditional-sum ratio),
    - TPC-H Q17 small-quantity revenue (decorrelated scalar subquery),
    - the U2 exceptAll output-contract check (violation counts),
    - the INTERSECT repeat-customer set (cardinality).

    Round 13 (guide §2.4 — scan fusion; the standalone registry
    queries keep their own shapes, only this report's legs fuse):

    - Q14 + Q17 share ONE full lineitem pass: the month window is a
      per-row flag instead of a second pruned scan, the per-part
      average rides the same exchange as the join probe
      (ReusedExchange via an explicit repartition), and one final
      aggregate emits all five metrics. Guarded `when(in_month, ...)`
      sums reproduce Q14's month-filtered sums exactly (NULL on an
      empty month, 0-contribution rows otherwise).
      The Q17 leg is therefore computed over lineitem ⋈ part, while
      the standalone Q17 oracle reads lineitem alone: the two agree
      only while every ``l_partkey`` exists in ``part`` (TPC-H's
      foreign key, true of the generated data).
    - The U2 cohort check is counts over ONE distinct-cohort pass
      (the exceptAll formulation evaluated the produced subtree — a
      full events scan — twice): missing = |allow| − |produced ∩
      allow|, unexpected = |produced \\ allow|, exact because both
      sides are distinct sets and produced cohorts are non-null by
      construction (event_type / 'Worldwide').
    - repeat_customers is ONE orders scan: per-customer year flags →
      count(both) ≡ the two-distinct-sides INTERSECT cardinality.

    Each branch keeps its full distributed plan; only the final
    report-sized rows are unioned. Long form keeps the schema stable
    as KPIs are added — exactly why the reference exports dicts."""
    from firefox_public_data_report_etl_spark.plans.activity import (
        base_events,
    )
    from firefox_public_data_report_etl_spark.plans.annotations import (
        COHORT_ALLOWLIST,
    )
    from firefox_public_data_report_etl_spark.plans.tpch import _pct

    def unpivot(df: DataFrame, metrics: list[tuple[str, str]]) -> DataFrame:
        pairs = F.array(
            *[
                F.struct(
                    F.lit(m).alias("metric"),
                    F.col(c).cast("double").alias("value"),
                )
                for m, c in metrics
            ]
        )
        return df.select(F.explode(pairs).alias("kv")).select(
            F.col("kv.metric").alias("metric"), F.col("kv.value").alias("value")
        )

    funnel = unpivot(
        funnel_click_purchase(spark, sf_dir),
        [
            ("funnel_users_clicked", "users_clicked"),
            ("funnel_users_converted", "users_converted"),
            ("funnel_conversion_rate", "conversion_rate"),
        ],
    )
    # Q14 + Q17 in one lineitem pass. rev4/in_month reproduce
    # promo_revenue_share's month-scan sums via guarded whens; the
    # per-part (qty_sum, qty_n) aggregate and the join probe share
    # one explicit partkey exchange.
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select(
            "l_partkey",
            F.floor(F.col("l_quantity") + F.lit(0.5))
            .cast("long")
            .alias("qty"),
            cents(F.col("l_extendedprice")).alias("price_c"),
            (
                cents(F.col("l_extendedprice"))
                * (100 - _pct(F.col("l_discount")))
            ).alias("rev4"),
            (
                (F.col("l_shipdate") >= F.lit("1995-09-01"))
                & (F.col("l_shipdate") < F.lit("1995-10-01"))
            ).alias("in_month"),
        )
        .repartition("l_partkey")
    )
    per_part = li.groupBy("l_partkey").agg(
        F.sum("qty").alias("qty_sum"), F.count("*").alias("qty_n")
    )
    part_dim = load_table(spark, sf_dir, "part").select(
        F.col("p_partkey").alias("l_partkey"),
        F.col("p_type").startswith("PROMO").alias("is_promo"),
    )
    below = F.col("qty") * F.col("qty_n") * 2 < F.col("qty_sum")
    ps = (
        li.join(per_part.hint("shuffle_hash"), "l_partkey")
        .join(part_dim, "l_partkey")
        .agg(
            F.sum(
                F.when(
                    F.col("in_month"),
                    F.when(F.col("is_promo"), F.col("rev4")).otherwise(
                        F.lit(0)
                    ),
                )
            ).alias("promo_rev4"),
            F.sum(F.when(F.col("in_month"), F.col("rev4"))).alias(
                "total_rev4"
            ),
            (
                F.lit(100.0)
                * F.sum(
                    F.when(
                        F.col("in_month"),
                        F.when(F.col("is_promo"), F.col("rev4")).otherwise(
                            F.lit(0)
                        ),
                    )
                ).cast("double")
                / F.sum(F.when(F.col("in_month"), F.col("rev4")))
            ).alias("promo_pct"),
            F.count(F.when(below, True)).alias("n_items"),
            (
                F.sum(F.when(below, F.col("price_c"))).cast("double") / 100
            ).alias("revenue"),
        )
    )
    promo_small = unpivot(
        ps,
        [
            ("promo_rev4", "promo_rev4"),
            ("promo_total_rev4", "total_rev4"),
            ("promo_pct", "promo_pct"),
            ("small_qty_n_items", "n_items"),
            ("small_qty_revenue", "revenue"),
        ],
    )
    # U2 cohort check as counts over one distinct pass (produced
    # cohorts are non-null: event_type / 'Worldwide').
    produced = base_events(spark, sf_dir).select("cohort").distinct()
    coh = unpivot(
        produced.agg(
            (
                F.lit(len(COHORT_ALLOWLIST))
                - F.count(
                    F.when(F.col("cohort").isin(*COHORT_ALLOWLIST), True)
                )
            ).alias("missing"),
            F.count(
                F.when(~F.col("cohort").isin(*COHORT_ALLOWLIST), True)
            ).alias("unexpected"),
        ),
        [("cohort_missing", "missing"), ("cohort_unexpected", "unexpected")],
    )
    # repeat customers: per-customer year flags in one orders scan ≡
    # INTERSECT of the two distinct year sides.
    yr = F.year("o_orderdate")
    rep = unpivot(
        load_table(spark, sf_dir, "orders")
        .filter(yr.isin(1996, 1997))
        .groupBy("o_custkey")
        .agg(
            F.max(yr == 1996).alias("h96"),
            F.max(yr == 1997).alias("h97"),
        )
        .agg(
            F.count(
                F.when(F.col("h96") & F.col("h97"), True)
            ).alias("repeat_customers")
        ),
        [("repeat_customers", "repeat_customers")],
    )
    out = funnel
    for part in (promo_small, coh, rep):
        out = out.unionByName(part)
    return out


def _kpi_snapshot_oracle() -> str:
    from firefox_public_data_report_etl_spark.plans.annotations import (
        COHORT_CONTRACT_ORACLE,
    )
    from firefox_public_data_report_etl_spark.plans.tpch import (
        PROMO_SHARE_ORACLE,
        SMALL_QTY_REVENUE_ORACLE,
    )

    return f"""
WITH funnel AS ({FUNNEL_ORACLE}),
promo AS ({PROMO_SHARE_ORACLE}),
small AS ({SMALL_QTY_REVENUE_ORACLE}),
coh AS (
  SELECT count(*) FILTER (WHERE status = 'missing') AS missing,
         count(*) FILTER (WHERE status = 'unexpected') AS unexpected
  FROM ({COHORT_CONTRACT_ORACLE})
),
rep AS (SELECT count(*) AS repeat_customers FROM ({REPEAT_CUSTOMERS_ORACLE}))
SELECT 'funnel_users_clicked' AS metric, CAST(users_clicked AS DOUBLE) AS value FROM funnel
UNION ALL SELECT 'funnel_users_converted', CAST(users_converted AS DOUBLE) FROM funnel
UNION ALL SELECT 'funnel_conversion_rate', CAST(conversion_rate AS DOUBLE) FROM funnel
UNION ALL SELECT 'promo_rev4', CAST(promo_rev4 AS DOUBLE) FROM promo
UNION ALL SELECT 'promo_total_rev4', CAST(total_rev4 AS DOUBLE) FROM promo
UNION ALL SELECT 'promo_pct', CAST(promo_pct AS DOUBLE) FROM promo
UNION ALL SELECT 'small_qty_n_items', CAST(n_items AS DOUBLE) FROM small
UNION ALL SELECT 'small_qty_revenue', CAST(revenue AS DOUBLE) FROM small
UNION ALL SELECT 'cohort_missing', CAST(missing AS DOUBLE) FROM coh
UNION ALL SELECT 'cohort_unexpected', CAST(unexpected AS DOUBLE) FROM coh
UNION ALL SELECT 'repeat_customers', CAST(repeat_customers AS DOUBLE) FROM rep
"""


QUERIES = {
    "weekly_engagement_report": weekly_engagement_report,
    "spine_gap_fill": spine_gap_fill,
    "corpus_refresh_merge": corpus_refresh_merge,
    "value_percentiles": value_percentiles,
    "salted_weekly_users": salted_weekly_users,
    "orders_profile": orders_profile,
    "part_decision_table": part_decision_table,
    "priority_year_kv": priority_year_kv,
    "customer_balance_deciles": customer_balance_deciles,
    "events_zorder_key": events_zorder_key,
    "compaction_plan_docs": compaction_plan_docs,
    "kpi_snapshot": kpi_snapshot,
}

ORACLES = {
    "weekly_engagement_report": WEEKLY_ENGAGEMENT_ORACLE,
    "spine_gap_fill": SPINE_GAP_FILL_ORACLE,
    "corpus_refresh_merge": CORPUS_MERGE_ORACLE,
    "value_percentiles": VALUE_PERCENTILES_ORACLE,
    "salted_weekly_users": SALTED_WEEKLY_USERS_ORACLE,
    "orders_profile": ORDERS_PROFILE_ORACLE,
    "part_decision_table": PART_DECISION_ORACLE,
    "priority_year_kv": PRIORITY_KV_ORACLE,
    "customer_balance_deciles": CUSTOMER_DECILES_ORACLE,
    "events_zorder_key": _zorder_oracle(),
    "compaction_plan_docs": COMPACTION_PLAN_ORACLE,
    "kpi_snapshot": _kpi_snapshot_oracle(),
}
