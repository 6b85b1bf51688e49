"""User-activity query DAG bound to the `events` testdata table.

Re-expresses the reference's flagship 26-CTE analytics query
(scripts/public_data_report_user_activity.sql, 361 LoC — sample CTE
:8-46, mau_wau :74-84, daily usage :85-112, intensity :113-126,
new_profile_rate :127-140, latest_version_ratio :141-197, final 7-way
join :326-358) as an idiomatic PySpark DataFrame DAG over the events
fact table:

  events row  ↔ clients_last_seen row (user_id=client_id, ts=day)
  event_type  ↔ country  (cohort fan-out adds 'Worldwide', J2)
  value       ↔ subsession_hours (outlier cut F4, exact-cents A4)
  props.k     ↔ app_version (X7 major-version extraction)
  purchases   ↔ buildhub2 releases (J5 as-of max)

Spark-first notes:
  - the shared `base` slice is `.cache()`d before the 6-branch fan-out
    (SURVEY.md §4: Spark inlines CTEs; an uncached fan-out recomputes
    the scan 6x),
  - the 28-day MAU is computed by exploding each (user, week) into the
    4 Monday-week windows it contributes to — a narrow fan-out +
    re-aggregation instead of a range self-join (shuffle-free fan,
    one agg shuffle; survives 100x scale),
  - the as-of release lookup broadcasts the tiny releases dim
    (operators.asof), so the fact side never shuffles for it,
  - every money/ratio output is exact-integer aggregation + one final
    IEEE division → bit-identical to the DuckDB oracle.
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from firefox_public_data_report_etl_spark.functions import cents, week_start
from firefox_public_data_report_etl_spark.operators import with_total_group
from firefox_public_data_report_etl_spark.sources import load_table

# Partial final week of the fixed Jan-2024 events range — excluded like
# the reference's armagaddon weeks (F9, …user_activity.sql:359-360).
EXCLUDED_WEEKS = (date(2024, 1, 29),)
OUTLIER_VALUE_CUT = 200.0  # F4 analog: subsession_hours_sum < 24


def base_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The `sample` CTE analog (…user_activity.sql:8-46): outlier cut,
    week bucket, cohort fan-out, exact cents, version extraction."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value") < OUTLIER_VALUE_CUT
    )
    # Per-row scalars (regex, date trunc, cents) are computed BEFORE the
    # 2x cohort fan-out so each event pays them once, not twice — the
    # explode only duplicates already-computed narrow columns.
    ev = ev.select(
        "user_id",
        F.to_date("ts").alias("d"),
        week_start(F.col("ts")).alias("week_start"),
        cents(F.col("value")).alias("cents"),
        "event_type",
        # try_cast: regexp_extract yields '' when props has no digit,
        # which ANSI cast (Spark 4 default) rejects.
        F.regexp_extract("props", r"(\d+)", 1).try_cast("int").alias("ver"),
    )
    return with_total_group(ev, "event_type", "cohort")


_BASE_SQL = f"""
base AS (
  SELECT user_id,
         CAST(ts AS DATE) AS d,
         CAST(date_trunc('week', ts) AS DATE) AS week_start,
         cohort,
         CAST(round(value * 100) AS BIGINT) AS cents,
         event_type,
         TRY_CAST(regexp_extract(props, '(\\d+)', 1) AS INTEGER) AS ver
  FROM (SELECT *, unnest([event_type, 'Worldwide']) AS cohort
        FROM events WHERE value < {OUTLIER_VALUE_CUT})
)
"""

_MAU_WAU_SQL = """
uw AS (SELECT DISTINCT week_start, cohort, user_id FROM base),
wau AS (SELECT week_start, cohort, count(*) AS wau
        FROM uw GROUP BY week_start, cohort),
fan AS (SELECT CAST(wk AS DATE) AS week_start, cohort, user_id FROM (
          SELECT unnest(generate_series(CAST(week_start AS TIMESTAMP),
                                        CAST(week_start AS TIMESTAMP) + INTERVAL 21 DAY,
                                        INTERVAL 7 DAY)) AS wk,
                 cohort, user_id FROM uw)),
mau AS (SELECT week_start, cohort, count(DISTINCT user_id) AS mau
        FROM fan GROUP BY week_start, cohort)
"""


def _mau_wau(uw: DataFrame) -> tuple[DataFrame, DataFrame]:
    """``uw`` must be unique on (week_start, cohort, user_id).

    Worldwide-skew note (plan-audited + measured, SCALING.md round 5):
    the default ``countDistinct`` is ALREADY the two-stage skew-safe
    shape — Spark plans it as a dedup aggregate exchanged on
    (week, cohort, user_id) (the hot Worldwide cohort spreads across
    every reducer via the user hash) followed by partial_count whose
    (week, cohort) exchange moves one partial-count row per group per
    partition, never user rows. The explicit
    ``operators.skew.salted_count_distinct`` form was slower at sf0.1
    and 10x and took 0.83x the time at 100x (SCALING.md round 5); the
    native form stays, as the one the oracle-checked rows run."""
    wau = uw.groupBy("week_start", "cohort").agg(F.count("*").alias("wau"))
    fan = uw.withColumn(
        "week_start",
        F.explode(
            F.sequence(
                F.col("week_start"),
                F.date_add(F.col("week_start"), 21),
                F.expr("interval 7 days"),
            )
        ),
    )
    mau = fan.groupBy("week_start", "cohort").agg(
        F.countDistinct("user_id").alias("mau")
    )
    return wau, mau


def mau_wau_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3/J2/X1: weekly active users + 28-day MAU per cohort."""
    uw = (
        base_events(spark, sf_dir)
        .select("week_start", "cohort", "user_id")
        .distinct()
    )
    wau, mau = _mau_wau(uw)
    # X4/X19: dates are string-formatted at export edges (reference
    # FORMAT_DATE '%Y-%m-%d') — also disambiguates DATE vs TIMESTAMP
    # across engines in the correctness gate.
    return wau.join(mau, ["week_start", "cohort"]).select(
        F.date_format("week_start", "yyyy-MM-dd").alias("week_start"),
        "cohort",
        "wau",
        "mau",
    )


MAU_WAU_ORACLE = f"""
WITH {_BASE_SQL.strip().rstrip()}, {_MAU_WAU_SQL.strip()}
SELECT strftime(week_start, '%Y-%m-%d') AS week_start, cohort, wau, mau
FROM wau JOIN mau USING (week_start, cohort)
"""


def user_activity_flagship(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship: the reference's 26-CTE DAG (…user_activity.sql)
    collapsed into TWO aggregation levels instead of six independent
    branch aggregations:

      base → (week, cohort, user) grain  [shuffle 1: all per-user
             measures — event/cents/error counts, distinct active
             days, max version — in one pass]
           → (week, cohort) grain        [shuffle 2: wau, usage,
             intensity, new-profile and latest-version ratios in one
             pass, after broadcast-joining the two tiny dims]

    plus the 28-day MAU fan-out (its own countDistinct shuffle) and
    two small side aggregates (first-seen week per user, weekly
    releases). Semantics identical to the branch-per-CTE form (the
    oracle SQL is unchanged); the rewrite removes ~6 shuffles and 4
    sort-merge joins — the difference between 9x and ~2x of the
    single-node columnar baseline at sf0.1, and the same rewrite is
    what keeps the 100 TB plan at two fact-table shuffles.
    """
    # The fact scan has exactly ONE consumer (the uwu aggregate), so it
    # needs no cache; every downstream branch derives from cached uwu.
    b = base_events(spark, sf_dir)

    # Shuffle 1: user-week grain. Rows are unique on (week, cohort,
    # user) afterwards, so uw for the MAU fan needs no extra distinct.
    # Cached: 5 consumers (MAU fan, first-seen dim, week spine, the
    # releases dim, the week-grain aggregate) would otherwise recompute
    # this shuffle.
    uwu = b.groupBy("week_start", "cohort", "user_id").agg(
        F.count("*").alias("events_u"),
        F.sum("cents").alias("cents_u"),
        F.count(F.when(F.col("event_type") == "error", True)).alias("errors_u"),
        # distinct active days WITHOUT a countDistinct Expand: the group
        # key pins the week, so distinct dates == distinct weekdays — a
        # 7-bit bitset OR + popcount, a plain aggregate that keeps
        # shuffle 1 at 1x row volume (Expand doubles it).
        F.expr("cast(bit_count(bit_or(shiftleft(1, dayofweek(d)))) as bigint)").alias(
            "days_u"
        ),
        F.max("ver").alias("ver_u"),
        # purchase-only version max lets the releases dim derive from
        # uwu (max of per-user maxes == global max) instead of a second
        # pass over the fact table.
        F.max(F.when(F.col("event_type") == "purchase", F.col("ver"))).alias(
            "pver_u"
        ),
    ).cache()

    _, mau = _mau_wau(uwu.select("week_start", "cohort", "user_id"))

    # first-seen week per user as a user-partition window instead of a
    # separate aggregate + join: ONE user_id shuffle replaces the old
    # agg-shuffle + join-shuffle pair (stage-depth matters — the old
    # chain cost two sequential stage rounds for the same answer).
    # first_seen is user-cardinality (fact-sized at 100 TB), so a
    # window — never a broadcast — is the scale-correct form.
    w_user = Window.partitionBy("user_id")
    with_first = uwu.withColumn("first_week", F.min("week_start").over(w_user))

    # Weekly release spine + as-of in one pass: every week appears in
    # uwu, so a single week-grain aggregate yields spine AND releases;
    # the as-of "latest release so far" is a running max over the week
    # ordering. The spine is time-bounded (weeks, not data) — the
    # single-partition window stays trivially small at any SF.
    latest = (
        uwu.groupBy("week_start")
        .agg(
            F.max(F.when(F.col("cohort") == "Worldwide", F.col("pver_u"))).alias(
                "rel_ver"
            )
        )
        .withColumn(
            "latest_ver",
            F.max("rel_ver").over(
                Window.orderBy("week_start").rowsBetween(
                    Window.unboundedPreceding, Window.currentRow
                )
            ),
        )
        .drop("rel_ver")
    )

    enriched = with_first.join(F.broadcast(latest), "week_start")

    # Shuffle 2: week grain — every branch in one aggregate.
    weekly = enriched.groupBy("week_start", "cohort").agg(
        F.count("*").alias("wau"),
        F.sum("events_u").alias("events"),
        F.sum("cents_u").alias("sum_cents"),
        F.sum("errors_u").alias("error_events"),
        F.sum("days_u").alias("user_days"),
        F.count(F.when(F.col("first_week") == F.col("week_start"), True)).alias(
            "new_users"
        ),
        F.count("*").alias("users"),
        F.count(F.when(F.col("ver_u") == F.col("latest_ver"), True)).alias(
            "lv_matches"
        ),
    )
    weekly = weekly.withColumn(
        "latest_version_ratio",
        F.col("lv_matches").cast("double") / F.col("users"),
    )

    joined = weekly.join(mau, ["week_start", "cohort"])
    return (
        joined.filter(~F.col("week_start").isin(list(EXCLUDED_WEEKS)))
        .select(
            F.date_format("week_start", "yyyy-MM-dd").alias("week_start"),
            "cohort",
            "mau",
            "wau",
            "events",
            (F.col("events").cast("double") / F.col("wau")).alias(
                "events_per_user"
            ),
            (F.col("sum_cents").cast("double") / F.lit(100) / F.col("wau")).alias(
                "avg_value_per_user"
            ),
            (F.col("user_days").cast("double") / F.col("wau")).alias("intensity"),
            (F.col("new_users").cast("double") / F.col("users")).alias(
                "new_profile_rate"
            ),
            "latest_version_ratio",
            (F.col("error_events").cast("double") / F.col("events")).alias(
                "error_share"
            ),
        )
    )


FLAGSHIP_ORACLE = f"""
WITH {_BASE_SQL.strip()}, {_MAU_WAU_SQL.strip()},
usg AS (SELECT week_start, cohort, count(*) AS events,
               CAST(sum(cents) AS BIGINT) AS sum_cents,
               count(*) FILTER (WHERE event_type = 'error') AS error_events
        FROM base GROUP BY week_start, cohort),
uwd AS (SELECT DISTINCT week_start, cohort, user_id, d FROM base),
inten AS (SELECT week_start, cohort, count(*) AS user_days
          FROM uwd GROUP BY week_start, cohort),
first_seen AS (SELECT user_id, min(week_start) AS first_week
               FROM base GROUP BY user_id),
npr AS (SELECT week_start, cohort,
               count(*) FILTER (WHERE first_week = week_start) AS new_users,
               count(*) AS users
        FROM uw JOIN first_seen USING (user_id)
        GROUP BY week_start, cohort),
uwv AS (SELECT week_start, cohort, user_id, max(ver) AS ver
        FROM base GROUP BY week_start, cohort, user_id),
releases AS (SELECT week_start, max(ver) AS rel_ver FROM base
             WHERE event_type = 'purchase' AND cohort = 'Worldwide'
             GROUP BY week_start),
weeks AS (SELECT DISTINCT week_start FROM base),
latest AS (SELECT w.week_start, max(r.rel_ver) AS latest_ver
           -- LEFT: weeks before the first release keep their rows with
           -- a NULL latest (ratio 0), matching the Spark as-of join
           FROM weeks w LEFT JOIN releases r ON r.week_start <= w.week_start
           GROUP BY w.week_start),
lvr AS (SELECT v.week_start, v.cohort,
               CAST(count(*) FILTER (WHERE v.ver = l.latest_ver) AS DOUBLE)
                 / count(*) AS latest_version_ratio
        FROM uwv v JOIN latest l USING (week_start)
        GROUP BY v.week_start, v.cohort)
SELECT strftime(week_start, '%Y-%m-%d') AS week_start, cohort, mau, wau, events,
       CAST(events AS DOUBLE) / wau AS events_per_user,
       CAST(sum_cents AS DOUBLE) / 100 / wau AS avg_value_per_user,
       CAST(user_days AS DOUBLE) / wau AS intensity,
       CAST(new_users AS DOUBLE) / users AS new_profile_rate,
       latest_version_ratio,
       CAST(error_events AS DOUBLE) / events AS error_share
FROM wau
JOIN mau USING (week_start, cohort)
JOIN usg USING (week_start, cohort)
JOIN inten USING (week_start, cohort)
JOIN npr USING (week_start, cohort)
JOIN lvr USING (week_start, cohort)
WHERE week_start NOT IN (DATE '2024-01-29')
"""


def event_type_share_weekly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J6/J7 ratio-join shape (…user_activity.sql:232-244): per-type
    weekly user counts joined back to the weekly total for ratios."""
    b = base_events(spark, sf_dir)
    per_type = (
        b.filter(F.col("cohort") != "Worldwide")
        .groupBy("week_start", "cohort")
        .agg(F.countDistinct("user_id").alias("type_users"))
    )
    totals = (
        b.filter(F.col("cohort") == "Worldwide")
        .groupBy("week_start")
        .agg(F.countDistinct("user_id").alias("total_users"))
    )
    return per_type.join(totals, "week_start").select(
        F.date_format("week_start", "yyyy-MM-dd").alias("week_start"),
        F.col("cohort").alias("event_type"),
        "type_users",
        "total_users",
        (F.col("type_users").cast("double") / F.col("total_users")).alias(
            "user_share"
        ),
    )


EVENT_SHARE_ORACLE = f"""
WITH {_BASE_SQL.strip()},
per_type AS (
  SELECT week_start, cohort, count(DISTINCT user_id) AS type_users
  FROM base WHERE cohort <> 'Worldwide' GROUP BY week_start, cohort
),
totals AS (
  SELECT week_start, count(DISTINCT user_id) AS total_users
  FROM base WHERE cohort = 'Worldwide' GROUP BY week_start
)
SELECT strftime(week_start, '%Y-%m-%d') AS week_start,
       cohort AS event_type, type_users, total_users,
       CAST(type_users AS DOUBLE) / total_users AS user_share
FROM per_type JOIN totals USING (week_start)
"""


# F10/A10 direct registry binding (round 6): the reference's 12-entry
# addon-id NOT LIKE blocklist feeding a conditional COUNT DISTINCT
# (scripts/public_data_report_user_activity.sql:204-223 per-addon,
# :258-280 the per-country has_addon_ratio twin this query mirrors —
# the country form keeps the predicate varying WITHIN each group, so
# the conditional distinct does real per-row work).
ADDON_VENDORS = (
    "mozilla",
    "shield",
    "testpilot",
    "cliqz",
    "acme",
    "laserlike",
    "sloth",
    "minvid",
)
ADDON_BLOCKLIST = (
    "%@mozilla%",
    "%@shield%",
    "%@testpilot%",
    "%cliqz%",
    "%laserlike%",
    "%@sloth%",
    "%@minvid%",
    "%ext1@%",
    "%ext7@%",
    "%ext13@%",
    "%ext19@%",
    "%ext23@%",
)


def addon_users_blocklisted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly per-country ratio of users with at least one
    NON-blocklisted addon — the reference's has_addon_ratio shape with
    a synthesized addon id (``ext<k%25>@<vendor[k%8]>`` from props.k,
    so every blocklist pattern has real hit rates) and country :=
    user-stable ``c<user_id%10>``.

    Scale: the addon id and the 12-pattern predicate are pure codegen
    string expressions evaluated at scan grain (F10 — never a join);
    the only shuffle is the two-distinct aggregate's Expand on
    (week_start, country, user_id) keys. Same plan family as
    mau_wau_weekly's A3; salting applies identically if a country
    skews (operators.skew)."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("long")
    vendors = F.array(*[F.lit(v) for v in ADDON_VENDORS])
    addon_id = F.concat(
        F.lit("ext"),
        (k % 25).cast("string"),
        F.lit("@"),
        F.element_at(vendors, (k % 8 + 1).cast("int")),
    )
    ok = F.lit(True)
    for p in ADDON_BLOCKLIST:
        ok = ok & ~addon_id.like(p)
    base = ev.select(
        week_start(F.col("ts")).alias("wk"),
        F.concat(F.lit("c"), (F.col("user_id") % 10).cast("string")).alias(
            "country"
        ),
        "user_id",
        ok.alias("ok"),
    )
    g = base.groupBy("wk", "country").agg(
        F.countDistinct(F.when(F.col("ok"), F.col("user_id"))).alias(
            "addon_users"
        ),
        F.countDistinct("user_id").alias("all_users"),
    )
    return g.select(
        F.date_format("wk", "yyyy-MM-dd").alias("week_start"),
        "country",
        "addon_users",
        "all_users",
        (F.col("addon_users").cast("double") / F.col("all_users")).alias(
            "has_addon_ratio"
        ),
    )


def _addon_blocklist_oracle() -> str:
    vendors = ", ".join(f"'{v}'" for v in ADDON_VENDORS)
    pred = " AND ".join(f"addon_id NOT LIKE '{p}'" for p in ADDON_BLOCKLIST)
    return f"""
WITH b AS (
  SELECT CAST(date_trunc('week', ts) AS DATE) AS wk,
         'c' || CAST(user_id % 10 AS VARCHAR) AS country,
         user_id,
         'ext' || CAST(k % 25 AS VARCHAR) || '@' || [{vendors}][CAST(k % 8 AS INTEGER) + 1] AS addon_id
  FROM (SELECT *, CAST(json_extract_string(props, '$.k') AS BIGINT) AS k
        FROM events)
),
g AS (
  SELECT wk, country,
         count(DISTINCT CASE WHEN {pred} THEN user_id END) AS addon_users,
         count(DISTINCT user_id) AS all_users
  FROM b GROUP BY wk, country
)
SELECT strftime(wk, '%Y-%m-%d') AS week_start, country, addon_users,
       all_users,
       CAST(addon_users AS DOUBLE) / all_users AS has_addon_ratio
FROM g
"""


HLL_LGK = 14
HLL_REL_TOL = 0.05


def approx_users_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Re-aggregable distinct-user counts via Datasketches HLL — the
    100 TB answer to MAU/WAU that `mau_wau_weekly`'s exact
    countDistinct cannot give: daily PARTIAL sketches (one binary blob
    per partition-grain) union into any coarser grain without ever
    re-touching raw events, and sketch union is associative, so
    backfills and late partitions just re-union.

    At production scale the daily sketch table is persisted once per
    ingest; here the query materializes it (cached — it is #days
    rows), rolls weekly and monthly MAU out of the partials, and
    BINDS the sketch path to ground truth: per period it emits the
    exact distinct count plus two booleans — `approx_ok`
    (|estimate − exact| ≤ max(1, 5% · exact); lgK=14 ⇒ sketch is in
    exact sparse mode far past these SFs and rsd ≈ 0.8% beyond) and
    `merge_ok` (union-of-daily-partials estimate agrees with the
    direct-over-raw sketch estimate within the SAME relative
    tolerance as approx_ok). Exact equality would only hold while
    the HLL stays in sparse/set mode: once a period's cardinality
    pushes the sketch to dense mode, the direct sketch's HIP
    estimator and the union's composite estimator legitimately
    diverge on identical data, so the check is a toleranced
    agreement bound, valid at every scale factor. The DuckDB twin
    computes the exact counts and asserts the booleans TRUE, so a
    sketch regression fails the value-hash gate.

    Scale: raw events are scanned for the daily partial agg (map-side
    partial sketches, one shuffle on `d`); the rollups run over
    #days-sized partials. The exact columns exist only for the
    binding and would be dropped in production.
    """
    ev = load_table(spark, sf_dir, "events").select(
        F.to_date("ts").alias("d"), "user_id"
    )
    daily = (
        ev.groupBy("d")
        .agg(F.hll_sketch_agg("user_id", F.lit(HLL_LGK)).alias("sk"))
        .cache()
    )

    def grain(period_col, name):
        est = (
            daily.groupBy(period_col("d").alias("period"))
            .agg(
                F.hll_sketch_estimate(F.hll_union_agg("sk")).alias(
                    "est_union"
                )
            )
        )
        exact = ev.groupBy(period_col("d").alias("period")).agg(
            F.countDistinct("user_id").alias("exact_users"),
            F.hll_sketch_estimate(
                F.hll_sketch_agg("user_id", F.lit(HLL_LGK))
            ).alias("est_direct"),
        )
        tol = F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.lit(HLL_REL_TOL) * F.col("exact_users")),
        )
        return est.join(exact, "period").select(
            F.lit(name).alias("grain"),
            "period",
            "exact_users",
            (
                F.abs(F.col("est_union") - F.col("exact_users")) <= tol
            ).alias("approx_ok"),
            (
                F.abs(F.col("est_union") - F.col("est_direct")) <= tol
            ).alias("merge_ok"),
        )

    wk = lambda c: F.date_format(week_start(F.col(c)), "yyyy-MM-dd")  # noqa: E731
    mo = lambda c: F.date_format(F.col(c), "yyyy-MM")  # noqa: E731
    return grain(wk, "week").unionAll(grain(mo, "month"))


APPROX_USERS_SKETCH_ORACLE = """
WITH e AS (SELECT CAST(ts AS DATE) AS d, user_id FROM events),
wk AS (SELECT 'week' AS grain,
              strftime(CAST(date_trunc('week', d) AS DATE), '%Y-%m-%d') AS period,
              CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
       FROM e GROUP BY 2),
mo AS (SELECT 'month' AS grain, strftime(d, '%Y-%m') AS period,
              CAST(count(DISTINCT user_id) AS BIGINT) AS exact_users
       FROM e GROUP BY 2)
SELECT grain, period, exact_users, TRUE AS approx_ok, TRUE AS merge_ok FROM wk
UNION ALL
SELECT grain, period, exact_users, TRUE AS approx_ok, TRUE AS merge_ok FROM mo
"""


THETA_REL_TOL = 0.05


def retention_theta_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week retention / churn / new-user counts via Theta
    sketch SET OPERATIONS — the capability HLL cannot give: per-week
    user sketches support not just union but `theta_intersection`
    (retained = W ∩ W+1) and `theta_difference` (churned = W \\ W+1,
    new = W+1 \\ W), so at 100 TB the entire retention matrix falls
    out of #weeks-sized sketch blobs with NO raw self-join on
    user_id. Default lgNomEntries=12 keeps the sketch in exact mode
    below ~4k retained entries and rsd ≈ 1.6% beyond.

    Binding: the exact columns come from the distinct (week, user)
    self-join (what the sketch path replaces); per-pair booleans
    assert |estimate − exact| ≤ max(1, 5% · exact). The DuckDB twin
    recomputes the exacts and pins the booleans TRUE, so a sketch
    regression fails the value hash.

    Scale: one distinct on (week, user) feeding both paths here; in
    production only the per-week sketch agg runs (map-side partial
    sketches, one shuffle on week) and the exact join is dropped.
    """
    uw = (
        load_table(spark, sf_dir, "events")
        .select(
            week_start(F.col("ts")).alias("w"),
            "user_id",
        )
        .distinct()
        .cache()
    )
    sk = uw.groupBy("w").agg(
        F.theta_sketch_agg("user_id").alias("sk"),
        F.count("*").alias("exact_wau"),
    )
    a = sk.select(
        F.col("w").alias("wa"), F.col("sk").alias("ska"),
        F.col("exact_wau").alias("ea"),
    )
    b = sk.select(
        F.col("w").alias("wb"), F.col("sk").alias("skb"),
        F.col("exact_wau").alias("eb"),
    )
    pairs = a.join(b, F.date_add(F.col("wa"), 7) == F.col("wb"))
    ret = (
        uw.alias("x")
        .join(
            uw.alias("y"),
            (F.col("x.user_id") == F.col("y.user_id"))
            & (F.date_add(F.col("x.w"), 7) == F.col("y.w")),
        )
        .groupBy(F.col("x.w").alias("wa"))
        .agg(F.count("*").alias("retained"))
    )
    j = (
        pairs.join(ret, "wa", "left")
        .withColumn("exact_retained", F.coalesce("retained", F.lit(0)))
        .withColumn("exact_churned", F.col("ea") - F.col("exact_retained"))
        .withColumn("exact_new", F.col("eb") - F.col("exact_retained"))
    )

    def ok(est, exact):
        tol = F.greatest(
            F.lit(1).cast("long"),
            F.ceil(F.lit(THETA_REL_TOL) * F.col(exact)),
        )
        return (F.abs(est - F.col(exact)) <= tol).alias(f"{exact[6:]}_ok")

    return j.select(
        F.date_format("wa", "yyyy-MM-dd").alias("week_from"),
        F.date_format("wb", "yyyy-MM-dd").alias("week_to"),
        F.col("ea").alias("exact_wau_from"),
        F.col("eb").alias("exact_wau_to"),
        "exact_retained",
        "exact_churned",
        "exact_new",
        ok(
            F.theta_sketch_estimate(F.theta_intersection("ska", "skb")),
            "exact_retained",
        ),
        ok(
            F.theta_sketch_estimate(F.theta_difference("ska", "skb")),
            "exact_churned",
        ),
        ok(
            F.theta_sketch_estimate(F.theta_difference("skb", "ska")),
            "exact_new",
        ),
    )


RETENTION_THETA_ORACLE = """
WITH uw AS (SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS w, user_id
            FROM events),
wc AS (SELECT w, CAST(count(*) AS BIGINT) AS n FROM uw GROUP BY w),
ret AS (SELECT a.w AS wa, CAST(count(*) AS BIGINT) AS retained
        FROM uw a JOIN uw b
          ON b.w = a.w + 7 AND a.user_id = b.user_id
        GROUP BY a.w),
pairs AS (SELECT a.w AS wa, b.w AS wb, a.n AS ea, b.n AS eb
          FROM wc a JOIN wc b ON b.w = a.w + 7)
SELECT strftime(pairs.wa, '%Y-%m-%d') AS week_from,
       strftime(wb, '%Y-%m-%d') AS week_to,
       ea AS exact_wau_from, eb AS exact_wau_to,
       COALESCE(retained, 0) AS exact_retained,
       ea - COALESCE(retained, 0) AS exact_churned,
       eb - COALESCE(retained, 0) AS exact_new,
       TRUE AS retained_ok, TRUE AS churned_ok, TRUE AS new_ok
FROM pairs LEFT JOIN ret ON ret.wa = pairs.wa
"""


def always_active_users_theta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Users active in EVERY week of a month via N-way
    `theta_intersection_agg` over the per-week sketches — the GROUPED
    set-intersection HLL has no analog for at all: the month's
    always-active count folds out of #weeks sketch blobs in one
    aggregate, no per-user week-count join. Complements
    `retention_theta_sketch`'s pairwise ∩ / \\ with the N-way form,
    completing the Theta API surface (agg-union, agg-intersection,
    pairwise ops).

    Binding: exact ground truth is the per-(month, user) week-count
    join the sketch path replaces; `always_ok` asserts
    |estimate − exact| ≤ max(1, 5% · exact), pinned TRUE by the
    DuckDB twin."""
    uw = (
        load_table(spark, sf_dir, "events")
        .select(week_start(F.col("ts")).alias("w"), "user_id")
        .distinct()
        .withColumn("month", F.date_format("w", "yyyy-MM"))
        .cache()
    )
    est = (
        uw.groupBy("w", "month")
        .agg(F.theta_sketch_agg("user_id").alias("sk"))
        .groupBy("month")
        .agg(
            F.theta_sketch_estimate(
                F.theta_intersection_agg("sk")
            ).alias("est_always"),
            F.count("*").alias("n_weeks"),
        )
    )
    per_user = uw.groupBy("month", "user_id").agg(
        F.count_distinct("w").alias("k")
    )
    weeks = uw.groupBy("month").agg(
        F.count_distinct("w").alias("tw")
    )
    exact = (
        per_user.join(weeks, "month")
        .filter(F.col("k") == F.col("tw"))
        .groupBy("month")
        .agg(F.count("*").alias("exact_always"))
    )
    j = est.join(exact, "month", "left").withColumn(
        "exact_always", F.coalesce("exact_always", F.lit(0))
    )
    tol = F.greatest(
        F.lit(1).cast("long"),
        F.ceil(F.lit(THETA_REL_TOL) * F.col("exact_always")),
    )
    return j.select(
        "month",
        "n_weeks",
        "exact_always",
        (F.abs(F.col("est_always") - F.col("exact_always")) <= tol).alias(
            "always_ok"
        ),
    )


ALWAYS_ACTIVE_THETA_ORACLE = """
WITH uw AS (SELECT DISTINCT CAST(date_trunc('week', ts) AS DATE) AS w, user_id
            FROM events),
mw AS (SELECT strftime(w, '%Y-%m') AS month, w, user_id FROM uw),
tw AS (SELECT month, CAST(count(DISTINCT w) AS BIGINT) AS n_weeks
       FROM mw GROUP BY month),
cnt AS (SELECT month, user_id, count(DISTINCT w) AS k
        FROM mw GROUP BY month, user_id),
al AS (SELECT cnt.month, CAST(count(*) AS BIGINT) AS exact_always
       FROM cnt JOIN tw USING (month)
       WHERE cnt.k = tw.n_weeks GROUP BY cnt.month)
SELECT tw.month, tw.n_weeks,
       CAST(COALESCE(al.exact_always, 0) AS BIGINT) AS exact_always,
       TRUE AS always_ok
FROM tw LEFT JOIN al USING (month)
"""


QUERIES = {
    "mau_wau_weekly": mau_wau_weekly,
    "approx_users_sketch": approx_users_sketch,
    "retention_theta_sketch": retention_theta_sketch,
    "always_active_users_theta": always_active_users_theta,
    "user_activity_flagship": user_activity_flagship,
    "event_type_share_weekly": event_type_share_weekly,
    "addon_users_blocklisted": addon_users_blocklisted,
}

ORACLES = {
    "mau_wau_weekly": MAU_WAU_ORACLE,
    "approx_users_sketch": APPROX_USERS_SKETCH_ORACLE,
    "retention_theta_sketch": RETENTION_THETA_ORACLE,
    "always_active_users_theta": ALWAYS_ACTIVE_THETA_ORACLE,
    "user_activity_flagship": FLAGSHIP_ORACLE,
    "event_type_share_weekly": EVENT_SHARE_ORACLE,
    "addon_users_blocklisted": _addon_blocklist_oracle(),
}
