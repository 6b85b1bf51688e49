"""The user_activity flagship query (reference
scripts/public_data_report_user_activity.sql, 361 LoC / 26 CTEs) as a
Spark DataFrame DAG over its NATIVE schema (FIXTURES.md §2
clients_last_seen + country_names + buildhub2), at full fidelity:
bitfield UDF replacements, empty-preserving addon unnest, the 12-entry
addon blocklist, per-group top-K arrays, and the armagaddon week
exclusion.

CTE → Spark mapping (SURVEY.md §2 ids in parens):
  sample (:8-46)            fan-out to country+'Worldwide' (J2),
                            broadcast country-name join (J1), allowlist
                            + date/sample/outlier filters (F2-F5)
  mau_wau (:71-84), daily_usage (:85-112), intensity (:113-126),
  new_profile_rate (:127-140), has_addon (:258-280)
                            folded into one two-level aggregate: per
                            (week, country, client) conditional flags,
                            row counts and sums; then per (week,
                            country) distinct counts as counts of flags
                            (A3), AVG of per-user AVGs with HAVING
                            (A4/F8), bitcount_lowest_7 and trailing-
                            set-bit ratios of sums (A5/A6, X8/X9), and
                            the blocklisted-addon flag as an EXISTS
                            over active_addons (A12/F10)
  latest releases (:141-197) as-of range join + max (J5/A7/A8/X7)
  sample_addons (:47-70)    empty-preserving unnest (J3)
  addon/locale top-K (:198-257, :281-325) blocklisted distinct counts
                            (A10/A11/F10), ARRAY_AGG top-K on user_count
                            (A13); ratio = user_count / wau (J6/J7) by a
                            transform after the final join
  final join (:326-361)     4-way composite-key join (J8) + NOT IN (F9);
                            the reference's inner-join key semantics
                            are kept by count tests on the folded rows

Scale notes: nothing is cached; each branch re-reads `sample` from the
source (column pruning gives each a narrow scan). countries and
latest_releases broadcast. Every aggregate that feeds the final join
groups on (week_start, country_name) in that order, so the four sides
are hash-partitioned alike and a sort-merge join needs no further
exchange; at report size AQE broadcasts them instead.
"""

from __future__ import annotations

from datetime import date

from pyspark.sql import Column, DataFrame, functions as F

from firefox_public_data_report_etl_spark.functions import (
    bitcount_lowest_7,
    is_last_day_of_week,
    major_version,
    pos_of_trailing_set_bit,
    safe_div,
    week_start,
)
from firefox_public_data_report_etl_spark.operators import (
    explode_preserving_empty,
    top_k_array,
    with_total_group,
)

# …user_activity.sql:30-41
COUNTRY_ALLOWLIST = (
    "Worldwide",
    "Brazil",
    "China",
    "France",
    "Germany",
    "India",
    "Indonesia",
    "Italy",
    "Poland",
    "Russia",
    "United States",
)

# …user_activity.sql:208-219 (the duplicate @testpilot-addon entry in
# the reference is collapsed; LIKE is idempotent).
ADDON_BLOCKLIST = (
    "%@mozilla%",
    "%@shield.mozilla%",
    "%@unified-urlbar-shield-study-%",
    "%@testpilot-addon%",
    "%@activity-streams%",
    "%support@laserlike.com%",
    "%testpilot@cliqz.com%",
    "%@testpilot-containers%",
    "%@sloth%",
    "%@min-vid%",
    "%jid1-NeEaf3sAHdKHPA@jetpack%",
)

# …user_activity.sql:359-360
ARMAGADDON_WEEKS = (date(2019, 4, 29), date(2019, 5, 6))

DATE_FROM = "2018-12-31"
DATE_TO = "2020-06-29"


def sample_cte(
    clients: DataFrame,
    countries: DataFrame,
    date_from: str = DATE_FROM,
    date_to: str = DATE_TO,
) -> DataFrame:
    """The `sample` CTE: country fan-out, name join, all base filters."""
    fanned = with_total_group(clients, "country", "country_group")
    joined = fanned.join(
        F.broadcast(countries),
        fanned.country_group == countries.code,
        "left",
    )
    named = joined.withColumn(
        "country_name", F.coalesce(F.col("name"), F.col("country_group"))
    )
    return named.filter(
        F.col("country_name").isin(list(COUNTRY_ALLOWLIST))
        & (F.col("submission_date") >= F.lit(date_from))
        & (F.col("submission_date") < F.lit(date_to))
        & (F.col("subsession_hours_sum") < 24)
        & (F.col("sample_id") == 1)
    ).select(
        "submission_date",
        week_start(F.col("submission_date")).alias("week_start"),
        is_last_day_of_week(F.col("submission_date")).alias("is_last_day_of_week"),
        "days_since_seen",
        "country_name",
        "subsession_hours_sum",
        "days_seen_bits",
        "days_created_profile_bits",
        "client_id",
        "app_version",
        "locale",
        "active_addons",
    )


def _active() -> Column:
    """A last-day-of-week row of a client seen in the trailing week."""
    return F.col("is_last_day_of_week") & (F.col("days_since_seen") < 7)


def sample_addons_cte(sample: DataFrame) -> DataFrame:
    """The empty-preserving lateral unnest (J3): clients with zero
    addons keep one NULL-addon row so they stay in the per-addon
    groups (a NULL addon counts no user)."""
    exploded = explode_preserving_empty(
        sample.filter(_active()), F.col("active_addons"), "addon"
    )
    return exploded.select("week_start", "country_name", "client_id", "addon")


def _addon_ok(addon: Column) -> Column:
    """The addon counts: not a system or foreign install, and no
    blocklist pattern matches its id (NULL for a NULL addon)."""
    ok = (addon["is_system"] == False) & (addon["foreign_install"] == False)  # noqa: E712
    for p in ADDON_BLOCKLIST:
        ok = ok & ~addon["addon_id"].like(p)
    return ok


def _ratios(top: str, name: str) -> Column:
    """``top``'s (name, user_count) structs as (name, user_count / wau)."""
    return F.transform(
        F.col(top),
        lambda t: F.struct(
            t[name].alias(name), (t["user_count"] / F.col("wau")).alias("ratio")
        ),
    )


def user_activity_weekly(
    clients: DataFrame,
    countries: DataFrame,
    buildhub: DataFrame,
    date_from: str = DATE_FROM,
    date_to: str = DATE_TO,
) -> DataFrame:
    """The full 26-CTE DAG → one weekly metrics row per (week,
    country): schema identical to the reference output table
    (FIXTURES.md §6)."""
    sample = sample_cte(clients, countries, date_from, date_to)
    keys = ["week_start", "country_name"]
    last_day = F.col("is_last_day_of_week")
    active = _active()

    # Client-week level, the grain of daily_usage's by_user (a NULL
    # client_id is one group here, as there), grouped in by_user's key
    # order: the shuffle then hashes alike, and the AVG of per-user
    # averages sums its doubles in the same order. Row counts and sums
    # stay integers, so the ratios below divide the same operands as
    # the reference's per-branch aggregates.
    per_client = sample.groupBy("client_id", "country_name", "week_start").agg(
        F.max(last_day & (F.col("days_since_seen") < 28)).alias("monthly"),
        F.max(active).alias("weekly"),
        F.max(active & F.exists("active_addons", _addon_ok)).alias("has_addon"),
        F.count(F.when(active, True)).alias("active_rows"),
        F.sum(F.when(active, bitcount_lowest_7(F.col("days_seen_bits")))).alias(
            "seen_days"
        ),
        F.count(
            F.when(
                last_day
                & (pos_of_trailing_set_bit(F.col("days_created_profile_bits")) < 7),
                True,
            )
        ).alias("new_rows"),
        F.count(
            F.when(
                last_day & (pos_of_trailing_set_bit(F.col("days_seen_bits")) < 7),
                True,
            )
        ).alias("recent_rows"),
        F.avg(
            F.when(F.col("days_since_seen") == 0, F.col("subsession_hours_sum"))
        ).alias("avg_hours"),
    )
    # Week-country level. Counting non-NULL client_ids over one row per
    # client is the reference's COUNT(DISTINCT client_id). The reference
    # inner-joins its branches, so a (week, country) is kept only if
    # some last-day row was seen in the trailing week (intensity,
    # has_addon, top-K) and some user has a daily average (daily_usage);
    # existence is tested by counts because intensity may be NULL.
    user_hours = F.when(F.col("avg_hours") < 24, F.col("avg_hours"))
    folded = (
        per_client.groupBy(*keys)
        .agg(
            F.count(F.when(F.col("monthly"), F.col("client_id"))).alias("mau"),
            F.count(F.when(F.col("weekly"), F.col("client_id"))).alias("wau"),
            F.avg(user_hours).alias("avg_hours_usage_daily"),
            F.count(user_hours).alias("users"),
            safe_div(F.sum("seen_days"), F.sum("active_rows")).alias("intensity"),
            F.sum("active_rows").alias("active_rows"),
            safe_div(F.sum("new_rows"), F.sum("recent_rows")).alias(
                "new_profile_rate"
            ),
            F.count(F.when(F.col("has_addon"), F.col("client_id"))).alias(
                "addon_users"
            ),
        )
        .filter((F.col("users") > 0) & (F.col("active_rows") > 0))
    )

    active_weekly = sample.filter(active & F.col("client_id").isNotNull()).select(
        "country_name",
        "client_id",
        major_version(F.col("app_version")).alias("major_version"),
        F.date_sub(
            F.col("submission_date"), F.col("days_since_seen").cast("int")
        ).alias("last_day_seen"),
        "week_start",
    )
    latest_releases = (
        buildhub.filter(
            (F.col("build.target.channel") == "release")
            & (F.to_date("build.build.date") >= F.lit("2018-12-01"))
        )
        .groupBy(F.to_date("build.build.date").alias("day"))
        .agg(
            F.max(major_version(F.col("build.target.version"))).alias(
                "latest_major_version"
            )
        )
    )
    with_latest = (
        active_weekly.join(
            F.broadcast(latest_releases),
            F.col("day") <= F.col("last_day_seen"),
        )
        .groupBy("client_id", "country_name", "major_version", "week_start")
        .agg(F.max("latest_major_version").alias("latest_major_version"))
    )
    latest_version_ratio = with_latest.groupBy(*keys).agg(
        safe_div(
            F.count(
                F.when(
                    F.col("major_version") == F.col("latest_major_version"), True
                )
            ),
            F.count("*"),
        ).alias("latest_version_ratio")
    )

    # Top-K ranks on user_count: within a group, the ratio user_count /
    # wau orders the same way, and ties still break on the name.
    addon_counts = (
        sample_addons_cte(sample)
        .groupBy(
            *keys,
            F.col("addon.addon_id").alias("addon_id"),
            F.col("addon.name").alias("addon_name"),
        )
        .agg(
            F.countDistinct(
                F.when(_addon_ok(F.col("addon")), F.col("client_id"))
            ).alias("user_count")
        )
    )
    top_addons = top_k_array(
        addon_counts,
        keys,
        F.col("user_count"),
        F.struct("addon_name", "user_count"),
        k=10,
        out_col="top_addons",
    )

    locale_counts = (
        sample.filter(active)
        .groupBy(*keys, "locale")
        .agg(F.countDistinct("client_id").alias("user_count"))
    )
    top_locales = top_k_array(
        locale_counts,
        keys,
        F.col("user_count"),
        F.struct("locale", "user_count"),
        k=5,
        out_col="top_locales",
    )

    out = (
        folded.join(latest_version_ratio, keys)
        .join(top_addons, keys)
        .join(top_locales, keys)
        .filter(~F.col("week_start").isin(list(ARMAGADDON_WEEKS)))
    )
    return out.select(
        F.col("week_start").alias("submission_date"),
        "country_name",
        "mau",
        "avg_hours_usage_daily",
        "intensity",
        "new_profile_rate",
        "latest_version_ratio",
        _ratios("top_addons", "addon_name").alias("top_addons"),
        (F.col("addon_users") / F.col("wau")).alias("has_addon_ratio"),
        _ratios("top_locales", "locale").alias("top_locales"),
    )
