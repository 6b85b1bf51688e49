"""Annotations-job query shapes (reference annotations.py).

The reference derives Firefox release-date annotations: a generated
weekly date spine (S12), a range join against builds (J4), MAX(version)
per day (A8), MIN(day) per version (A9), ORDER BY day DESC (O4).
Testdata binding: ``orders`` stands in for buildhub2 (o_orderdate =
build date, derived version number), ``events`` provides the date spine
bounds.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from firefox_public_data_report_etl_spark.functions import week_start
from firefox_public_data_report_etl_spark.operators import asof_latest_broadcast
from firefox_public_data_report_etl_spark.sources import date_spine, load_table


def release_annotations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4+A8+A9 (annotations.py:34-75): weekly spine ⋈≤ builds →
    cumulative MAX(version) per spine week → MIN(week) per version.

    Scale shape: builds are pre-aggregated to per-week maxima BEFORE
    the range join, so the broadcast-nested-loop side is weeks x weeks
    (hundreds), never weeks x builds (the reference's BQ plan can
    afford builds-sized; a 100 TB Spark plan cannot).
    """
    orders = load_table(spark, sf_dir, "orders")
    builds = orders.select(
        week_start(F.col("o_orderdate")).alias("bweek"),
        (F.col("o_orderkey") % 1000).cast("int").alias("version"),
    )
    builds_weekly = builds.groupBy("bweek").agg(F.max("version").alias("wmax"))

    bounds = orders.agg(
        F.min(week_start(F.col("o_orderdate"))).alias("lo"),
        F.max(week_start(F.col("o_orderdate"))).alias("hi"),
    )
    spine = bounds.select(
        F.explode(date_spine(F.col("lo"), F.col("hi"), 7)).alias("day")
    )

    latest = asof_latest_broadcast(
        spine, builds_weekly, "day", "bweek", ["wmax"]
    ).withColumnRenamed("wmax", "latest_version")

    return (
        latest.groupBy("latest_version")
        .agg(F.min("day").alias("first_day"))
        .select(
            F.col("latest_version").alias("version"),
            F.date_format("first_day", "yyyy-MM-dd").alias("first_day"),
        )
    )


RELEASE_ANNOTATIONS_ORACLE = """
WITH builds AS (
  SELECT CAST(date_trunc('week', o_orderdate) AS DATE) AS bweek,
         CAST(o_orderkey % 1000 AS INTEGER) AS version
  FROM orders
), builds_weekly AS (
  SELECT bweek, max(version) AS wmax FROM builds GROUP BY bweek
), bounds AS (
  SELECT min(bweek) AS lo, max(bweek) AS hi FROM builds
), spine AS (
  SELECT CAST(unnest(generate_series(CAST(lo AS TIMESTAMP),
                                     CAST(hi AS TIMESTAMP),
                                     INTERVAL 7 DAY)) AS DATE) AS day
  FROM bounds
), latest AS (
  SELECT s.day, max(b.wmax) AS latest_version
  FROM spine s LEFT JOIN builds_weekly b ON b.bweek <= s.day
  GROUP BY s.day
)
SELECT latest_version AS version,
       strftime(min(day), '%Y-%m-%d') AS first_day
FROM latest
GROUP BY latest_version
"""


# Expected cohort universe for the output-contract check (U2,
# user_activity.py:85-101: allowlist - produced = missing, produced -
# allowlist = unexpected); 'telemetry' is a deliberately-absent member
# so the "missing" branch is non-trivial. The Spark side is fused into
# plans/shapes.py kpi_snapshot, whose oracle embeds the SQL below.
COHORT_ALLOWLIST = ("click", "error", "purchase", "signup", "view", "Worldwide", "telemetry")


_ALLOW_VALUES = ", ".join(f"('{c}')" for c in COHORT_ALLOWLIST)

COHORT_CONTRACT_ORACLE = f"""
WITH produced AS (
  SELECT DISTINCT cohort FROM (
    SELECT unnest([event_type, 'Worldwide']) AS cohort
    FROM events WHERE value < 200.0)
), allow AS (SELECT * FROM (VALUES {_ALLOW_VALUES}) AS t(cohort))
SELECT cohort, 'missing' AS status FROM (SELECT cohort FROM allow EXCEPT SELECT cohort FROM produced)
UNION ALL
SELECT cohort, 'unexpected' AS status FROM (SELECT cohort FROM produced EXCEPT SELECT cohort FROM allow)
"""


QUERIES = {
    "release_annotations": release_annotations,
}

ORACLES = {
    "release_annotations": RELEASE_ANNOTATIONS_ORACLE,
}
