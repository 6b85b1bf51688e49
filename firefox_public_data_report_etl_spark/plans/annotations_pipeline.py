"""The annotations job (reference
public_data_report/annotations/annotations.py) over its native inputs:
buildhub2 (nested build struct) + a generated weekly date spine.

Lifecycle (SURVEY.md §3.3): weekly spine (S12) ⋈≤ release builds (J4)
→ MAX major version per spine day (A8) → MIN day per version (A9) →
collect, newest first on the driver (O4) → per-country fan-out dict
(P4) merged with static annotations (P5,
sources.export.merge_usage_annotations).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from firefox_public_data_report_etl_spark.functions import major_version
from firefox_public_data_report_etl_spark.sources import date_spine


def release_first_weeks(
    spark: SparkSession,
    buildhub: DataFrame,
    spine_start: str = "2018-12-31",
    date_to: str = "2020-06-29",
) -> DataFrame:
    """(version, day): first spine week each release major became the
    latest — the fxhealth annotation rows (annotations.py:34-75).

    Builds pre-aggregate to per-day maxima before the broadcast range
    join, so the non-equi side is spine x days, never spine x builds.
    """
    releases = (
        buildhub.filter(F.col("build.target.channel") == "release")
        .filter(F.to_date("build.build.date") >= F.lit("2018-12-01"))
        .groupBy(F.to_date("build.build.date").alias("bday"))
        .agg(F.max(major_version(F.col("build.target.version"))).alias("vmax"))
    )
    spine = spark.range(1).select(
        F.explode(
            date_spine(
                F.lit(spine_start).cast("date"), F.lit(date_to).cast("date"), 7
            )
        ).alias("day")
    )
    latest = (
        spine.join(F.broadcast(releases), F.col("bday") <= F.col("day"), "left")
        .groupBy("day")
        .agg(F.max("vmax").alias("version"))
        .filter(F.col("version").isNotNull())
    )
    return latest.groupBy("version").agg(F.min("day").alias("day"))


def fxhealth_annotations(
    first_weeks: DataFrame, countries: list[str]
) -> dict[str, list[dict]]:
    """P4 (annotations.py:77-86): the same release-date rows, newest
    first (O4), replicated under every country key, report-sized →
    driver dict. Each day is the first week of one version, so the
    order is total."""
    rows = [
        {
            "annotation": f"Firefox {r['version']} release",
            "date": r["day"].isoformat(),
        }
        for r in sorted(first_weeks.collect(), key=lambda r: r["day"], reverse=True)
    ]
    return {c: [dict(a) for a in rows] for c in countries}
