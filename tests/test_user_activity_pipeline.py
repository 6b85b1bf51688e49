"""Fixture-based fidelity test for the native-schema user_activity
pipeline: bitfields, empty-preserving addon unnest, blocklist,
allowlist, sampling, outliers, as-of release join, top-K arrays, and
the armagaddon week exclusion — expectations hand-computed."""

from __future__ import annotations

from datetime import date, datetime

import pytest

from pyspark.sql import Row

from firefox_public_data_report_etl_spark.plans.user_activity_pipeline import (
    user_activity_weekly,
)

CLIENTS_SCHEMA = (
    "submission_date date, client_id string, sample_id long, country string,"
    " days_since_seen long, subsession_hours_sum double, days_seen_bits long,"
    " days_created_profile_bits long, app_version string, locale string,"
    " active_addons array<struct<addon_id string, name string,"
    " is_system boolean, foreign_install boolean>>"
)

GOOD1 = ("good1@example.com", "Good One", False, False)
GOOD2 = ("good2@example.com", "Good Two", False, False)
SYS1 = ("sys1@example.com", "Sys Addon", True, False)
BLOCKED = ("foo@mozilla.org", "Blocked", False, False)

SUNDAY = date(2024, 1, 7)      # week 2024-01-01
WEEK = date(2024, 1, 1)


def _clients(spark):
    rows = [
        # c1 (US): active today, 7/7 days seen, new profile (bit 6),
        # version 100, two addons (one system). Extra mid-week usage
        # rows: one good (2.0h), one outlier (30h, dropped).
        (SUNDAY, "c1", 1, "US", 0, 4.0, 127, 64, "100.0", "en-US", [GOOD1, SYS1]),
        (date(2024, 1, 3), "c1", 1, "US", 0, 2.0, 1, 0, "100.0", "en-US", [GOOD1, SYS1]),
        (date(2024, 1, 5), "c1", 1, "US", 0, 30.0, 1, 0, "100.0", "en-US", [GOOD1, SYS1]),
        # c2 (US): last seen 3 days ago, zero addons (empty array must
        # still count in has_addon denominator), version 99.
        (SUNDAY, "c2", 1, "US", 3, 0.5, 8, 0, "99.0", "en-US", []),
        # c3 (US): seen 10 days ago → MAU only; NULL addon array.
        (SUNDAY, "c3", 1, "US", 10, 0.0, 1024, 0, "98.0", "en-US", None),
        # c4 (DE): new profile, one good + one blocklisted addon.
        (SUNDAY, "c4", 1, "DE", 0, 5.0, 3, 1, "100.0.1", "de", [GOOD2, BLOCKED]),
        # c5 (XX): country not allowlisted → appears only in Worldwide.
        (SUNDAY, "c5", 1, "XX", 0, 1.0, 1, 0, "100.0", "fr", [GOOD1]),
        # c6: sample_id != 1 → excluded everywhere.
        (SUNDAY, "c6", 2, "US", 0, 9.0, 127, 127, "100.0", "en-US", [GOOD1]),
        # c1 again in the 2019-04-29 armagaddon week → the whole week
        # must be excluded from the output.
        (date(2019, 5, 5), "c1", 1, "US", 0, 1.0, 127, 0, "66.0", "en-US", [GOOD1]),
    ]
    return spark.createDataFrame(rows, CLIENTS_SCHEMA)


def _countries(spark):
    return spark.createDataFrame(
        [("US", "United States"), ("DE", "Germany")], ["code", "name"]
    )


def _buildhub(spark):
    schema = (
        "build struct<target: struct<version string, channel string>,"
        " build: struct<date timestamp>>"
    )
    rows = [
        Row(build=Row(target=Row(version="99.0", channel="release"),
                      build=Row(date=datetime(2023, 12, 31, 10)))),
        Row(build=Row(target=Row(version="100.0", channel="release"),
                      build=Row(date=datetime(2024, 1, 5, 9)))),
        Row(build=Row(target=Row(version="200.0", channel="beta"),
                      build=Row(date=datetime(2024, 1, 6, 9)))),
        Row(build=Row(target=Row(version="66.0", channel="release"),
                      build=Row(date=datetime(2019, 3, 1, 9)))),
    ]
    return spark.createDataFrame(rows, schema)


@pytest.fixture(scope="module")
def result(spark):
    out = user_activity_weekly(
        _clients(spark),
        _countries(spark),
        _buildhub(spark),
        date_from="2018-12-31",
        date_to="2025-01-01",
    )
    return {(r["submission_date"], r["country_name"]): r for r in out.collect()}


def test_week_and_country_universe(result):
    # armagaddon week absent; XX only via Worldwide
    assert set(result) == {
        (WEEK, "United States"),
        (WEEK, "Germany"),
        (WEEK, "Worldwide"),
    }


def test_us_metrics(result):
    us = result[(WEEK, "United States")]
    assert us["mau"] == 3                     # c1, c2, c3
    assert us["avg_hours_usage_daily"] == 3.0  # c1: (2+4)/2, 30h dropped
    assert us["intensity"] == 4.0             # (7+1)/2
    assert us["new_profile_rate"] == 0.5      # c1 new / {c1,c2} active
    assert us["latest_version_ratio"] == 1.0  # c1:100=100, c2:99=99
    assert us["has_addon_ratio"] == 0.5       # {c1} / {c1,c2}
    top = us["top_addons"]
    assert top[0]["addon_name"] == "Good One" and top[0]["ratio"] == 0.5
    assert len(top) == 3                      # good1, sys1(0), null(0)
    assert us["top_locales"][0]["locale"] == "en-US"
    assert us["top_locales"][0]["ratio"] == 1.0


def test_de_metrics(result):
    de = result[(WEEK, "Germany")]
    assert de["mau"] == 1
    assert de["avg_hours_usage_daily"] == 5.0
    assert de["intensity"] == 2.0             # bitcount7(3)
    assert de["new_profile_rate"] == 1.0
    assert de["latest_version_ratio"] == 1.0
    assert de["has_addon_ratio"] == 1.0       # blocklisted addon ignored
    names = [t["addon_name"] for t in de["top_addons"]]
    assert names[0] == "Good Two"
    assert de["top_addons"][0]["ratio"] == 1.0


def test_worldwide_rollup(result):
    ww = result[(WEEK, "Worldwide")]
    assert ww["mau"] == 5                     # c1..c5
    assert ww["avg_hours_usage_daily"] == 3.0  # avg(3, 5, 1)
    assert ww["intensity"] == 2.75            # (7+1+2+1)/4
    assert ww["new_profile_rate"] == 0.5      # {c1,c4} / {c1,c2,c4,c5}
    assert ww["latest_version_ratio"] == 1.0
    assert ww["has_addon_ratio"] == 0.75      # {c1,c4,c5} / 4
    top = ww["top_addons"]
    assert top[0]["addon_name"] == "Good One" and top[0]["ratio"] == 0.5
    locs = {t["locale"]: t["ratio"] for t in ww["top_locales"]}
    assert locs == {"en-US": 0.5, "de": 0.25, "fr": 0.25}
