from __future__ import annotations

import pytest

from datetime import date, datetime

from pyspark.sql import Row

from firefox_public_data_report_etl_spark.plans.annotations_pipeline import (
    fxhealth_annotations,
    release_first_weeks,
)


def _buildhub(spark):
    schema = (
        "build struct<target: struct<version string, channel string>,"
        " build: struct<date timestamp>>"
    )
    rows = [
        Row(build=Row(target=Row(version="65.0", channel="release"),
                      build=Row(date=datetime(2019, 1, 2, 8)))),
        Row(build=Row(target=Row(version="65.0.1", channel="release"),
                      build=Row(date=datetime(2019, 1, 20, 8)))),
        Row(build=Row(target=Row(version="66.0", channel="release"),
                      build=Row(date=datetime(2019, 3, 19, 8)))),
        Row(build=Row(target=Row(version="99.0", channel="beta"),
                      build=Row(date=datetime(2019, 4, 1, 8)))),
    ]
    return spark.createDataFrame(rows, schema)


@pytest.mark.full
def test_release_first_weeks(spark):
    out = release_first_weeks(
        spark, _buildhub(spark), spine_start="2018-12-31", date_to="2019-06-03"
    )
    got = {r["version"]: r["day"] for r in out.collect()}
    # 65 first becomes latest on the first Monday >= 2019-01-02;
    # 66 on the first Monday >= 2019-03-19; beta 99 never appears.
    assert got == {65: date(2019, 1, 7), 66: date(2019, 3, 25)}


def test_fxhealth_annotations_fanout(spark):
    out = release_first_weeks(
        spark, _buildhub(spark), spine_start="2018-12-31", date_to="2019-06-03"
    )
    d = fxhealth_annotations(out, ["US", "DE"])
    assert set(d) == {"US", "DE"}
    assert d["US"] == d["DE"]
    # newest-first ordering (O4)
    assert d["US"] == [
        {"annotation": "Firefox 66 release", "date": "2019-03-25"},
        {"annotation": "Firefox 65 release", "date": "2019-01-07"},
    ]
