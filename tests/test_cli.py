"""End-to-end CLI tests (reference cli.py:8-19 registers the same
three subcommands; flags mirror hardware_report.py:390-417,
user_activity.py:13-21, annotations.py:104-111). Inputs are written to
tmp parquet, the CLI runs in-process, and the JSON edges are parsed
back and golden-checked."""

from __future__ import annotations

import json
from datetime import date, datetime
from pathlib import Path

import pytest

from pyspark.sql import Row, functions as F

from firefox_public_data_report_etl_spark.cli import main

from tests.test_user_activity_pipeline import (
    _buildhub,
    _clients,
    _countries,
)
from tests.test_hardware_pipeline import RAW_DEVICE_MAP, _input_df


@pytest.fixture(scope="module")
def ua_inputs(spark, tmp_path_factory):
    root = tmp_path_factory.mktemp("ua")
    _clients(spark).write.mode("overwrite").parquet(str(root / "clients"))
    _countries(spark).write.mode("overwrite").parquet(str(root / "countries"))
    _buildhub(spark).write.mode("overwrite").parquet(str(root / "buildhub"))
    return root


def test_cli_user_activity(spark, ua_inputs, tmp_path):
    out = tmp_path / "reports"
    rc = main(
        [
            "user_activity",
            "--clients_path", str(ua_inputs / "clients"),
            "--countries_path", str(ua_inputs / "countries"),
            "--buildhub_path", str(ua_inputs / "buildhub"),
            "--output_dir", str(out),
            "--date_from", "2018-12-31",
            "--date_to", "2025-01-01",
        ]
    )
    assert rc == 0
    fxhealth = json.loads((out / "fxhealth.json").read_text())
    webusage = json.loads((out / "webusage.json").read_text())
    assert set(fxhealth) == {"United States", "Germany", "Worldwide"}
    us = fxhealth["United States"][0]
    assert us["date"] == "2024-01-01"
    assert us["metrics"]["MAU"] == 3
    assert us["metrics"]["pct_new_user"] == 50.0
    # webusage mirrors reference user_activity.py:70-83: locale map,
    # top-10 addon map, pct_addon, all x100.
    wus = webusage["United States"][0]
    assert wus["metrics"]["pct_addon"] == 50.0
    assert wus["metrics"]["locale"]["en-US"] == 100.0
    assert wus["metrics"]["top10addons"]["Good One"] == 50.0


def test_cli_user_activity_dry_run(spark, ua_inputs, tmp_path):
    out = tmp_path / "reports"
    rc = main(
        [
            "user_activity",
            "--clients_path", str(ua_inputs / "clients"),
            "--countries_path", str(ua_inputs / "countries"),
            "--buildhub_path", str(ua_inputs / "buildhub"),
            "--output_dir", str(out),
            "--date_to", "2025-01-01",
            "--dry_run",
        ]
    )
    assert rc == 0
    assert not out.exists()


def test_cli_user_activity_null_ratio_exports_null(spark, ua_inputs, tmp_path):
    """A SAFE_DIVIDE over a zero denominator is NULL and must be
    exported as JSON null, not crash the x100 scaling: the only Brazil
    client's lowest set seen-bit is 7, so no row counts as recently
    seen and Brazil's new_profile_rate is NULL."""
    from firefox_public_data_report_etl_spark.plans.user_activity_pipeline import (
        COUNTRY_ALLOWLIST,
    )
    from tests.test_user_activity_pipeline import CLIENTS_SCHEMA, SUNDAY

    root = tmp_path / "inputs"
    brazil = spark.createDataFrame(
        [(SUNDAY, "b1", 1, "BR", 0, 1.0, 1 << 7, 0, "100.0", "pt-BR", [])],
        CLIENTS_SCHEMA,
    )
    _clients(spark).unionByName(brazil).write.parquet(str(root / "clients"))
    _countries(spark).unionByName(
        spark.createDataFrame([("BR", "Brazil")], ["code", "name"])
    ).write.parquet(str(root / "countries"))
    out = tmp_path / "reports"
    rc = main(
        [
            "user_activity",
            "--clients_path", str(root / "clients"),
            "--countries_path", str(root / "countries"),
            "--buildhub_path", str(ua_inputs / "buildhub"),
            "--output_dir", str(out),
            "--date_to", "2025-01-01",
        ]
    )
    assert rc == 0
    assert '"pct_new_user": null' in (out / "fxhealth.json").read_text()
    fxhealth = json.loads((out / "fxhealth.json").read_text())
    br = fxhealth["Brazil"][0]["metrics"]
    assert br["pct_new_user"] is None
    assert br["MAU"] == 1 and br["pct_latest_version"] == 100.0
    assert set(fxhealth) <= set(COUNTRY_ALLOWLIST)


def test_cli_user_activity_leaves_no_cache(spark, ua_inputs, tmp_path):
    spark.catalog.clearCache()
    rc = main(
        [
            "user_activity",
            "--clients_path", str(ua_inputs / "clients"),
            "--countries_path", str(ua_inputs / "countries"),
            "--buildhub_path", str(ua_inputs / "buildhub"),
            "--output_dir", str(tmp_path / "reports"),
            "--date_to", "2025-01-01",
        ]
    )
    assert rc == 0
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_cli_hardware_report(spark, tmp_path):
    inp = tmp_path / "hardware_input"
    _input_df(spark).write.mode("overwrite").parquet(str(inp))
    dmap = tmp_path / "device_map.json"
    dmap.write_text(json.dumps(RAW_DEVICE_MAP))
    report = tmp_path / "hw.json"
    rc = main(
        [
            "hardware_report",
            "--date_from", "2024-01-01",
            "--input_path", str(inp),
            "--device_map", str(dmap),
            "--output_path", str(tmp_path / "hw_parquet"),
            "--report_path", str(report),
        ]
    )
    assert rc == 0
    rows = json.loads(report.read_text())
    assert len(rows) == 1
    assert rows[0]["date"] == "2024-01-01"
    # wide columns use the reference camelCase prefixes (P2)
    assert rows[0]["browserArch_x86-64"] == 1.0


def test_cli_annotations(spark, ua_inputs, tmp_path):
    out = tmp_path / "ann"
    rc = main(
        [
            "annotations",
            "--date_to", "2024-02-05",
            "--buildhub_path", str(ua_inputs / "buildhub"),
            "--output_dir", str(out),
        ]
    )
    assert rc == 0
    fx = json.loads((out / "annotations_fxhealth.json").read_text())
    usage = json.loads((out / "annotations_webusage.json").read_text())
    hw = json.loads((out / "annotations_hardware.json").read_text())
    # release annotations replicated per country
    assert "Worldwide" in fx and "Brazil" in fx
    assert any(a["annotation"].startswith("Firefox") for a in fx["Worldwide"])
    # static + default merge covers every allowlisted country
    assert len(usage) == 11
    assert usage["France"][-1]["annotation"] == "engine baseline recalculated"
    # hardware file is the verbatim static passthrough
    from firefox_public_data_report_etl_spark.sources.http_json import (
        read_static_json,
    )

    assert hw == read_static_json("annotations_hardware.json")
