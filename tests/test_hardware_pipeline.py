"""Behavioral parity tests for the hardware_report pipeline, covering
the same cases as the reference's golden unit tests
(tests/test_hardware_report.py:23-200) — decision-table os_arch, GPU
vendor/device mapping with unknowns, device-map inversion, full
dimension transform, and the two-phase threshold collapse with
sentinel and exemption rules."""

from __future__ import annotations

from datetime import date

import pytest

from pyspark.sql import functions as F

from firefox_public_data_report_etl_spark.functions import gpu_vendor_name, os_arch
from firefox_public_data_report_etl_spark.plans import hardware_pipeline as hp

# Same shape as the reference device-map JSON (vendor → family →
# chipset → [device ids]); values are our own.
RAW_DEVICE_MAP = {
    "10de": {"Maxwell": {"GM204": ["13c2", "13c3"]}},
    "8086": {"Iris": {"XeLP": ["9a49"]}},
}


def test_invert_device_map():
    inv = hp.invert_device_map(RAW_DEVICE_MAP)
    assert inv["0x10de"]["0x13c2"] == ["Maxwell", "GM204"]
    assert inv["0x10de"]["0x13c3"] == ["Maxwell", "GM204"]
    assert inv["0x8086"]["0x9a49"] == ["Iris", "XeLP"]


@pytest.mark.parametrize(
    "browser_arch,os_name,is_wow64,expected",
    [
        ("x86-64", "Windows_NT", False, "x86-64"),
        ("x86", "Windows_NT", True, "x86-64"),
        ("x86", "Windows_NT", False, "x86"),
        ("aarch64", "Darwin", False, "aarch64"),
        ("x86", "Darwin", False, "x86"),
        # full os string: the == "Windows_NT" test must NOT match
        ("x86", "Windows_NT-10.0", True, "x86"),
    ],
)
def test_os_arch_decision_table(spark, browser_arch, os_name, is_wow64, expected):
    df = spark.createDataFrame(
        [(browser_arch, os_name, is_wow64)], ["a", "o", "w"]
    )
    got = df.select(
        os_arch(F.col("a"), F.col("o"), F.col("w")).alias("r")
    ).first()["r"]
    assert got == expected


def test_gpu_vendor_name(spark):
    df = spark.createDataFrame(
        [("0x10de",), ("0x1414",), ("0xdead",), ("0x106b",)], ["v"]
    )
    got = [r["r"] for r in df.select(gpu_vendor_name(F.col("v")).alias("r")).collect()]
    assert got == ["NVIDIA", "Microsoft Basic", "Other", "Apple"]


WEEK = date(2024, 1, 1)


def _input_df(spark):
    """One weekly slice; 6 clients total like the reference's
    transform_dimensions fixture, with known + unknown GPU devices."""
    rows = [
        # (os, browser_arch, is_wow64, cpu_cores, cpu_vendor, cpu_speed,
        #  resolution, memory_gb, has_flash, vendor, device, client_count)
        ("Windows_NT-10.0", "x86-64", True, 4, "GenuineIntel", "3.6",
         "1920x1080", 14, True, "0x10de", "0x13c2", 1),
        ("Windows_NT-6.2", "x86-64", False, 8, "GenuineIntel", "Other",
         "2560x1440", 17, False, "0x1414", "0xfefe", 5),
    ]
    cols = [
        "os", "browser_arch", "is_wow64", "cpu_cores", "cpu_vendor",
        "cpu_speed", "resolution", "memory_gb", "has_flash",
        "gfx0_vendor_id", "gfx0_device_id", "client_count",
    ]
    return spark.createDataFrame(
        [(*r[:11], r[11]) for r in rows], cols
    ).withColumn("date_from", F.lit(WEEK)).withColumn(
        "date_to", F.lit(date(2024, 1, 8))
    )


def test_aggregate_dimensions_long(spark):
    devices = hp.device_map_df(spark, hp.invert_device_map(RAW_DEVICE_MAP))
    long = hp.aggregate_dimensions_long(_input_df(spark), devices)
    got = {
        (r["dimension"], r["key"]): r["client_count"] for r in long.collect()
    }
    # mirrors the reference golden expectations
    # (tests/test_hardware_report.py:144-156)
    assert got[("os", "Windows_NT-10.0")] == 1
    assert got[("os", "Windows_NT-6.2")] == 5
    assert got[("browser_arch", "x86-64")] == 6
    assert got[("os_arch", "x86-64")] == 6
    assert got[("gfx0_vendor_name", "NVIDIA")] == 1
    assert got[("gfx0_vendor_name", "Microsoft Basic")] == 5
    assert got[("gfx0_model", "Maxwell-GM204")] == 1
    assert got[("gfx0_model", "Other")] == 5
    # reference str(True) casing, not Spark's lowercase
    assert got[("has_flash", "True")] == 1
    assert got[("has_flash", "False")] == 5


def _counts_df(spark, rows):
    return spark.createDataFrame(
        [(WEEK, d, k, c) for d, k, c in rows],
        ["date_from", "dimension", "key", "client_count"],
    )


def test_collapse_threshold_and_sentinel(spark):
    """Total 100 → threshold int(100*0.01)=1: count 0 would fold, 1+
    stays; sentinel '0x0' folds regardless; exemptions never fold.
    Uses total 1000/thr 10 for a meaningful small set, like the
    reference golden (threshold 10 of total 100... scaled x10)."""
    rows = [
        ("resolution", "1920x1080", 800),
        ("resolution", "0x0", 150),        # sentinel: folds though large
        ("resolution", "640x480", 5),      # small: folds
        ("resolution", "2560x1440", 45),
        ("has_flash", "true", 995),
        ("has_flash", "false", 5),         # small but exempt: stays
        ("cpu_vendor", "GenuineIntel", 991),
        ("cpu_vendor", "WeirdCPU", 9),     # < 10: folds
    ]
    out = hp.collapse_hardware(_counts_df(spark, rows))
    got = {
        (r["dimension"], r["key"]): (r["client_count"], r["ratio"])
        for r in out.collect()
    }
    assert got[("resolution", "Other")] == (155, 0.155)
    assert got[("resolution", "1920x1080")][0] == 800
    assert ("resolution", "640x480") not in got
    assert got[("has_flash", "false")] == (5, 0.005)
    assert got[("cpu_vendor", "Other")] == (9, 0.009)


def test_collapse_os_two_phase(spark):
    """Small os versions fold to '<name>-Other'; families still under
    threshold then fold to plain 'Other'
    (hardware_report.py:295-315)."""
    rows = [
        ("os", "Windows_NT-10.0", 900),
        ("os", "Windows_NT-6.2", 8),   # → Windows_NT-Other (8) < 10 → Other
        ("os", "Darwin-22.1", 50),
        ("os", "Darwin-21.0", 6),      # → Darwin-Other (6) < 10 → Other
        ("os", "Linux-6.1", 30),
        ("os", "Linux-6.0", 4),        # → Linux-Other (4)
        ("os", "Linux-5.9", 2),        # → Linux-Other (+2 = 6) < 10 → Other
    ]
    out = hp.collapse_hardware(_counts_df(spark, rows))
    got = {r["key"]: r["client_count"] for r in out.collect()}
    assert got == {
        "Windows_NT-10.0": 900,
        "Darwin-22.1": 50,
        "Linux-6.1": 30,
        "Other": 20,  # 8 + 6 + 4 + 2
    }


def test_full_pipeline_roundtrip(spark, tmp_path):
    """S5/S4/P2: write partitioned, read back, flatten wide with
    camelCase prefixes; dynamic overwrite is idempotent."""
    out = str(tmp_path / "hw")
    back, records = hp.run_pipeline(
        spark, _input_df(spark), hp.invert_device_map(RAW_DEVICE_MAP), out
    )
    n1 = back.count()
    assert n1 > 0
    row = records[0]
    assert row["date"] == "2024-01-01"
    assert abs(row["browserArch_x86-64"] - 1.0) < 1e-12
    assert abs(row["gpuVendor_NVIDIA"] - 1 / 6) < 1e-12
    # re-run: dynamic partition overwrite keeps exactly one copy
    back2, _ = hp.run_pipeline(
        spark, _input_df(spark), hp.invert_device_map(RAW_DEVICE_MAP), out
    )
    assert back2.count() == n1


def test_incremental_week_recompute(spark, tmp_path):
    """only_weeks recomputes just the named partition; untouched weeks
    survive the overwrite (the --past_weeks backfill contract)."""
    from pyspark.sql import functions as F

    out = str(tmp_path / "hw_inc")
    inv = hp.invert_device_map(RAW_DEVICE_MAP)
    w2 = date(2024, 1, 8)
    df1 = _input_df(spark)
    df2 = df1.withColumn("date_from", F.lit(w2))
    both = df1.unionByName(df2)
    hp.run_pipeline(spark, both, inv, out)
    n_w1 = spark.read.parquet(out).filter(F.col("date_from") == WEEK).count()

    # recompute ONLY week 2 from modified input; week 1 rows untouched
    modified = df2.withColumn("client_count", F.col("client_count") * 2)
    back, _ = hp.run_pipeline(
        spark, df1.unionByName(modified), inv, out, only_weeks=[w2]
    )
    assert back.filter(F.col("date_from") == WEEK).count() == n_w1
    # ratios unchanged by uniform doubling, but counts doubled in w2
    w2_counts = back.filter(
        (F.col("date_from") == w2) & (F.col("dimension") == "browser_arch")
    ).collect()
    assert w2_counts[0]["client_count"] == 12


def test_report_records_two_weeks(spark, tmp_path):
    """P2 at the JSON edge: one record per week, newest first, keyed
    'date' then the sorted prefixed keys; a key seen in one week only
    is None in the other. An only_weeks rerun still reports the whole
    history read back from the table."""
    out = str(tmp_path / "hw_wide")
    inv = hp.invert_device_map(RAW_DEVICE_MAP)
    w2 = date(2024, 1, 8)
    df1 = _input_df(spark)
    df2 = df1.withColumn("date_from", F.lit(w2)).withColumn(
        "cpu_vendor", F.lit("AuthenticAMD")
    )
    _, records = hp.run_pipeline(spark, df1.unionByName(df2), inv, out)

    keys = {k for r in records for k in r} - {"date"}
    assert all(list(r) == ["date"] + sorted(keys) for r in records)
    assert [r["date"] for r in records] == ["2024-01-08", "2024-01-01"]
    new, old = records
    assert new["cpuVendor_AuthenticAMD"] == 1.0
    assert new["cpuVendor_GenuineIntel"] is None
    assert old["cpuVendor_AuthenticAMD"] is None
    assert old["cpuVendor_GenuineIntel"] == 1.0

    _, rerun = hp.run_pipeline(
        spark, df1.unionByName(df2), inv, out, only_weeks=[w2]
    )
    assert rerun == records


def test_null_dimension_value_reports_none_key(spark, tmp_path):
    """A NULL dimension value keys as 'None' (the reference's str(key)),
    booleans included, instead of a NULL column name in the report."""
    df = _input_df(spark).withColumn(
        "cpu_cores",
        F.when(F.col("client_count") == 5, F.lit(None)).otherwise(F.col("cpu_cores")),
    ).withColumn(
        "has_flash",
        F.when(F.col("client_count") == 5, F.lit(None)).otherwise(F.col("has_flash")),
    )
    _, records = hp.run_pipeline(
        spark, df, hp.invert_device_map(RAW_DEVICE_MAP), str(tmp_path / "hw_null")
    )
    row = records[0]
    assert abs(row["cpuCores_None"] - 5 / 6) < 1e-12
    assert abs(row["cpuCores_4"] - 1 / 6) < 1e-12
    assert abs(row["hasFlash_None"] - 5 / 6) < 1e-12
    assert abs(row["hasFlash_True"] - 1 / 6) < 1e-12
