"""The hardware_report pipeline (reference
public_data_report/hardware_report/hardware_report.py) re-expressed as
a Spark DataFrame program over its native input schema (FIXTURES.md §1:
one row per (week, dimension-combo) with a pre-aggregated
client_count).

Reference lifecycle (SURVEY.md §3.1) → Spark shape:

  11-dim SQL aggregate (A1, :15-56)   → one scan, explode to long
                                        (dimension, key) rows, ONE
                                        groupBy — single shuffle
  transform_dimensions (A14, :221-275)→ column exprs (os_arch when-
                                        chain, vendor map) + broadcast
                                        join against the device map
  collapse_buckets (A15, :278-324)    → windowed threshold re-key,
                                        os two-phase, exact reference
                                        rules (sentinel '0x0',
                                        exemptions, floor threshold)
  ratios (A16, :318-323)              → count / window total
  kv rows + $YYYYMMDD write (P1/S5)   → long rows, partitioned parquet
                                        with dynamic overwrite
  read-back + flatten (S4/P2,:327-350)→ one scan + collect of the
                                        long rows, pivoted on the
                                        driver at the JSON edge

Scale: the whole weekly pass is one shuffle for the aggregate plus two
tiny re-aggregations of (dim,key) count rows (hundreds). The device
map is broadcast. The only driver-side step is the report-sized
pivot: weeks × collapsed keys cells, which the export writes anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from firefox_public_data_report_etl_spark.functions import gpu_vendor_name, os_arch
from firefox_public_data_report_etl_spark.sources import write_partitioned

OTHER = "Other"

# Dimension spec (hardware_report.py:20-32): name → source columns.
UNTRANSFORMED_DIMS = (
    "os",
    "browser_arch",
    "cpu_cores",
    "cpu_vendor",
    "cpu_speed",
    "resolution",
    "memory_gb",
    "has_flash",
)
ALL_DIMS = UNTRANSFORMED_DIMS + ("os_arch", "gfx0_vendor_name", "gfx0_model")

# Dimensions that never collapse into Other (hardware_report.py:283-286).
UNCOLLAPSED_DIMS = ("has_flash", "os_arch")

# Export column-prefix translation (hardware_report.py:328-340).
KEYS_TRANSLATION = {
    "browser_arch": "browserArch_",
    "cpu_cores": "cpuCores_",
    "cpu_vendor": "cpuVendor_",
    "cpu_speed": "cpuSpeed_",
    "gfx0_vendor_name": "gpuVendor_",
    "gfx0_model": "gpuModel_",
    "resolution": "resolution_",
    "memory_gb": "ram_",
    "os": "osName_",
    "os_arch": "osArch_",
    "has_flash": "hasFlash_",
}


def invert_device_map(m: dict) -> dict:
    """Driver-side reshape of the fetched GPU db (hardware_report.py:
    169-186): vendor→family→chipset→[ids] ⇒ '0x'+vendor→'0x'+id→
    [family, chipset]."""
    out: dict = {}
    for vendor, families in m.items():
        vkey = "0x" + vendor
        out[vkey] = {}
        for family, chipsets in families.items():
            for chipset, ids in chipsets.items():
                for gfx_id in ids:
                    out[vkey]["0x" + gfx_id] = [family, chipset]
    return out


def device_map_df(spark: SparkSession, inverted: dict) -> DataFrame:
    """Inverted device map as a broadcastable dim table
    (vendor_id, device_id, model='Family-Chipset')."""
    rows = [
        (v, d, "-".join(fc))
        for v, devices in inverted.items()
        for d, fc in devices.items()
    ]
    return spark.createDataFrame(rows, ["vendor_id", "device_id", "model"])


def transform_dimensions(df: DataFrame, devices: DataFrame) -> DataFrame:
    """A14/X20-X22: adds os_arch, gfx0_vendor_name, gfx0_model columns.
    Unknown vendor or device → 'Other' (broadcast left join +
    coalesce, hardware_report.py:148-166)."""
    # NOTE: the raw os string ("Windows_NT-10.0") is passed unsplit,
    # exactly as the reference does (transform_dimensions passes
    # os_arch["os"] verbatim into get_os_arch's == "Windows_NT" test,
    # hardware_report.py:253-256).
    out = df.withColumn(
        "os_arch",
        os_arch(F.col("browser_arch"), F.col("os"), F.col("is_wow64")),
    ).withColumn("gfx0_vendor_name", gpu_vendor_name(F.col("gfx0_vendor_id")))
    out = out.join(
        F.broadcast(devices),
        (out.gfx0_vendor_id == devices.vendor_id)
        & (out.gfx0_device_id == devices.device_id),
        "left",
    ).drop("vendor_id", "device_id")
    return out.withColumn("gfx0_model", F.coalesce(F.col("model"), F.lit(OTHER))).drop(
        "model"
    )


def aggregate_dimensions_long(df: DataFrame, devices: DataFrame) -> DataFrame:
    """A1 as ONE scan: every input row fans out to its 11 (dimension,
    key) pairs, then a single groupBy sums client_count — the Spark
    replacement for the reference's 11 packed ARRAY(SELECT ... GROUP
    BY) subqueries (hardware_report.py:34-39)."""
    t = transform_dimensions(df, devices)
    dtypes = dict(t.dtypes)

    def _key(d: str) -> F.Column:
        # Reference keys are Python str(value): booleans must render
        # 'True'/'False' (tests/test_hardware_report.py:183), not
        # Spark's lowercase cast, and NULL renders 'None' in every
        # dimension (hardware_report.py:321).
        if dtypes.get(d) == "boolean":
            key = F.when(F.col(d), F.lit("True")).when(~F.col(d), F.lit("False"))
        else:
            key = F.col(d).cast("string")
        return F.coalesce(key, F.lit("None"))

    pairs = F.array(
        *[
            F.struct(
                F.lit(d).alias("dimension"),
                _key(d).alias("key"),
            )
            for d in ALL_DIMS
        ]
    )
    long = t.select(
        "date_from", F.explode(pairs).alias("p"), "client_count"
    ).select("date_from", "p.dimension", "p.key", "client_count")
    return long.groupBy("date_from", "dimension", "key").agg(
        F.sum("client_count").alias("client_count")
    )


def collapse_hardware(long_df: DataFrame) -> DataFrame:
    """A15+A16 with the reference's exact rules (hardware_report.py:
    278-324): sentinel resolution '0x0' always folds; exempt dims never
    fold; small = count < int(total * 0.01); os folds to
    '<name>-Other' then still-small os buckets fold to 'Other'."""
    scope = Window.partitionBy("date_from", "dimension")
    d = long_df.withColumn("_total", F.sum("client_count").over(scope)).withColumn(
        "_thr", F.expr("_total div 100")
    )

    dim = F.col("dimension")
    sentinel = (dim == "resolution") & (F.col("key") == "0x0")
    exempt = dim.isin(list(UNCOLLAPSED_DIMS))
    small = (F.col("client_count") < F.col("_thr")) & ~exempt
    os_family = F.concat(
        F.split("key", "-", 2).getItem(0), F.lit("-"), F.lit(OTHER)
    )
    new_key = (
        F.when(sentinel, F.lit(OTHER))
        .when(small & (dim == "os"), os_family)
        .when(small, F.lit(OTHER))
        .otherwise(F.col("key"))
    )
    p1 = (
        d.withColumn("key", new_key)
        .groupBy("date_from", "dimension", "key", "_total", "_thr")
        .agg(F.sum("client_count").alias("client_count"))
    )

    still_small = (dim == "os") & (F.col("client_count") < F.col("_thr"))
    p2 = (
        p1.withColumn("key", F.when(still_small, F.lit(OTHER)).otherwise(F.col("key")))
        .groupBy("date_from", "dimension", "key", "_total")
        .agg(F.sum("client_count").alias("client_count"))
    )
    return p2.select(
        "date_from",
        "dimension",
        "key",
        "client_count",
        (F.col("client_count").cast("double") / F.col("_total")).alias("ratio"),
    )


def hardware_weekly(df: DataFrame, devices: DataFrame) -> DataFrame:
    """Full weekly aggregate → collapsed ratio rows (P1,
    hardware_report.py:448-453). Unordered: parquet row order is not
    part of the table's contract, and the report orders its own rows."""
    return collapse_hardware(aggregate_dimensions_long(df, devices))


def wide_records(rows) -> list[dict]:
    """P2 flatten_aggregates (hardware_report.py:327-350) at the JSON
    edge: (date, dimension, key, ratio) rows → one record per week,
    newest first, keyed ``date`` then the sorted '<prefix><key>' names;
    a key absent in a week is ``None``. The rows are report-sized by
    construction (weeks × 11 dims × collapsed keys), so the pivot runs
    on the driver and starts no Spark job."""
    weeks: dict[str, dict] = {}
    for date, dimension, key, ratio in rows:
        weeks.setdefault(date, {})[KEYS_TRANSLATION[dimension] + key] = ratio
    keys = sorted({k for cells in weeks.values() for k in cells})
    return [
        {"date": date, **{k: weeks[date].get(k) for k in keys}}
        for date in sorted(weeks, reverse=True)
    ]


def run_pipeline(
    spark: SparkSession,
    input_df: DataFrame,
    inverted_device_map: dict,
    out_path: str,
    only_weeks: list | None = None,
) -> tuple[DataFrame, list[dict]]:
    """End-to-end weekly job (SURVEY.md §3.1): aggregate + collapse →
    idempotent partitioned write (S5, $YYYYMMDD WRITE_TRUNCATE analog)
    → read-back of the full history (S4) → wide report records (P2).
    Returns the read-back table and the records.

    Incrementality: the reference loops ``--past_weeks`` submitting one
    BigQuery job per week partition (hardware_report.py:427-437); here
    ALL weeks process in one distributed pass, and ``only_weeks``
    recomputes just those partitions — dynamic partition overwrite
    replaces exactly the touched weeks, leaving the rest intact.
    """
    devices = device_map_df(spark, inverted_device_map)
    if only_weeks is not None:
        input_df = input_df.filter(F.col("date_from").isin(only_weeks))
    weekly = hardware_weekly(input_df, devices)
    write_partitioned(weekly, out_path, ["date_from"])
    back = spark.read.parquet(out_path)
    rows = back.select(
        F.date_format("date_from", "yyyy-MM-dd"), "dimension", "key", "ratio"
    ).collect()
    return back, wide_records(rows)
