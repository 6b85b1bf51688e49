"""Report-edge sinks (reference S7-S9) and export shaping (P3-P5).

The reference's outputs are report-sized JSON documents (hundreds of
rows), so the final shaping happens driver-side after a collect — the
same edge the reference crosses with ``json.dumps`` + GCS upload
(hardware_report.py:359-381, user_activity.py:103-115,
annotations.py:123-133). Everything upstream of these functions is
distributed; nothing here touches fact-scale data.
"""

from __future__ import annotations

import json
from pathlib import Path

from pyspark.sql import DataFrame, Row


def write_json_report(
    records: list[dict], path: str, dryrun: bool = False, indent: int = 4
) -> bool:
    """S7: pretty-printed JSON array to a local file; the ``dryrun``
    flag gates all writes (reference --dry_run,
    hardware_report.py:369-370). Returns whether a write happened."""
    if dryrun:
        return False
    Path(path).write_text(json.dumps(records, indent=indent))
    return True


class ReportUploader:
    """S8/S9: object-store sink writing the latest copy AND a dated
    archive copy (hardware_report.py:364-381). The storage client is
    injected so tests (and the reference's dryrun contract: ZERO client
    calls, tests/test_hardware_report.py:193-200) can observe calls."""

    def __init__(self, storage_client):
        self._client = storage_client

    def upload_latest_and_archive(
        self,
        payload: str,
        latest_path: str,
        dated_path: str,
        dryrun: bool = False,
        content_type: str = "application/json",
    ) -> int:
        if dryrun:
            return 0
        self._client.upload(latest_path, payload, content_type)
        self._client.upload(dated_path, payload, content_type)
        return 2


def fxhealth_records(weekly: DataFrame) -> dict[str, list[dict]]:
    """P3 (user_activity.py:50-69): flagship weekly rows →
    ``{cohort: [{date, metrics...}]}`` with ratio fields scaled x100
    (X18). ``weekly`` is the user_activity_flagship output."""
    out: dict[str, list[dict]] = {}
    for row in weekly.collect():
        d = row.asDict()
        out.setdefault(d["cohort"], []).append(
            {
                "date": d["week_start"],
                "metrics": {
                    "mau": d["mau"],
                    "avg_daily_usage": d["avg_value_per_user"],
                    "intensity": d["intensity"],
                    "new_profile_rate": d["new_profile_rate"] * 100,
                    "latest_version_ratio": d["latest_version_ratio"] * 100,
                },
            }
        )
    return out


def pct(ratio: float | None) -> float | None:
    """X18 x100 scaling that passes a NULL ratio (a ``SAFE_DIVIDE``
    over a zero denominator) through as JSON ``null``."""
    return None if ratio is None else ratio * 100


def webusage_records(rows: list[Row]) -> dict[str, list[dict]]:
    """P3, second shape (user_activity.py:70-83): the webusage.json
    twin of ``fxhealth_records`` — per-country rows with a locale
    ratio map, a top-10-addon ratio map, and pct_addon, all x100
    (X18, NULL kept as ``null``). ``rows`` are the collected
    ``user_activity_weekly`` rows (native schema: submission_date,
    top_addons, top_locales, has_addon_ratio); the caller collects
    once and shapes fxhealth.json from the same rows."""
    out: dict[str, list[dict]] = {}
    for row in rows:
        d = row.asDict(recursive=True)
        out.setdefault(d["country_name"], []).append(
            {
                "date": (
                    d["submission_date"].isoformat()
                    if hasattr(d["submission_date"], "isoformat")
                    else d["submission_date"]
                ),
                "metrics": {
                    # NULL names are the empty-preserving-unnest
                    # placeholder rows (J3) — denominator-only, never
                    # report keys.
                    "locale": {
                        loc["locale"]: pct(loc["ratio"])
                        for loc in (d["top_locales"] or [])
                        if loc["locale"] is not None
                    },
                    "top10addons": {
                        a["addon_name"]: pct(a["ratio"])
                        for a in (d["top_addons"] or [])
                        if a["addon_name"] is not None
                    },
                    "pct_addon": pct(d["has_addon_ratio"]),
                },
            }
        )
    return out


def validate_cohorts(
    produced: set[str], allowlist: set[str]
) -> tuple[set[str], set[str]]:
    """U2 (user_activity.py:85-101): output contract — returns
    (missing, unexpected); the caller raises if either is non-empty."""
    return allowlist - produced, produced - allowlist


# P5: per-country default annotations appended to static ones
# (annotations.py:21-27,90-100).
DEFAULT_USAGE_ANNOTATIONS = [
    {"annotation": "engine baseline recalculated", "date": "2024-01-01"},
]


def merge_usage_annotations(
    static_by_country: dict[str, list[dict]], countries: list[str]
) -> dict[str, list[dict]]:
    """Appends the defaults to every country's static annotation list,
    creating entries for countries with no static annotations."""
    out: dict[str, list[dict]] = {}
    for c in countries:
        out[c] = list(static_by_country.get(c, [])) + [
            dict(a) for a in DEFAULT_USAGE_ANNOTATIONS
        ]
    return out


def hardware_annotations() -> dict:
    """The third annotation file: a verbatim static passthrough
    (reference annotations.py:119-121 reads annotations_hardware.json
    and uploads it unmodified — no per-country merge)."""
    from firefox_public_data_report_etl_spark.sources.http_json import (
        read_static_json,
    )

    return read_static_json("annotations_hardware.json")


# --- training-shard export with manifest -----------------------------------

TRAINING_SHARDS = 8


def training_manifest(docs, n_shards: int = TRAINING_SHARDS):
    """Per-shard manifest of a training export — the reproducibility
    record a dataloader pins before training starts: shard id, doc
    count, token mass, and an ORDER-INDEPENDENT content fingerprint
    (sum of portable md5 fragments of the text — associative, so any
    partitioning/engine reproduces it; a changed/dropped/extra doc
    changes the sum). Shard assignment is the portable md5 bucket of
    doc_id, i.e. a pure function of the data: re-running the export
    anywhere yields the identical manifest.

    Scale: one map-side-combined aggregate to ``n_shards`` rows."""
    from pyspark.sql import functions as F

    from firefox_public_data_report_etl_spark.functions import (
        md5_int_spark_sql,
    )

    shard = F.expr(md5_int_spark_sql("cast(doc_id as string)")) % n_shards
    return (
        docs.select(
            shard.alias("shard"),
            F.size(F.split(F.col("text"), " ")).cast("long").alias("_tok"),
            F.expr(md5_int_spark_sql("text")).alias("_fp"),
        )
        .groupBy("shard")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_tok").alias("n_tokens"),
            F.sum("_fp").alias("content_fp"),
        )
    )


def write_training_shards(docs, path: str, n_shards: int = TRAINING_SHARDS):
    """Materialize the training export: documents written parquet-
    partitioned by the manifest's shard assignment (each shard a
    prunable partition a dataloader worker reads independently), plus
    the manifest computed from the SAME frame. Returns the manifest
    rows; the caller persists them next to the data. Idempotent:
    re-running overwrites each shard partition it writes in place and
    leaves the others (dynamic partition overwrite, set on this write
    so the session's mode does not matter — the S5 writer contract)."""
    from pyspark.sql import functions as F

    from firefox_public_data_report_etl_spark.functions import (
        md5_int_spark_sql,
    )

    shard = F.expr(md5_int_spark_sql("cast(doc_id as string)")) % n_shards
    out = docs.withColumn("shard", shard)
    (
        out.repartition("shard")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("shard")
        .parquet(path)
    )
    return training_manifest(docs, n_shards)


def write_jsonl_shards(
    docs,
    path: str,
    max_records_per_file: int = 50_000,
    order_col: str | None = None,
):
    """JSONL training export — the interchange format most training
    stacks ingest directly: one JSON object per line, files bounded to
    ``max_records_per_file`` rows via Spark's maxRecordsPerFile (the
    writer splits a task's output across files at the bound, so file
    size is governed regardless of partitioning). With ``order_col``,
    rows are sorted within partitions first — each emitted file is
    internally ordered (parquet-free replay of a curriculum or epoch
    order; cross-file order is the partition order, which callers
    control by repartitioning upstream).

    JSONL loses parquet's types (dates/decimals become strings) — this
    writer is the LAST hop to a trainer, not a storage format; the
    manifest/export family stays on parquet."""
    w = docs
    if order_col is not None:
        w = w.sortWithinPartitions(order_col)
    (
        w.write.mode("overwrite")
        .option("maxRecordsPerFile", max_records_per_file)
        .json(path)
    )
