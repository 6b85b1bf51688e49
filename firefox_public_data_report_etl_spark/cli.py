"""Command-line entry points mirroring the reference CLI.

The reference registers three click subcommands
(/root/reference/public_data_report/cli.py:8-19):
``hardware_report`` (hardware_report.py:390-417 flags),
``user_activity`` (user_activity.py:13-21) and ``annotations``
(annotations.py:104-111). This engine keeps the same subcommand
surface over argparse (no third-party CLI dependency) with
path-based inputs/sinks in place of BigQuery tables and GCS buckets:

  python -m firefox_public_data_report_etl_spark hardware_report \
      --date_from 2024-01-01 --input_path .../hardware_input.parquet \
      --device_map .../device_map.json --output_path /tmp/hw \
      --report_path /tmp/hw.json [--past_weeks N] [--dry_run]
  python -m firefox_public_data_report_etl_spark user_activity \
      --clients_path ... --countries_path ... --buildhub_path ... \
      --output_dir /tmp/ua [--dry_run]
  python -m firefox_public_data_report_etl_spark annotations \
      --date_to 2024-02-01 --buildhub_path ... --output_dir /tmp/ann

All heavy lifting is distributed (the Spark pipelines); the CLI only
parses flags, builds the session, and writes the report-sized JSON
edges, exactly the split the reference uses.
"""

from __future__ import annotations

import argparse
import json
from datetime import date, timedelta
from pathlib import Path

from pyspark.sql import SparkSession


def _session(app: str) -> SparkSession:
    from firefox_public_data_report_etl_spark.session import get_spark

    return get_spark(app_name=app)


def _write_json(path: Path, payload, dry_run: bool) -> None:
    if dry_run:
        print(f"[dry_run] would write {path}")
        return
    path.parent.mkdir(parents=True, exist_ok=True)
    path.write_text(json.dumps(payload, indent=2, sort_keys=True))
    print(f"wrote {path}")


def cmd_hardware_report(args: argparse.Namespace) -> int:
    """Weekly hardware report: [date_from, date_from+7) per batch,
    ``--past_weeks`` earlier weeks recomputed incrementally (reference
    hardware_report.py:404-408,427-437 loops BigQuery partition jobs;
    here one distributed pass recomputes exactly those partitions)."""
    from firefox_public_data_report_etl_spark.plans.hardware_pipeline import (
        invert_device_map,
        run_pipeline,
    )
    from firefox_public_data_report_etl_spark.sources.export import (
        write_json_report,
    )

    spark = _session("fpdr-hardware-report")
    date_from = date.fromisoformat(args.date_from)
    weeks = [
        (date_from - timedelta(weeks=n)).isoformat()
        for n in range(args.past_weeks + 1)
    ]
    raw_map = json.loads(Path(args.device_map).read_text())
    input_df = spark.read.parquet(args.input_path)
    back, wide = run_pipeline(
        spark,
        input_df,
        invert_device_map(raw_map),
        args.output_path,
        only_weeks=weeks,
    )
    records = [
        {k: (v.isoformat() if isinstance(v, date) else v) for k, v in r.asDict().items()}
        for r in wide.collect()
    ]
    wrote = write_json_report(records, args.report_path, dryrun=args.dry_run)
    print(f"hardware_report: {len(records)} weekly rows; wrote={wrote}")
    return 0


def cmd_user_activity(args: argparse.Namespace) -> int:
    """User-activity export: runs the 26-CTE weekly DAG, collects its
    rows once (no cache) and shapes both fxhealth.json and
    webusage.json from them (user_activity.py:50-115). Ratios are
    scaled x100; a NULL ratio (``SAFE_DIVIDE`` over zero) is written
    as ``null``."""
    from firefox_public_data_report_etl_spark.plans.user_activity_pipeline import (
        COUNTRY_ALLOWLIST,
        user_activity_weekly,
    )
    from firefox_public_data_report_etl_spark.sources.export import (
        pct,
        validate_cohorts,
        webusage_records,
    )

    spark = _session("fpdr-user-activity")
    rows = user_activity_weekly(
        spark.read.parquet(args.clients_path),
        spark.read.parquet(args.countries_path),
        spark.read.parquet(args.buildhub_path),
        date_from=args.date_from,
        date_to=args.date_to,
    ).collect()

    fxhealth: dict[str, list[dict]] = {}
    for row in rows:
        d = row.asDict()
        day = d["submission_date"]
        fxhealth.setdefault(d["country_name"], []).append(
            {
                "date": day.isoformat() if hasattr(day, "isoformat") else day,
                "metrics": {
                    "avg_intensity": d["intensity"],
                    "MAU": d["mau"],
                    "avg_daily_usage(hours)": d["avg_hours_usage_daily"],
                    "pct_new_user": pct(d["new_profile_rate"]),
                    "pct_latest_version": pct(d["latest_version_ratio"]),
                },
            }
        )
    webusage = webusage_records(rows)

    # Output contract (user_activity.py:85-101): countries must match
    # the allowlist exactly — but only those present in the data range.
    missing, unexpected = validate_cohorts(
        set(webusage), set(COUNTRY_ALLOWLIST)
    )
    if unexpected:
        raise RuntimeError(f"countries not in allowlist: {sorted(unexpected)}")
    if missing and args.strict_countries:
        raise RuntimeError(f"expected countries missing: {sorted(missing)}")

    out = Path(args.output_dir)
    _write_json(out / "fxhealth.json", fxhealth, args.dry_run)
    _write_json(out / "webusage.json", webusage, args.dry_run)
    print(f"user_activity: {len(rows)} weekly rows, {len(webusage)} countries")
    return 0


def cmd_annotations(args: argparse.Namespace) -> int:
    """Annotations export: release-date fxhealth annotations from
    buildhub, static+default webusage annotations, and the verbatim
    hardware passthrough (annotations.py:30-121)."""
    from firefox_public_data_report_etl_spark.plans.annotations_pipeline import (
        fxhealth_annotations,
        release_first_weeks,
    )
    from firefox_public_data_report_etl_spark.plans.user_activity_pipeline import (
        COUNTRY_ALLOWLIST,
    )
    from firefox_public_data_report_etl_spark.sources.export import (
        hardware_annotations,
        merge_usage_annotations,
    )
    from firefox_public_data_report_etl_spark.sources.http_json import (
        read_static_json,
    )

    spark = _session("fpdr-annotations")
    countries = list(COUNTRY_ALLOWLIST)
    first_weeks = release_first_weeks(
        spark,
        spark.read.parquet(args.buildhub_path),
        date_to=args.date_to,
    )
    fxhealth = fxhealth_annotations(first_weeks, countries)
    usage = merge_usage_annotations(
        read_static_json("annotations_usage.json"), countries
    )
    out = Path(args.output_dir)
    _write_json(out / "annotations_fxhealth.json", fxhealth, args.dry_run)
    _write_json(out / "annotations_webusage.json", usage, args.dry_run)
    _write_json(out / "annotations_hardware.json", hardware_annotations(), args.dry_run)
    return 0


def build_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="firefox_public_data_report_etl_spark",
        description="Spark-native public-data-report pipelines",
    )
    sub = p.add_subparsers(dest="command", required=True)

    hw = sub.add_parser("hardware_report", help="weekly hardware report")
    hw.add_argument("--date_from", required=True, help="week start (YYYY-MM-DD)")
    hw.add_argument("--input_path", required=True, help="hardware_input parquet")
    hw.add_argument("--device_map", required=True, help="raw device-map JSON file")
    hw.add_argument("--output_path", required=True, help="partitioned parquet sink")
    hw.add_argument("--report_path", required=True, help="JSON report file")
    hw.add_argument("--past_weeks", type=int, default=0)
    hw.add_argument("--dry_run", "--dryrun", action="store_true")
    hw.set_defaults(func=cmd_hardware_report)

    ua = sub.add_parser("user_activity", help="fxhealth/webusage export")
    ua.add_argument("--clients_path", required=True)
    ua.add_argument("--countries_path", required=True)
    ua.add_argument("--buildhub_path", required=True)
    ua.add_argument("--output_dir", required=True)
    ua.add_argument("--date_from", default="2018-12-31")
    ua.add_argument("--date_to", default="2020-06-29")
    ua.add_argument("--strict_countries", action="store_true")
    ua.add_argument("--dry_run", "--dryrun", action="store_true")
    ua.set_defaults(func=cmd_user_activity)

    ann = sub.add_parser("annotations", help="annotation files export")
    ann.add_argument("--date_to", required=True)
    ann.add_argument("--buildhub_path", required=True)
    ann.add_argument("--output_dir", required=True)
    ann.add_argument("--dry_run", "--dryrun", action="store_true")
    ann.set_defaults(func=cmd_annotations)
    return p


def main(argv: list[str] | None = None) -> int:
    args = build_parser().parse_args(argv)
    return args.func(args)
