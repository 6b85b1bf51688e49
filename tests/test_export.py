"""Export-edge tests mirroring the reference's sink/contract tests
(tests/test_hardware_report.py:193-200 dryrun;
tests/test_annotations.py:8-49 merge + country contract)."""

from __future__ import annotations

import json

from pyspark.sql import functions as F

from firefox_public_data_report_etl_spark.sources.export import (
    DEFAULT_USAGE_ANNOTATIONS,
    ReportUploader,
    fxhealth_records,
    merge_usage_annotations,
    validate_cohorts,
    write_json_report,
)


class RecordingClient:
    def __init__(self):
        self.calls = []

    def upload(self, path, payload, content_type):
        self.calls.append((path, content_type))


def test_upload_dryrun_makes_zero_calls():
    client = RecordingClient()
    up = ReportUploader(client)
    n = up.upload_latest_and_archive("{}", "latest.json", "2024-01-01.json", dryrun=True)
    assert n == 0
    assert client.calls == []


def test_upload_writes_latest_and_archive():
    client = RecordingClient()
    up = ReportUploader(client)
    n = up.upload_latest_and_archive("{}", "latest.json", "2024-01-01.json")
    assert n == 2
    assert [c[0] for c in client.calls] == ["latest.json", "2024-01-01.json"]


def test_write_json_report_dryrun(tmp_path):
    p = tmp_path / "r.json"
    assert not write_json_report([{"a": 1}], str(p), dryrun=True)
    assert not p.exists()
    assert write_json_report([{"a": 1}], str(p))
    assert json.loads(p.read_text()) == [{"a": 1}]


def test_merge_usage_annotations_appends_defaults():
    static = {"US": [{"annotation": "static note", "date": "2023-12-01"}]}
    merged = merge_usage_annotations(static, ["US", "DE"])
    assert merged["US"][0]["annotation"] == "static note"
    assert merged["US"][1:] == DEFAULT_USAGE_ANNOTATIONS
    assert merged["DE"] == DEFAULT_USAGE_ANNOTATIONS
    # produced countries == requested countries exactly
    assert set(merged) == {"US", "DE"}


def test_validate_cohorts():
    missing, unexpected = validate_cohorts({"a", "b"}, {"a", "b", "c"})
    assert missing == {"c"} and unexpected == set()
    missing, unexpected = validate_cohorts({"a", "x"}, {"a"})
    assert missing == set() and unexpected == {"x"}


def test_fxhealth_records_shape(spark, sf_dir):
    from firefox_public_data_report_etl_spark.plans import QUERIES

    weekly = QUERIES["user_activity_flagship"](spark, sf_dir)
    recs = fxhealth_records(weekly)
    assert "Worldwide" in recs
    first = recs["Worldwide"][0]
    assert set(first) == {"date", "metrics"}
    assert set(first["metrics"]) == {
        "mau",
        "avg_daily_usage",
        "intensity",
        "new_profile_rate",
        "latest_version_ratio",
    }


def test_write_jsonl_shards_bounds_file_records(spark, tmp_path):
    import glob
    import json as _json

    from firefox_public_data_report_etl_spark.sources.export import (
        write_jsonl_shards,
    )

    docs = spark.range(1000).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t"), F.col("id")).alias("text"),
    )
    path = str(tmp_path / "jsonl")
    write_jsonl_shards(
        docs.repartition(2), path, max_records_per_file=100,
        order_col="doc_id",
    )
    files = sorted(glob.glob(f"{path}/part-*"))
    assert len(files) >= 10  # 1000 rows / 100-record bound
    seen = []
    for f in files:
        with open(f) as fh:
            rows = [_json.loads(ln) for ln in fh if ln.strip()]
        assert 0 < len(rows) <= 100
        ids = [r["doc_id"] for r in rows]
        assert ids == sorted(ids)  # in-file order respected
        seen.extend(ids)
    assert sorted(seen) == list(range(1000))


def test_training_shards_rerun_keeps_unwritten_shards(spark, tmp_path):
    """A rerun overwrites only the shards it writes, also on a session
    whose partition overwrite mode is Spark's default ``static``."""
    from firefox_public_data_report_etl_spark.sources.export import (
        write_training_shards,
    )

    docs = spark.range(40).select(
        F.col("id").alias("doc_id"),
        F.concat(F.lit("t "), F.col("id")).alias("text"),
    )
    path = str(tmp_path / "shards")
    key = "spark.sql.sources.partitionOverwriteMode"
    old = spark.conf.get(key)
    spark.conf.set(key, "static")
    try:
        write_training_shards(docs, path)
        first = {
            r.doc_id: r.shard for r in spark.read.parquet(path).collect()
        }
        write_training_shards(docs.filter(F.col("doc_id") == 0), path)
    finally:
        spark.conf.set(key, old)
    after = {r.doc_id: r.shard for r in spark.read.parquet(path).collect()}
    assert len(set(first.values())) > 1
    assert after == {
        d: s for d, s in first.items() if d == 0 or s != first[0]
    }
