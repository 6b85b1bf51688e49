"""HTTP JSON source (injectable transport), packaged static resources,
the partitioned sink's overwrite scope, and session-window
cross-validation."""

from __future__ import annotations

import json

import pytest

from firefox_public_data_report_etl_spark.sources.http_json import (
    fetch_json,
    read_static_json,
)
from firefox_public_data_report_etl_spark.sources.export import (
    merge_usage_annotations,
)


def test_fetch_json_with_fake_transport():
    calls = []

    def opener(uri):
        calls.append(uri)
        return json.dumps({"10de": {"Maxwell": {"GM204": ["13c2"]}}}).encode()

    got = fetch_json("https://example.invalid/gpu.json", opener=opener)
    assert got["10de"]["Maxwell"]["GM204"] == ["13c2"]
    assert calls == ["https://example.invalid/gpu.json"]


def test_fetch_json_propagates_errors():
    def opener(uri):
        raise RuntimeError("HTTP 404")

    with pytest.raises(RuntimeError):
        fetch_json("https://example.invalid/missing.json", opener=opener)


def test_read_static_json_and_merge():
    static = read_static_json("annotations_usage.json")
    assert "Worldwide" in static
    merged = merge_usage_annotations(static, ["Worldwide", "Germany"])
    assert merged["Worldwide"][0]["annotation"] == "testdata corpus generated"
    # defaults appended everywhere, absent countries created
    assert len(merged["Worldwide"]) == 2
    assert len(merged["Germany"]) == 1


def test_write_partitioned_scopes_dynamic_overwrite(spark, tmp_path):
    """The sink replaces only the partitions it writes, and leaves the
    session's own partitionOverwriteMode as it found it."""
    from firefox_public_data_report_etl_spark.sources import write_partitioned

    key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(key, None)
    spark.conf.set(key, "static")
    try:
        path = str(tmp_path / "parts")
        write_partitioned(
            spark.createDataFrame([(1, "a"), (2, "b")], ["v", "p"]), path, ["p"]
        )
        write_partitioned(spark.createDataFrame([(3, "a")], ["v", "p"]), path, ["p"])
        assert spark.conf.get(key) == "static"
        got = sorted((r["p"], r["v"]) for r in spark.read.parquet(path).collect())
        assert got == [("a", 3), ("b", 2)]
    finally:
        if prev is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, prev)


def test_session_window_matches_lag_formulation(spark, sf_dir):
    """Two independent sessionization formulations must agree (modulo
    the measure-zero exact-30-minute-gap boundary, absent in random
    micro-precision data)."""
    from firefox_public_data_report_etl_spark.plans.windowsq import user_sessions
    from firefox_public_data_report_etl_spark.sources import load_table
    from firefox_public_data_report_etl_spark.streaming.sessions import (
        per_user_session_totals,
        session_window_stats,
    )

    lag_based = {
        r["user_id"]: (r["n_sessions"], r["n_events"], r["active_us"])
        for r in user_sessions(spark, sf_dir).collect()
    }
    sw = per_user_session_totals(
        session_window_stats(load_table(spark, sf_dir, "events"))
    )
    window_based = {
        r["user_id"]: (r["n_sessions"], r["n_events"], r["active_us"])
        for r in sw.collect()
    }
    assert lag_based == window_based


def test_session_window_streaming_matches_batch(spark, sf_dir, tmp_path):
    from firefox_public_data_report_etl_spark.sources import load_table
    from firefox_public_data_report_etl_spark.streaming import stream_events
    from firefox_public_data_report_etl_spark.streaming.sessions import (
        session_window_stats,
    )

    batch = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["span_us"])
        for r in session_window_stats(
            load_table(spark, sf_dir, "events")
        ).collect()
    }
    q = (
        session_window_stats(stream_events(spark, sf_dir), watermark="1 hour")
        .writeStream.format("memory")
        .queryName("sessions_test")
        .outputMode("complete")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["user_id"], r["session_start"]): (r["n_events"], r["span_us"])
        for r in spark.sql("SELECT * FROM sessions_test").collect()
    }
    assert got == batch
