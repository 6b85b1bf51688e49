"""Session factory settings that only show on a session it starts.

The suite's ``spark`` fixture is a bare session that owns the JVM, and
``spark.sql.codegen.cache.maxEntries`` is a static conf, so these
checks run ``get_spark`` in a child process of their own."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Builds the tests/test_cli.py inputs, then runs the three CLI jobs
# twice and prints the Janino compile count of each round.
_CHILD = textwrap.dedent(
    """
    import json
    import sys
    from pathlib import Path

    from firefox_public_data_report_etl_spark.cli import main
    from firefox_public_data_report_etl_spark.session import get_spark
    from tests.test_hardware_pipeline import RAW_DEVICE_MAP, _input_df
    from tests.test_user_activity_pipeline import _buildhub, _clients, _countries

    root = Path(sys.argv[1])
    spark = get_spark(app_name="codegen-cache-check")
    _clients(spark).write.parquet(str(root / "clients"))
    _countries(spark).write.parquet(str(root / "countries"))
    _buildhub(spark).write.parquet(str(root / "buildhub"))
    _input_df(spark).write.parquet(str(root / "hardware_input"))
    (root / "device_map.json").write_text(json.dumps(RAW_DEVICE_MAP))
    metric = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    compiles = []
    for rnd in range(2):
        out = root / f"out{rnd}"
        before = metric.METRIC_COMPILATION_TIME().getCount()
        for argv in (
            ["hardware_report", "--date_from", "2024-01-01",
             "--input_path", str(root / "hardware_input"),
             "--device_map", str(root / "device_map.json"),
             "--output_path", str(out / "hw_parquet"),
             "--report_path", str(out / "hw.json")],
            ["user_activity",
             "--clients_path", str(root / "clients"),
             "--countries_path", str(root / "countries"),
             "--buildhub_path", str(root / "buildhub"),
             "--output_dir", str(out / "ua"),
             "--date_from", "2018-12-31", "--date_to", "2025-01-01"],
            ["annotations", "--date_to", "2024-02-05",
             "--buildhub_path", str(root / "buildhub"),
             "--output_dir", str(out / "ann")],
        ):
            assert main(argv) == 0, argv
        compiles.append(metric.METRIC_COMPILATION_TIME().getCount() - before)
    spark.stop()
    print("COMPILES " + json.dumps(compiles))
    """
)


def test_cli_jobs_compile_nothing_when_run_again(tmp_path):
    """A second run of the three CLI jobs in one session reuses every
    generated class of the first: stage ids stay out of class names and
    the code cache holds the working set."""
    env = dict(os.environ)
    env["PYTHONPATH"] = os.pathsep.join(p for p in (REPO, env.get("PYTHONPATH")) if p)
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g")
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        env.pop(k, None)
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, str(tmp_path)],
        cwd=tmp_path,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    lines = [l for l in proc.stdout.splitlines() if l.startswith("COMPILES ")]
    assert proc.returncode == 0 and lines, proc.stderr[-3000:]
    first, second = json.loads(lines[-1].split(" ", 1)[1])
    assert first > 0
    assert second == 0, f"{second} classes compiled again (first round: {first})"
