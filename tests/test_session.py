"""Session factory settings that only show on a session it starts.

The suite's ``spark`` fixture is a bare session that owns the JVM, and
``spark.sql.codegen.cache.maxEntries`` and the driver's Java options
take effect only at launch, so these checks share one child process
that starts ``get_spark`` itself.  The child runs from a directory
outside the repository with ``PYTHONPATH`` unset and puts the repository
on ``sys.path`` itself, its temp dir is a directory of the test's own,
and its ``SPARK_CONF_DIR`` holds a ``spark-defaults.conf`` that sets
the two launch settings ``get_spark`` extends."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import textwrap

import pytest
from conftest import SF_SMOKE
from pyspark.sql import SparkSession

from firefox_public_data_report_etl_spark.session import TIERED_C2, get_spark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
PROBE_OPT = "-Dfpdr.session.probe=1"
ADMIN_OPT = "-Dfpdr.session.admin=1"

# Prints one JSON line per check: the driver JVM's JIT tier cap and
# whether a caller's extraJavaOptions and the defaults file's
# defaultJavaOptions reached it; whether a Python UDF imports the
# package, and a module on the defaults file's executor PYTHONPATH;
# then, after building the tests/test_cli.py inputs and running the
# three CLI jobs twice, the Janino compile count of each round.  Last,
# it runs the served BM25 probe at sf0.001 and exits.
_CHILD = textwrap.dedent(
    """
    import json
    import sys
    from pathlib import Path

    sys.path.insert(0, sys.argv[2])

    from firefox_public_data_report_etl_spark.cli import main
    from firefox_public_data_report_etl_spark.plans import QUERIES
    from firefox_public_data_report_etl_spark.session import get_spark
    from tests.test_hardware_pipeline import RAW_DEVICE_MAP, _input_df
    from tests.test_user_activity_pipeline import _buildhub, _clients, _countries

    def report(key, value):
        print("CHECK " + json.dumps([key, value]), flush=True)

    root = Path(sys.argv[1])
    probe_opt = sys.argv[3]
    spark = get_spark(
        app_name="session-check",
        extra_conf={"spark.driver.extraJavaOptions": probe_opt},
    )
    jvm = spark._jvm
    mf = jvm.java.lang.management.ManagementFactory
    hotspot = mf.getPlatformMXBean(
        jvm.java.lang.Class.forName("com.sun.management.HotSpotDiagnosticMXBean")
    )
    report("tiered_stop_at_level", hotspot.getVMOption("TieredStopAtLevel").getValue())
    jvm_args = list(mf.getRuntimeMXBean().getInputArguments())
    report("caller_option", probe_opt in jvm_args)
    report("defaults_option", sys.argv[5] in jvm_args)

    def udf_import(name):
        def load(_):
            import importlib

            return importlib.import_module(name).__name__

        try:
            return spark.range(1).rdd.map(load).collect()[0]
        except Exception as e:
            return f"{type(e).__name__}: {e}"[-2000:]

    report("udf_import", udf_import("firefox_public_data_report_etl_spark"))
    report("defaults_udf_import", udf_import("fpdr_defaults_probe"))

    _clients(spark).write.parquet(str(root / "clients"))
    _countries(spark).write.parquet(str(root / "countries"))
    _buildhub(spark).write.parquet(str(root / "buildhub"))
    _input_df(spark).write.parquet(str(root / "hardware_input"))
    (root / "device_map.json").write_text(json.dumps(RAW_DEVICE_MAP))
    metric = jvm.org.apache.spark.metrics.source.CodegenMetrics
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
    report("compiles", compiles)

    report("bm25_rows", len(QUERIES["corpus_bm25_probe"](spark, sys.argv[4]).collect()))
    spark.stop()
    """
)


@pytest.fixture(scope="module")
def child(tmp_path_factory):
    """Runs ``_CHILD`` once; returns its checks and its temp dir."""
    root = tmp_path_factory.mktemp("session_child")
    tmpdir = root / "tmp"
    tmpdir.mkdir()
    lib = root / "defaults_lib"
    lib.mkdir()
    (lib / "fpdr_defaults_probe.py").write_text("")
    conf_dir = root / "conf"
    conf_dir.mkdir()
    (conf_dir / "spark-defaults.conf").write_text(
        f"spark.driver.defaultJavaOptions  {ADMIN_OPT}\n"
        f"spark.executorEnv.PYTHONPATH  {lib}\n"
    )
    env = dict(os.environ)
    env.pop("PYTHONPATH", None)
    env.update(
        SPARK_GRAFT_CPUS="2",
        SPARK_GRAFT_DRIVER_MEM="1g",
        TMPDIR=str(tmpdir),
        SPARK_CONF_DIR=str(conf_dir),
    )
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        env.pop(k, None)
    proc = subprocess.run(
        [sys.executable, "-c", _CHILD, str(root), REPO, PROBE_OPT, SF_SMOKE, ADMIN_OPT],
        cwd=root,
        env=env,
        capture_output=True,
        text=True,
        timeout=600,
    )
    checks = dict(
        json.loads(l.split(" ", 1)[1])
        for l in proc.stdout.splitlines()
        if l.startswith("CHECK ")
    )
    return proc, checks, tmpdir


def _check(child, key):
    proc, checks, _ = child
    assert key in checks, proc.stderr[-3000:]
    return checks[key]


def test_driver_jvm_compiles_with_c1_only_next_to_caller_options(child):
    """``get_spark`` caps the driver's JIT at C1 through
    ``defaultJavaOptions``, and a caller's ``extraJavaOptions`` still
    reach the same JVM."""
    assert _check(child, "tiered_stop_at_level") == "1"
    assert _check(child, "caller_option") is True


def test_defaults_file_launch_settings_are_extended_not_replaced(child):
    """``spark-defaults.conf``'s ``defaultJavaOptions`` and executor
    ``PYTHONPATH`` still apply next to the values ``get_spark`` adds."""
    assert _check(child, "defaults_option") is True
    assert _check(child, "defaults_udf_import") == "fpdr_defaults_probe"


def test_udf_imports_package_from_driver_sys_path(child):
    """A Python worker imports the package when only the driver's
    ``sys.path`` holds it: no ``PYTHONPATH``, a foreign working dir."""
    assert _check(child, "udf_import") == "firefox_public_data_report_etl_spark"


def test_cli_jobs_compile_nothing_when_run_again(child):
    """A second run of the three CLI jobs in one session reuses every
    generated class of the first: stage ids stay out of class names and
    the code cache holds the working set."""
    first, second = _check(child, "compiles")
    assert first > 0
    assert second == 0, f"{second} classes compiled again (first round: {first})"


def test_bm25_probe_index_is_removed_at_exit(child):
    """``corpus_bm25_probe`` builds its index in the temp dir; the
    process that built it removes it when it exits."""
    proc, _, tmpdir = child
    assert _check(child, "bm25_rows") > 1
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert not list(tmpdir.glob("fpdr_bm25_probe_index_*"))


def test_tiered_c2_conf_overrides_the_c1_flag(monkeypatch, tmp_path):
    """A session started with ``extra_conf=TIERED_C2`` gets HotSpot's
    default tiers back: its level follows the C1 flag in the driver's
    Java options, and the JVM takes the last of a repeated flag."""
    monkeypatch.setenv("SPARK_CONF_DIR", str(tmp_path))
    monkeypatch.setattr(SparkSession.Builder, "getOrCreate", lambda b: dict(b._options))
    opts = get_spark(extra_conf=TIERED_C2)
    assert opts["spark.driver.defaultJavaOptions"].split() == [
        "-XX:TieredStopAtLevel=1",
        "-XX:TieredStopAtLevel=4",
    ]
