#!/usr/bin/env python3
"""pdr-spark benchmark: one command, one workload, one seed.

    python3 perfbench/run.py --workload {report_jobs,headline,curation}
        --seed N --seconds S --trace {0,1} [--smoke]

Runs from the root of a source checkout.  One closed-loop client (this
process) runs one operation at a time on ``local[<cpus / 2>]``:

* ``report_jobs`` -- the three CLI jobs (hardware_report, user_activity,
  annotations) through ``cli.main`` on seeded native-schema inputs;
* ``headline``    -- registry queries from the ``bench.py`` headline set
  at sf0.1, each built and ``collect()``ed;
* ``curation``    -- a BM25 index build and probe and a sink-bound
  tokenizer export at sf0.01 (500 documents).

Each pass runs every operation once, in an order shuffled by the seed;
a run makes at least two passes and starts passes until ``--seconds``
have gone by.  Every
output is fingerprinted outside the timed region and compared with a
pinned or oracle value (see check.py).

The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics``.  ``--trace 0`` reports the end-to-end
metrics (``cpu_s`` is per pass: the sum of every operation's median
over the passes); ``--trace 1`` alternates untraced and traced passes and
reports per-layer metrics, including the tracing overhead, and writes
the spans to ``.perfbench/traces/``.  ``--smoke`` shrinks every input
to the smallest size (used by smoke_test.py).

Input generation is cached per seed under ``.perfbench/cache`` and is
not part of ``setup_s``.
"""

from __future__ import annotations

import argparse
import contextlib
import gc
import io
import json
import os
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PKG = "firefox_public_data_report_etl_spark"
STATE = os.path.join(ROOT, ".perfbench")

# Nine of the fourteen bench.py headline queries: fixed cost per query,
# report-sized outputs, about one construction job per query.  The
# other five (mau_wau_weekly, late_ship_priority, dedup_exact,
# dedup_minhash_lsh, text_quality_scores) repeat shapes already here.
# The workload runs on request but is not listed in BENCHMARK.json:
# each run pays ~25 s of session start and warm-up, and a third listed
# workload would push a full round of benchmark runs past its time
# budget.
HEADLINE = [
    "user_activity_flagship",
    "pricing_summary",
    "regional_revenue",
    "top_customers_per_nation",
    "hardware_dims_grouping_sets",
    "bucket_collapse_ptype",
    "embedding_cosine_topk",
    "user_sessions",
    "tumbling_window_counts",
]

# Curation queries, one per cost shape: corpus_bm25_probe runs ~18
# Spark jobs while its DataFrame is built and writes, then probes, a
# persisted BM25 index; bpe_encode_corpus is bound by its sink (one row
# per token).  A pass of the two takes ~6 s on 2 task threads at sf0.01
# (about what it takes at sf0.001: fixed cost per Spark job dominates).
# retrieval_hybrid_rrf (execution-bound, ~2.5 s per pass and ~4 s of
# warm-up), dedup_semantic, dedup_multimodal_joint, dedup_incremental and
# corpus_curation_pipeline_neardup (another ~13 s per pass) are left out
# so that every run, with its set-up, fits the benchmark's time budget;
# execution is still measured on both queries through the noop sink.
CURATION = [
    "corpus_bm25_probe",
    "bpe_encode_corpus",
]

# Left out on purpose, with the reason.
EXCLUDED = {
    "training_export_decontaminated_composed": (
        "returns 0 rows at sf0.1, so it would time an empty export that "
        "no output check can tell from a broken one"
    ),
}

WORKLOAD_SF = {"headline": 0.1, "curation": 0.01}
MIN_PASSES = 2
SMOKE_SF = 0.001

# The work a pass costs is measured in CPU seconds.  On a shared host the
# wall time of the same pass moved by a third between runs with the
# neighbours' load (CPU time by a tenth), more than any bound a
# regression check can use; it is reported per layer instead
# (``trace.untraced_wall_s``).  No latency percentiles either: a run
# times each operation 2-3 times, too few samples for a percentile with
# ten samples beyond it.
END_TO_END = {"setup_s": "s", "cpu_s": "s"}
PER_LAYER = {
    "session.get_spark_s": "s", "session.peak_rss_mb": "MB",
    "plans.build_s": "s", "plans.build_jobs": "count",
    "plans.exec_s": "s", "plans.exec_jobs": "count",
    "plans.exec_stages": "count", "plans.exec_tasks": "count",
    "plans.shuffle_write_bytes": "bytes", "plans.spill_bytes": "bytes",
    "plans.collect_s": "s", "plans.sink_s": "s", "plans.rows_out": "count",
    "sources.read_bytes": "bytes", "sources.write_bytes": "bytes",
    "sources.files_written": "count", "sources.export_s": "s",
    "cli.hardware_report_s": "s", "cli.user_activity_s": "s",
    "cli.annotations_s": "s", "cli.jobs": "count",
    "trace.wall_s": "s", "trace.untraced_wall_s": "s",
    "trace.overhead_s": "s", "trace.spans": "count",
}


def _die(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr)
    sys.exit(2)


def process_start_time() -> float:
    """Wall-clock time this process started, from /proc."""
    with open("/proc/self/stat") as f:
        ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/stat") as f:
        btime = next(int(line.split()[1]) for line in f if line.startswith("btime"))
    return btime + ticks / os.sysconf("SC_CLK_TCK")


def _proc_table() -> dict[int, tuple[int, float]]:
    """pid -> (ppid, cpu seconds incl. reaped children)."""
    tck = os.sysconf("SC_CLK_TCK")
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        cpu = sum(int(x) for x in fields[11:15]) / tck
        out[int(name)] = (int(fields[1]), cpu)
    return out


def tree_cpu_s() -> float:
    """User+sys CPU of this process and everything it started (the
    driver JVM and its Python workers)."""
    table = _proc_table()
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0.0, [os.getpid()]
    while todo:
        p = todo.pop()
        total += table[p][1] if p in table else 0.0
        todo.extend(kids.get(p, []))
    return total


def vm_hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def configure_env(work: str) -> dict[str, str]:
    """The run environment, set explicitly (and returned for the
    record): half the cores as task threads, a driver heap that fits
    in RAM, the checkout on the Python workers' path, and every scratch
    dir inside ``work``.  The other half is left to the driver's own
    threads (planning, JIT, GC) and the Python workers: with a task
    thread per core they queue for CPU, and on a shared host the wall
    time then follows the neighbours' load."""
    cpus = len(os.sched_getaffinity(0))
    with open("/proc/meminfo") as f:
        mem_gb = int(next(l for l in f if l.startswith("MemTotal")).split()[1]) // 2**20
    env = {
        "SPARK_GRAFT_CPUS": str(max(1, cpus // 2)),
        "SPARK_GRAFT_DRIVER_MEM": f"{max(1, min(4, mem_gb // 4))}g",
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": os.path.join(work, "tmp"),
        "PYTHONPATH": os.pathsep.join(
            p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
        ),
        "PYSPARK_PYTHON": sys.executable,
        "TZ": "UTC",
        # Every JVM (launcher and driver) would otherwise keep its perf
        # counters in /tmp/hsperfdata_<user>, outside the checkout.
        "JAVA_TOOL_OPTIONS": "-XX:-UsePerfData",
    }
    for k in ("SPARK_GRAFT_MASTER", "SPARK_GRAFT_SHUFFLE_PARTITIONS"):
        os.environ.pop(k, None)
    os.environ.update(env)
    time.tzset()
    for d in (env["SPARK_LOCAL_DIRS"], env["TMPDIR"]):
        os.makedirs(d, exist_ok=True)
    tempfile.tempdir = env["TMPDIR"]
    return env


def spark_conf(work: str) -> dict[str, str]:
    return {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
        "spark.sql.warehouse.dir": f"{work}/warehouse",
        # Keep every job and stage of a run in the status store, so a
        # traced pass can read all of them back.
        "spark.ui.retainedJobs": "100000",
        "spark.ui.retainedStages": "100000",
    }


def dir_usage(path: str) -> tuple[int, int]:
    size = files = 0
    for d, _, names in os.walk(path):
        for n in names:
            try:
                size += os.path.getsize(os.path.join(d, n))
                files += 1
            except OSError:
                pass
    return size, files


# --- workloads -----------------------------------------------------------


class Workload:
    """What both workloads share: a pass writes its files under
    ``out_dir(tag)``, which is measured and then removed."""

    def __init__(self, work):
        self.work = work

    def out_dir(self, tag):
        return os.path.join(self.work, "out", tag)

    def end_pass(self, tag):
        shutil.rmtree(self.out_dir(tag), ignore_errors=True)


class Registry(Workload):
    """Registry queries: ``QUERIES[name](spark, sf_dir).collect()``."""

    def __init__(self, names, sf, seed, smoke, work, cache):
        import gen

        super().__init__(work)
        self.names = names
        self.sf = SMOKE_SF if smoke else sf
        self.seed = seed
        self.data = gen.cached(
            gen.registry_tables, f"{cache}/tables-sf{self.sf}-seed{seed}", self.sf, seed
        )

    def ops(self):
        return list(self.names)

    def warm(self, spark, name):
        """Runs on the measured inputs: after a warm pass on smaller
        ones the first measured pass still ran ~30% slow."""
        from firefox_public_data_report_etl_spark.plans import QUERIES

        QUERIES[name](spark, self.data).collect()

    def end_pass(self, tag):
        tempfile.tempdir = os.environ["TMPDIR"]
        super().end_pass(tag)

    def run(self, spark, name, tracer=None, tag="pass"):
        """Runs one query; returns (latency, rows).  Traced, the
        build and collect phases get spans and job groups, and a second
        build is run to completion through the noop sink, so execution
        without the sink is measured from the same starting state.
        Queries that persist an index write it to the temporary
        directory, which points into the pass's ``out_dir``."""
        from firefox_public_data_report_etl_spark.plans import QUERIES

        tempfile.tempdir = self.out_dir(tag)
        os.makedirs(tempfile.tempdir, exist_ok=True)
        if tracer is None:
            t0 = time.perf_counter()
            rows = QUERIES[name](spark, self.data).collect()
            lat = time.perf_counter() - t0
        else:
            with tracer.span("plans.build", jobs=True) as b:
                df = QUERIES[name](spark, self.data)
            with tracer.span("plans.collect", jobs=True) as c:
                rows = df.collect()
            lat = (b["end"] - b["start"]) + (c["end"] - c["start"])
            c["rows"] = len(rows)
            spark.catalog.clearCache()
            with tracer.span("plans.rebuild", jobs=True):
                df = QUERIES[name](spark, self.data)
            with tracer.span("plans.exec", jobs=True):
                df.write.format("noop").mode("overwrite").save()
        return lat, rows

    def fingerprint(self, name, rows):
        import check

        return check.spark_fingerprint(rows)

    def expected(self, workload):
        """name -> fingerprint: pinned for this seed, else the DuckDB
        oracle on the same inputs (cached per seed)."""
        import check

        pins = {} if self.sf == SMOKE_SF else check.load_pins(workload, self.seed)
        missing = [n for n in self.names if n not in pins]
        if not missing:
            return pins
        path = f"{self.data}-oracle.json"
        try:
            with open(path) as f:
                cached = json.load(f)
        except (OSError, ValueError):
            cached = {}
        from firefox_public_data_report_etl_spark.plans import ORACLES
        from firefox_public_data_report_etl_spark.testing import duckdb_connection

        con = duckdb_connection(self.data)
        for n in missing:
            if n not in cached and n in ORACLES:
                cached[n] = check.oracle_fingerprint(con, ORACLES[n])[0]
        con.close()
        with open(path, "w") as f:
            json.dump(cached, f, sort_keys=True)
        return {**cached, **pins}


class ReportJobs(Workload):
    """The three CLI jobs through ``cli.main`` on seeded inputs."""

    JOBS = ("hardware_report", "user_activity", "annotations")

    def __init__(self, seed, smoke, work, cache):
        import gen

        super().__init__(work)
        self.seed = seed
        self.smoke = smoke
        # The warm pass runs on the measured inputs, not the smallest: a
        # job costs about the same on both, and on the smallest ones
        # user_activity raises a TypeError for some seeds (22, for one).
        kind, sizes = ("smoke", gen.SMOKE_REPORT_SIZES) if smoke else ("full", gen.REPORT_SIZES)
        self.inp = gen.cached(
            gen.report_inputs, f"{cache}/report-{kind}-seed{seed}", seed, sizes
        )

    def ops(self):
        return list(self.JOBS)

    def argv(self, name, out, i):
        import gen

        if name == "hardware_report":
            return [
                name, "--date_from", gen.HW_DATE_FROM,
                "--input_path", f"{i}/hardware_input.parquet",
                "--device_map", f"{i}/device_map.json",
                "--output_path", f"{out}/hardware_parquet",
                "--report_path", f"{out}/hardware_report.json",
                "--past_weeks", str(gen.HW_PAST_WEEKS),
            ]
        if name == "user_activity":
            return [
                name, "--clients_path", f"{i}/clients_last_seen.parquet",
                "--countries_path", f"{i}/country_names.parquet",
                "--buildhub_path", f"{i}/buildhub2.parquet",
                "--output_dir", f"{out}/user_activity",
                "--date_from", gen.UA_DATE_FROM, "--date_to", gen.UA_DATE_TO,
            ]
        return [
            name, "--date_to", gen.ANN_DATE_TO,
            "--buildhub_path", f"{i}/buildhub2.parquet",
            "--output_dir", f"{out}/annotations",
        ]

    def _main(self, argv):
        from firefox_public_data_report_etl_spark import cli

        with contextlib.redirect_stdout(io.StringIO()):
            rc = cli.main(argv)
        if rc != 0:
            raise RuntimeError(f"{argv[0]} exited {rc}")

    def warm(self, spark, name):
        self._main(self.argv(name, self.out_dir("warm"), self.inp))

    def run(self, spark, name, tracer=None, tag="pass"):
        """Runs one job; returns (latency, the directory it wrote to)."""
        out = self.out_dir(tag)
        t0 = time.perf_counter()
        self._main(self.argv(name, out, self.inp))
        return time.perf_counter() - t0, out

    def fingerprint(self, name, out):
        import check

        if name == "hardware_report":
            fp = check.files_fingerprint(
                [f"{out}/hardware_report.json"], [f"{out}/hardware_parquet"]
            )
        elif name == "user_activity":
            fp = check.files_fingerprint(
                [f"{out}/user_activity/{f}" for f in ("fxhealth.json", "webusage.json")], []
            )
        else:
            fp = check.files_fingerprint(
                [f"{out}/annotations/annotations_{f}.json"
                 for f in ("fxhealth", "webusage", "hardware")], []
            )
        problem = self.structure_problem(name, out)
        if problem:
            fp = (f"bad:{problem}", fp[1])
        return fp

    def structure_problem(self, name, out):
        """Invariants every seed's output must meet."""
        import gen
        from firefox_public_data_report_etl_spark.plans.user_activity_pipeline import (
            ARMAGADDON_WEEKS,
            COUNTRY_ALLOWLIST,
        )

        def load(p):
            with open(p) as f:
                return json.load(f)

        if name == "hardware_report":
            rows = load(f"{out}/hardware_report.json")
            if len(rows) != gen.HW_PAST_WEEKS + 1:
                return f"{len(rows)} weekly rows"
            for r in rows:
                sums: dict[str, float] = {}
                for k, v in r.items():
                    if k != "date" and v is not None:
                        p = k.split("_", 1)[0]
                        sums[p] = sums.get(p, 0.0) + v
                if any(abs(s - 1.0) > 1e-9 for s in sums.values()):
                    return "ratios do not sum to 1"
        elif name == "user_activity":
            fx = load(f"{out}/user_activity/fxhealth.json")
            web = load(f"{out}/user_activity/webusage.json")
            if "Worldwide" not in fx or set(fx) != set(web) or not set(fx) <= set(COUNTRY_ALLOWLIST):
                return "country set"
            bad = {w.isoformat() for w in ARMAGADDON_WEEKS}
            if any(e["date"] in bad for rows in fx.values() for e in rows):
                return "armagaddon week present"
        else:
            usage = load(f"{out}/annotations/annotations_webusage.json")
            fx = load(f"{out}/annotations/annotations_fxhealth.json")
            if len(usage) != len(COUNTRY_ALLOWLIST) or not fx.get("Worldwide"):
                return "annotation countries"
        return None

    def expected(self, workload):
        import check

        return {} if self.smoke else check.load_pins(workload, self.seed)


# --- the run -------------------------------------------------------------


def hygiene(spark) -> None:
    """Outside the timed region, as bench.py does between samples."""
    spark.catalog.clearCache()
    spark.sparkContext._jvm.System.gc()
    gc.collect()


def main() -> int:
    t_proc = process_start_time()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["report_jobs", "headline", "curation"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument("--smoke", action="store_true", help="smallest inputs")
    args = ap.parse_args()

    if not os.path.isfile(os.path.join(ROOT, PKG, "cli.py")):
        _die(f"no {PKG} package next to {HERE}; run from a source checkout")
    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    try:
        import pyspark  # noqa: F401
    except ImportError:
        _die("pyspark is not installed")

    run_id = f"{args.workload}-seed{args.seed}-{os.getpid()}"
    work = os.path.join(STATE, f"run-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    env = configure_env(work)
    try:
        return _run(args, run_id, work, env, t_proc)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def _run(args, run_id, work, env, t_proc) -> int:
    import spans as sp

    tracer = sp.Tracer(run_id) if args.trace else None
    saved = sp.instrument(tracer) if tracer is not None else []

    t_gen = time.time()
    if args.workload == "report_jobs":
        wl = ReportJobs(args.seed, args.smoke, work, f"{STATE}/cache")
    else:
        names = HEADLINE if args.workload == "headline" else CURATION
        wl = Registry(
            names, WORKLOAD_SF[args.workload], args.seed, args.smoke, work, f"{STATE}/cache"
        )
    gen_s = time.time() - t_gen

    from firefox_public_data_report_etl_spark import session

    spark = session.get_spark(app_name=f"perfbench-{args.workload}", extra_conf=spark_conf(work))
    jvm = jvm_process()
    rng = random.Random(args.seed)
    attempted = failed = 0
    problems: list[str] = []
    try:
        if tracer is not None:
            tracer.sc = spark.sparkContext
            tracer.enabled = False
        for name in wl.ops():
            hygiene(spark)
            try:
                wl.warm(spark, name)
            except Exception as e:  # noqa: BLE001 -- counted, run goes on
                attempted += 1
                failed += 1
                problems.append(f"warm {name}: {type(e).__name__}: {str(e)[:200]}")
        setup_s = time.time() - t_proc - gen_s

        # Measurement: at least two passes.  A third would not fit the
        # time budget of a full round of runs: set-up (session start and
        # a cold pass) already takes about half of each run.  Traced runs
        # alternate untraced and traced passes (untraced, traced, ...),
        # so the overhead is read against untraced passes.
        passes: list[dict] = []
        t_meas = time.perf_counter()
        while True:
            traced = tracer is not None and len(passes) % 2 == 1
            p = run_pass(spark, wl, rng, tracer if traced else None, len(passes))
            passes.append(p)
            attempted += p["attempted"]
            failed += p["failed"]
            problems += p["problems"]
            elapsed = time.perf_counter() - t_meas
            if len(passes) >= MIN_PASSES and elapsed >= args.seconds:
                break

        # Output checks, after all timing.
        expected = wl.expected(args.workload)
        first: dict[str, str] = {}
        for p in passes:
            for name, (h, n) in p["fingerprints"].items():
                want = expected.get(name) or first.setdefault(name, h)
                if h.startswith("bad:") or h != want or n <= 1:
                    failed += 1
                    problems.append(
                        f"check {name}: got {h} ({n} rows), want {want}"
                        + (" [degenerate output]" if n <= 1 else "")
                    )
        if tracer is not None:
            metrics = layer_metrics(tracer, passes)
            metrics["session.peak_rss_mb"] = vm_hwm_mb(jvm.pid)
            os.makedirs(f"{STATE}/traces", exist_ok=True)
            tracer.dump(f"{STATE}/traces/{run_id}.jsonl")
        else:
            metrics = {
                "setup_s": setup_s,
                "cpu_s": op_median_sum(passes, "cpu_by_op"),
            }
    finally:
        sp.uninstrument(saved)
        spark.stop()
        stop_jvm(jvm)

    units = PER_LAYER if args.trace else END_TO_END
    for msg in problems:
        print(f"perfbench: {msg}", file=sys.stderr)
    print(json.dumps({
        "run": run_id, "env": env, "gen_s": round(gen_s, 3),
        "passes": [{k: round(v, 3) for k, v in p["by_op"].items()} for p in passes],
        "excluded": EXCLUDED if args.workload == "curation" else {},
    }, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
    }), flush=True)
    return 0


def run_pass(spark, wl, rng, tracer, index) -> dict:
    """One pass over the workload's operations in seeded order; traced
    when ``tracer`` is given."""
    order = wl.ops()
    rng.shuffle(order)
    tag = f"pass{index}"
    out = {"fingerprints": {}, "attempted": 0, "failed": 0, "problems": [],
           "wall": 0.0, "spans": None, "by_op": {}, "cpu_by_op": {}}
    if tracer is not None:
        tracer.enabled = True
        span_from = len(tracer.spans)
    for name in order:
        hygiene(spark)
        out["attempted"] += 1
        c0 = tree_cpu_s()
        try:
            lat, result = wl.run(spark, name, tracer, tag)
            cpu = tree_cpu_s() - c0
            fp = wl.fingerprint(name, result)
        except Exception as e:  # noqa: BLE001 -- counted, pass goes on
            out["failed"] += 1
            out["problems"].append(f"{name}: {type(e).__name__}: {str(e)[:300]}")
            continue
        out["cpu_by_op"][name] = cpu
        out["by_op"][name] = lat
        out["wall"] += lat
        out["fingerprints"][name] = fp
    if tracer is not None:
        tracer.enabled = False
        out["spans"] = tracer.spans[span_from:]
        tracer.collect_spark(out["spans"])
        out["write_bytes"], out["files_written"] = dir_usage(wl.out_dir(tag))
    wl.end_pass(tag)
    return out


def op_median_sum(passes, key) -> float:
    """The cost of one pass, as the sum over operations of each one's
    median over the passes: an operation slowed by a burst of load
    from outside does not pull the others' figures with it."""
    by_op: dict[str, list[float]] = {}
    for p in passes:
        for name, v in p[key].items():
            by_op.setdefault(name, []).append(v)
    return sum(statistics.median(v) for v in by_op.values())


def layer_metrics(tracer, passes) -> dict:
    """Per-layer numbers: sums over each traced pass, median over the
    traced passes."""
    by_id = {s["id"]: s for s in tracer.spans}

    def under_cli(s):
        while s is not None:
            if s["name"].startswith("cli.") and s["name"] != "cli.main":
                return True
            s = by_id.get(s["parent"])
        return False

    per_pass = []
    for p in passes:
        if p["spans"] is None:
            continue
        spans = p["spans"]

        def named(prefix):
            return [s for s in spans if s["name"] == prefix or s["name"].startswith(prefix + ".")]

        def secs(sel):
            return sum(s["end"] - s["start"] for s in sel)

        def count(sel, key):
            return sum(s.get(key, 0) for s in sel)

        grouped = [s for s in spans if "group" in s]
        # The operation proper: everything but the measurement-only
        # rebuild + noop execution of registry queries.
        op = [s for s in grouped if s["name"] not in ("plans.rebuild", "plans.exec")]
        # Registry queries: execution is the noop-sink run.  CLI jobs:
        # every Spark job they start.
        execs = named("plans.exec") or grouped
        build = named("plans.build") or [s for s in spans if s["name"].endswith("_pipeline")]
        m = {
            "plans.build_s": secs(build),
            "plans.build_jobs": count(build, "jobs"),
            "plans.exec_s": secs(named("plans.exec")),
            "plans.exec_jobs": count(execs, "jobs"),
            "plans.exec_stages": len({st for s in execs for st in s.get("stages", [])}),
            "plans.exec_tasks": count(execs, "tasks"),
            "plans.shuffle_write_bytes": count(execs, "shuffle_write_bytes"),
            "plans.spill_bytes": count(execs, "spill_bytes"),
            "plans.collect_s": secs(named("plans.collect")),
            "plans.rows_out": count(named("plans.collect"), "rows"),
            "sources.read_bytes": count(op, "input_bytes"),
            "sources.write_bytes": p["write_bytes"],
            "sources.files_written": p["files_written"],
            "sources.export_s": secs(named("sources.export")),
            "cli.hardware_report_s": secs(named("cli.hardware_report")),
            "cli.user_activity_s": secs(named("cli.user_activity")),
            "cli.annotations_s": secs(named("cli.annotations")),
            "cli.jobs": count([s for s in grouped if under_cli(s)], "jobs"),
            "trace.wall_s": p["wall"],
            "trace.spans": len(spans),
        }
        m["plans.sink_s"] = m["plans.collect_s"] - m["plans.exec_s"]
        per_pass.append(m)
    out = {k: statistics.median(m[k] for m in per_pass) for k in per_pass[0]}
    out["trace.untraced_wall_s"] = statistics.median(
        p["wall"] for p in passes if p["spans"] is None
    )
    out["trace.overhead_s"] = out["trace.wall_s"] - out["trace.untraced_wall_s"]
    first = next((s for s in tracer.spans if s["name"] == "session.get_spark"), None)
    out["session.get_spark_s"] = first["end"] - first["start"] if first else 0.0
    return out


def jvm_process():
    """The driver JVM that PySpark launched for this process."""
    from pyspark import SparkContext

    return SparkContext._gateway.proc


def stop_jvm(proc) -> None:
    """Shuts the py4j gateway down and waits for the JVM to exit."""
    from pyspark import SparkContext

    with contextlib.suppress(Exception):
        SparkContext._gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    with contextlib.suppress(OSError):
        proc.stdin.close()
    try:
        proc.wait(timeout=20)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait(timeout=10)


if __name__ == "__main__":
    sys.exit(main())
