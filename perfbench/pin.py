#!/usr/bin/env python3
"""Pins the expected output fingerprints per seed into pins.json.

    python3 perfbench/pin.py --seeds 0-49 [--workloads headline,curation,report_jobs]

Registry workloads are pinned from the DuckDB oracles on the seed's
generated inputs (no Spark involved).  ``report_jobs`` has no oracle:
its pins are the fingerprints of the JSON files and parquet row counts
the CLI jobs write, taken only when the outputs pass the structural
checks in ``run.ReportJobs``.  Inputs are generated into a scratch
directory under ``.perfbench`` and removed afterwards.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)
sys.path.insert(0, os.path.dirname(HERE))

import check  # noqa: E402
import gen  # noqa: E402
import run  # noqa: E402


def _seeds(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += range(int(lo), int(hi or lo) + 1)
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seeds", required=True, help="e.g. 0-49 or 1,5,7")
    ap.add_argument("--workloads", default="headline,curation,report_jobs")
    args = ap.parse_args()
    seeds = _seeds(args.seeds)
    workloads = args.workloads.split(",")

    work = os.path.join(run.STATE, f"pin-{os.getpid()}")
    run.configure_env(work)
    try:
        pins: dict = {}
        if os.path.exists(check.PINS_PATH):
            with open(check.PINS_PATH) as f:
                pins = json.load(f)
        for w in ("headline", "curation"):
            if w in workloads:
                pin_registry(pins, w, seeds, work)
        if "report_jobs" in workloads:
            pin_reports(pins, seeds, work)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    return 0


def _save(pins: dict) -> None:
    with open(check.PINS_PATH, "w") as f:
        json.dump(pins, f, indent=1, sort_keys=True)
        f.write("\n")


def pin_registry(pins: dict, workload: str, seeds: list[int], work: str) -> None:
    from firefox_public_data_report_etl_spark.plans import ORACLES
    from firefox_public_data_report_etl_spark.testing import duckdb_connection

    names = run.HEADLINE if workload == "headline" else run.CURATION
    sf = run.WORKLOAD_SF[workload]
    for seed in seeds:
        d = os.path.join(work, f"tables-{seed}")
        gen.registry_tables(d, sf, seed)
        con = duckdb_connection(d)
        got = {}
        for n in names:
            h, rows = check.oracle_fingerprint(con, ORACLES[n])
            if rows > 1:
                got[n] = h
            else:
                print(f"{workload} seed {seed}: {n} has {rows} rows, not pinned")
        con.close()
        shutil.rmtree(d)
        pins.setdefault(workload, {})[str(seed)] = got
        _save(pins)
        print(f"{workload} seed {seed}: {len(got)} pins", flush=True)


def pin_reports(pins: dict, seeds: list[int], work: str) -> None:
    from firefox_public_data_report_etl_spark import session

    spark = session.get_spark(app_name="perfbench-pin", extra_conf=run.spark_conf(work))
    try:
        for seed in seeds:
            cache = os.path.join(work, f"cache-{seed}")
            wl = run.ReportJobs(seed, False, work, cache)
            got = {}
            for n in wl.ops():
                h, rows = wl.fingerprint(n, wl.run(spark, n, None, "pin")[1])
                if not h.startswith("bad:") and rows > 1:
                    got[n] = h
                else:
                    print(f"report_jobs seed {seed}: {n} failed its checks: {h}")
            wl.end_pass("pin")
            shutil.rmtree(cache)
            pins.setdefault("report_jobs", {})[str(seed)] = got
            _save(pins)
            print(f"report_jobs seed {seed}: {len(got)} pins", flush=True)
    finally:
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
