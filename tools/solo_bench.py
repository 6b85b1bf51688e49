#!/usr/bin/env python
"""Solo per-query measurement: engine best-of-N vs DuckDB best-of-2,
bracketed by the same DuckDB host-drift control bench.py uses.

Usage::

    python tools/solo_bench.py name [name ...]        # sf0.1, n=3
    SOLO_N=5 python tools/solo_bench.py ...

Prints one aligned row per query: engine sec, duck sec, net ratio
(engine minus the 1-row scheduling floor over duck). Methodology
matches bench.py (JIT warm at sf0.001, clearCache between runs,
collect() as the action) so rows are comparable with BENCHLINE
artifacts at the same host state.
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    names = sys.argv[1:]
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    n = int(os.environ.get("SOLO_N", "3"))

    from firefox_public_data_report_etl_spark.session import TIERED_C2, get_spark
    from firefox_public_data_report_etl_spark.plans import ORACLES, QUERIES
    from firefox_public_data_report_etl_spark.testing import duckdb_connection

    spark = get_spark(
        app_name="solo-bench",
        extra_conf={**TIERED_C2, "spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb_connection(sf_dir)

    def duck_best(sql: str, k: int = 2) -> float:
        best = float("inf")
        for _ in range(k):
            t0 = time.perf_counter()
            con.execute(sql).fetchall()
            best = min(best, time.perf_counter() - t0)
        return best

    def floor() -> float:
        from pyspark.sql import functions as F

        best = float("inf")
        for _ in range(3):
            t0 = time.perf_counter()
            spark.range(1).groupBy("id").agg(F.count("*")).collect()
            best = min(best, time.perf_counter() - t0)
        return best

    ctl_pre = duck_best(ORACLES["pricing_summary"], 3)
    fl = floor()
    print(f"control_pre={ctl_pre:.3f} floor={fl:.3f}")
    for name in names:
        fn = QUERIES.get(name)
        if fn is None:
            print(f"{name:42s} NOT IN REGISTRY")
            continue
        spark.sparkContext.setJobDescription(f"solo:{name}")
        try:
            for _ in range(2):
                fn(spark, "/root/testdata/sf0.001").collect()
            best = float("inf")
            for _ in range(n):
                spark.catalog.clearCache()
                t0 = time.perf_counter()
                fn(spark, sf_dir).collect()
                best = min(best, time.perf_counter() - t0)
        except Exception as e:  # noqa: BLE001
            print(f"{name:42s} ERR {type(e).__name__}: {e}")
            continue
        d = duck_best(ORACLES[name]) if name in ORACLES else float("nan")
        ratio = max(best - fl, 0.0) / d if d == d and d > 0 else float("nan")
        print(
            f"{name:42s} engine {best:7.3f}  duck {d:7.3f}"
            f"  net_ratio {ratio:6.2f}"
        )
    ctl_post = duck_best(ORACLES["pricing_summary"], 3)
    print(f"control_post={ctl_post:.3f}")
    spark.stop()


if __name__ == "__main__":
    main()
