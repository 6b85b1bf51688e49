#!/usr/bin/env python
"""Spot-check named registry queries against their DuckDB oracles.

Same row/schema/value-hash comparison as tools/gate_run.py, but only
for the queries named on the command line — the fast loop while
restructuring a query's plan (the full gate run takes ~20 min).

Usage::

    python tools/oracle_check.py SF_DIR name [name ...]
"""

from __future__ import annotations

import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.gate_run import _value_hash  # noqa: E402


def main() -> int:
    sf_dir = sys.argv[1]
    names = sys.argv[2:]

    import __spark_entry__ as entrymod
    from firefox_public_data_report_etl_spark import get_spark
    from firefox_public_data_report_etl_spark.testing import duckdb_connection

    spark = get_spark(
        app_name="oracle_check",
        master="local[8]",
        shuffle_partitions=8,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    con = duckdb_connection(sf_dir)
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    rc = 0
    for name in names:
        try:
            sdf = queries[name](spark, sf_dir).toPandas()
            odf = con.execute(oracles[name]).fetchdf()
            scols, ocols = sorted(sdf.columns), sorted(odf.columns)
            ok = (
                len(sdf) == len(odf)
                and scols == ocols
                and _value_hash(sdf, scols) == _value_hash(odf, ocols)
            )
            print(
                f"{name}: {'GREEN' if ok else 'FAIL'} "
                f"({len(sdf)}/{len(odf)} rows; schema "
                f"{'ok' if scols == ocols else f'{scols} vs {ocols}'})"
            )
            rc |= 0 if ok else 1
        except Exception as e:  # noqa: BLE001
            print(f"{name}: ERR {type(e).__name__}: {e}")
            rc |= 1
    spark.stop()
    return rc


if __name__ == "__main__":
    sys.exit(main())
