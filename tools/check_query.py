"""Single-query oracle check — same compare as tools/gate_run.py but
over only the names given on the CLI, for fast iteration while adding
registry entries.

Usage::

    python tools/check_query.py dedup_prefix_filter [more...]
    SF_DIR=/root/testdata/sf0.001 python tools/check_query.py name
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.gate_run import _value_hash  # noqa: E402


def main() -> int:
    import __spark_entry__ as entrymod
    from firefox_public_data_report_etl_spark import get_spark
    from firefox_public_data_report_etl_spark.testing import duckdb_connection

    sf_dir = os.environ.get("SF_DIR", "/root/testdata/sf0.01")
    names = sys.argv[1:]
    spark = get_spark(
        app_name="check_query", master="local[8]", shuffle_partitions=8
    )
    con = duckdb_connection(sf_dir)
    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    rc = 0
    for name in names:
        sdf = queries[name](spark, sf_dir).toPandas()
        if name not in oracles:
            print(f"{name}: rows-only, {len(sdf)} rows")
            continue
        odf = con.execute(oracles[name]).fetchdf()
        scols, ocols = sorted(sdf.columns), sorted(odf.columns)
        rows = len(sdf) == len(odf)
        schema = scols == ocols
        hm = schema and _value_hash(sdf, scols) == _value_hash(odf, ocols)
        ok = rows and schema and hm
        rc |= 0 if ok else 1
        print(
            f"{name}: {'GREEN' if ok else 'FAIL'} rows={len(sdf)}/{len(odf)}"
            f" schema={schema} hash={hm}"
        )
        if not schema:
            print(f"  spark cols: {scols}\n  oracle cols: {ocols}")
        elif not hm and len(sdf) and len(odf):
            print(sdf[scols].sort_values(scols).head(5))
            print(odf[ocols].sort_values(ocols).head(5))
    spark.stop()
    return rc


if __name__ == "__main__":
    raise SystemExit(main())
