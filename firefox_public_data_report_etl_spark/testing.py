"""Self-check harness mirroring the driver's correctness gate.

Runs a Spark query and its DuckDB oracle on the same parquet tables and
compares row count, column names, and the order-insensitive multiset of
row values (exact — the engine's queries are designed to be
bit-deterministic across engines; see functions.core docstring).
"""

from __future__ import annotations

import datetime
import math
import os
import tempfile
import uuid

import pandas as pd

from firefox_public_data_report_etl_spark.sources import TABLES


# Oracle connections get a fixed memory cap and spill under the temp
# dir instead of DuckDB's defaults (80% of host RAM, ``.tmp`` under the
# current directory), so a runaway oracle fails on its own instead of
# filling the disk and then the host's memory.  Threads keep DuckDB's
# default, so bench.py's DuckDB controls stay comparable.
ORACLE_MEMORY_LIMIT = "6GiB"


def duckdb_connection(sf_dir: str):
    """A DuckDB connection with every source table as a view over
    ``sf_dir``.  Its spill directory is made only when a query spills
    and is removed by DuckDB when the connection closes."""
    import duckdb

    spill = os.path.join(tempfile.gettempdir(), f"duckdb-oracle-{uuid.uuid4().hex}")
    con = duckdb.connect(
        config={"memory_limit": ORACLE_MEMORY_LIMIT, "temp_directory": spill}
    )
    for t in TABLES:
        con.execute(
            f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def _norm_value(v):
    if v is None or (isinstance(v, float) and math.isnan(v)):
        return None
    if isinstance(v, float):
        return ("f", repr(v))
    if isinstance(v, (pd.Timestamp, datetime.datetime)):
        return ("ts", pd.Timestamp(v).isoformat())
    if isinstance(v, datetime.date):
        return ("d", v.isoformat())
    if isinstance(v, (int,)):
        return ("i", int(v))
    return ("s", str(v))


def _normalize(df: pd.DataFrame) -> list[tuple]:
    cols = sorted(df.columns)
    out = []
    for row in df[cols].itertuples(index=False, name=None):
        out.append(tuple(_norm_value(v) for v in row))
    out.sort(key=repr)
    return out


def compare_frames(spark_pdf: pd.DataFrame, oracle_pdf: pd.DataFrame) -> list[str]:
    """Returns a list of mismatch descriptions (empty = match)."""
    problems: list[str] = []
    if sorted(spark_pdf.columns) != sorted(oracle_pdf.columns):
        problems.append(
            f"columns differ: spark={sorted(spark_pdf.columns)} "
            f"oracle={sorted(oracle_pdf.columns)}"
        )
        return problems
    if len(spark_pdf) != len(oracle_pdf):
        problems.append(f"row count: spark={len(spark_pdf)} oracle={len(oracle_pdf)}")
    s, o = _normalize(spark_pdf), _normalize(oracle_pdf)
    if s != o:
        diff_s = [r for r in s if r not in set(map(tuple, o))][:3]
        diff_o = [r for r in o if r not in set(map(tuple, s))][:3]
        problems.append(
            f"values differ; spark-only sample={diff_s} oracle-only sample={diff_o}"
        )
    return problems


def check_query(spark, name: str, sf_dir: str) -> list[str]:
    from firefox_public_data_report_etl_spark.plans import ORACLES, QUERIES

    sdf = QUERIES[name](spark, sf_dir).toPandas()
    if name not in ORACLES:
        return [] if len(sdf) > 0 else [f"rows-only query {name} returned 0 rows"]
    con = duckdb_connection(sf_dir)
    odf = con.execute(ORACLES[name]).fetchdf()
    return compare_frames(sdf, odf)
