"""Order-independent output fingerprints and the expected values they
are compared with.

A registry query's fingerprint is the SHA-256 of its sorted, normalized
rows, so Spark ``collect()`` rows and DuckDB ``fetchall()`` rows of the
same result hash alike.  A CLI job's fingerprint covers the JSON files
it wrote (parsed, lists sorted, floats rounded to 12 significant
digits) and the row count of the parquet it wrote.

Expected fingerprints come from ``pins.json`` (written by ``pin.py``)
when the seed is pinned.  For any other seed, registry queries are
compared with their DuckDB oracle run on the same generated inputs,
and CLI jobs with the first pass of the run plus structural checks.
"""

from __future__ import annotations

import datetime
import decimal
import hashlib
import json
import math
import os

import pyarrow.parquet as pq

PINS_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "pins.json")


def _norm(v):
    if v is None:
        return None
    if isinstance(v, float):
        return None if math.isnan(v) else ("f", repr(v))
    if isinstance(v, bool):
        return ("b", v)
    if isinstance(v, int):
        return ("i", v)
    if isinstance(v, decimal.Decimal):
        return ("dec", str(v))
    if isinstance(v, datetime.datetime):
        return ("ts", v.isoformat())
    if isinstance(v, datetime.date):
        return ("d", v.isoformat())
    if isinstance(v, str):
        return ("s", v)
    if isinstance(v, (bytes, bytearray, memoryview)):
        return ("x", bytes(v).hex())
    if hasattr(v, "asDict"):  # pyspark Row (struct)
        v = v.asDict()
    if isinstance(v, dict):  # struct or map, keyed by name
        return ("m", tuple(sorted(((_norm(k), _norm(x)) for k, x in v.items()), key=repr)))
    if isinstance(v, (list, tuple)):
        return ("a", tuple(_norm(x) for x in v))
    return ("o", repr(v))


def rows_fingerprint(columns: list[str], rows) -> tuple[str, int]:
    """(hash, row count) of ``rows`` (sequences aligned with
    ``columns``), independent of row and column order."""
    order = sorted(range(len(columns)), key=lambda i: columns[i])
    lines = sorted(repr(tuple(_norm(r[i]) for i in order)) for r in rows)
    h = hashlib.sha256()
    h.update(repr(sorted(columns)).encode())
    for line in lines:
        h.update(line.encode())
        h.update(b"\n")
    return h.hexdigest()[:32], len(lines)


def spark_fingerprint(rows) -> tuple[str, int]:
    cols = list(rows[0].__fields__) if rows else []
    return rows_fingerprint(cols, rows)


def oracle_fingerprint(con, sql: str) -> tuple[str, int]:
    cur = con.execute(sql)
    cols = [d[0] for d in cur.description]
    return rows_fingerprint(cols, cur.fetchall())


def _canonical(v):
    """JSON value with floats rounded to 12 significant digits and
    every list sorted: the jobs build some lists in ``collect()`` order,
    which Spark does not fix."""
    if isinstance(v, float):
        return float(f"{v:.12g}")
    if isinstance(v, dict):
        return {k: _canonical(x) for k, x in v.items()}
    if isinstance(v, list):
        return sorted((_canonical(x) for x in v), key=lambda x: json.dumps(x, sort_keys=True))
    return v


def files_fingerprint(json_paths: list[str], parquet_dirs: list[str]) -> tuple[str, int]:
    """(hash, record count) over CLI outputs.  The count is JSON
    top-level entries plus parquet rows: the degenerate-output flag."""
    h = hashlib.sha256()
    n = 0
    for p in json_paths:
        with open(p) as f:
            doc = json.load(f)
        n += len(doc)
        h.update(os.path.basename(p).encode())
        h.update(json.dumps(_canonical(doc), sort_keys=True).encode())
    for d in parquet_dirs:
        rows = pq.ParquetDataset(d).read().num_rows
        n += rows
        h.update(f"{os.path.basename(d)}:{rows}".encode())
    return h.hexdigest()[:32], n


def load_pins(workload: str, seed: int) -> dict[str, str]:
    try:
        with open(PINS_PATH) as f:
            return json.load(f).get(workload, {}).get(str(seed), {})
    except FileNotFoundError:
        return {}
