"""Winnowing fingerprints (operators/text.py:winnow_fingerprints):
exact agreement with an independent plain-Python implementation of
the Schleimer/Wilkerson/Aiken selection rule (min per window,
rightmost on ties), and the paper's guarantee — two documents sharing
a substring of length >= w + k - 1 always share a selected
fingerprint."""

from __future__ import annotations

import hashlib

from pyspark.sql import functions as F

from firefox_public_data_report_etl_spark.operators.text import (
    FINGERPRINT_GRAM,
    WINNOW_W,
    winnow_fingerprints,
)


def _md5_int(s: str, nibbles: int = 7) -> int:
    return int(hashlib.md5(s.encode()).hexdigest()[:nibbles], 16)


def _py_winnow(text: str, k: int = FINGERPRINT_GRAM, w: int = WINNOW_W):
    n = len(text) - k + 1
    if n < w:
        return set()
    hs = [_md5_int(text[i : i + k]) for i in range(n)]
    sel = set()
    for s in range(n - w + 1):
        window = hs[s : s + w]
        m = min(window)
        # rightmost occurrence of the min
        p = s + max(i for i, h in enumerate(window) if h == m)
        sel.add((p + 1, hs[p]))  # 1-based positions, like the operator
    return sel


def test_agrees_with_python_reference(spark, sf_dir):
    docs = (
        spark.read.parquet(f"{sf_dir}/documents.parquet")
        .filter(F.col("doc_id") < 40)
        .select("doc_id", "text")
    )
    got: dict[int, set] = {}
    for r in winnow_fingerprints(docs).collect():
        got.setdefault(r.doc_id, set()).add((r.sel_pos, r.h))
    texts = {r.doc_id: r.text for r in docs.collect()}
    for doc_id, text in texts.items():
        want = _py_winnow(text)
        assert got.get(doc_id, set()) == want, doc_id


def test_tie_rule_rightmost(spark):
    # a periodic string repeats every k-gram, forcing hash ties inside
    # every window — the selection must still be deterministic and
    # agree with the rightmost-min reference
    text = "abcab" * 10
    df = spark.createDataFrame([(1, text)], "doc_id long, text string")
    got = {
        (r.sel_pos, r.h) for r in winnow_fingerprints(df).collect()
    }
    assert got == _py_winnow(text)
    assert got  # ties selected something, not nothing


def test_shared_substring_guarantee(spark):
    t = WINNOW_W + FINGERPRINT_GRAM - 1
    shared = "qwertyuiopasdfghjkl"[: t + 3]  # > t chars, distinctive
    a = "AAAA" + shared + "BBBBBBBBBB"
    b = "CCCCCCCCC" + shared + "DDDD"
    df = spark.createDataFrame(
        [(1, a), (2, b)], "doc_id long, text string"
    )
    sel = winnow_fingerprints(df).collect()
    h1 = {r.h for r in sel if r.doc_id == 1}
    h2 = {r.h for r in sel if r.doc_id == 2}
    assert h1 & h2, "guaranteed shared fingerprint missing"


def test_density_near_expected(spark, sf_dir):
    # selection density ~ 2/(w+1) of window starts (paper, §4);
    # allow a wide band — the point is "a fraction", not "everything"
    from firefox_public_data_report_etl_spark.plans.text import (
        document_winnowing,
    )

    rows = document_winnowing(spark, sf_dir).collect()
    assert rows
    total_sel = sum(r.n_selected for r in rows)
    total_win = sum(r.n_windows for r in rows)
    frac = total_sel / total_win
    assert 0.1 < frac < 0.5  # 2/(w+1) = 0.222 at w=8


def test_pos_cap_overflow_fails_loudly(spark):
    """A document with >= _WINNOW_POS_CAP gram positions must raise at
    execution, not silently pack colliding keys (round-11 ADVICE fix).
    Exercised with a tiny temporary cap via monkeypatched constant —
    the guard reads the module constant at plan-build time."""
    import pytest
    from firefox_public_data_report_etl_spark.operators import text as T

    doc = spark.createDataFrame(
        [(1, "abcdefghijklmnopqrstuvwxyz0123456789abcdefghijkl")],
        "doc_id long, text string",
    )
    old = T._WINNOW_POS_CAP
    T._WINNOW_POS_CAP = 16  # doc has 48 - 4ks... > 16 gram positions
    try:
        with pytest.raises(Exception, match="_WINNOW_POS_CAP"):
            T.winnow_fingerprints(doc).collect()
    finally:
        T._WINNOW_POS_CAP = old
    # conforming doc still selects fine at the real cap
    assert T.winnow_fingerprints(doc).count() > 0


def test_array_native_selection_boundary_lengths(spark):
    """The array-native Arrow selection (round-12 rewrite) agrees
    with the plain-Python reference at every boundary shape: the
    shortest admissible document (exactly one window, len = k+w-1),
    one-past boundaries, repeated-alphabet tie storms, and documents
    spread across several Arrow batches (maxRecordsPerBatch forced
    tiny so batch edges fall inside the doc set)."""
    import random

    from firefox_public_data_report_etl_spark.operators import text as T

    rnd = random.Random(42)
    t = WINNOW_W + FINGERPRINT_GRAM - 1
    lengths = [t, t + 1, t + 2, 30, 31, 32, 33, 64, 97, 200]
    rows = [
        (i, "".join(rnd.choice("abcd") for _ in range(n)))
        for i, n in enumerate(lengths)
    ]
    rows.append((len(rows), "ab" * t))  # periodic: ties in every window
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch")
    try:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "3")
        got: dict[int, set] = {}
        for r in T.winnow_fingerprints(docs).collect():
            got.setdefault(r.doc_id, set()).add((r.sel_pos, r.h))
    finally:
        spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)
    for doc_id, text in rows:
        assert got.get(doc_id, set()) == _py_winnow(text), doc_id
    # the one-window doc selected exactly one fingerprint
    assert len(got[0]) == 1


def test_doc_stats_agree_with_rollup(spark, sf_dir):
    """winnow_doc_stats (in-kernel rollup, zero shuffles) equals the
    groupBy/countDistinct aggregate over winnow_fingerprints rows."""
    from firefox_public_data_report_etl_spark.operators.text import (
        winnow_doc_stats,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet").filter(
        F.col("doc_id") < 200
    )
    want = {
        (r.doc_id, r.n_grams, r.n_selected, r.n_distinct_h, r.fp_min)
        for r in winnow_fingerprints(docs)
        .groupBy("doc_id")
        .agg(
            F.first("n_grams").alias("n_grams"),
            F.count("*").alias("n_selected"),
            F.countDistinct("h").alias("n_distinct_h"),
            F.min("h").alias("fp_min"),
        )
        .collect()
    }
    got = {
        (r.doc_id, r.n_grams, r.n_selected, r.n_distinct_h, r.fp_min)
        for r in winnow_doc_stats(docs).collect()
    }
    assert got == want and got
