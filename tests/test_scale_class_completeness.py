"""Registry scale-class completeness (r7 verdict #7): every query in
the registry must be scale-labeled or scale-clean. Concretely, a
plan containing a PARTITION-LESS window — the shape Spark executes
as ONE WindowExec task, the silent straggler class that
corpus_ccnet_buckets shipped as in r7 — is only allowed when either

  (a) the query is explicitly classed non-"scale" in SCALE_CLASS
      (baseline / streaming_binding), i.e. the bench
      and README already present it as a correctness device with a
      named scale path; or
  (b) the query appears in plans.registry.REPORT_EDGE_WINDOWS with a
      written justification that the window's input cardinality is
      bounded independent of corpus size (a LIMIT K result, a time
      spine, a key-grain rollup, a file listing).

A new query with an unlabeled partition-less window fails this test
by construction — the author must either class it or justify it.
"""

from __future__ import annotations

import re

import pytest

from firefox_public_data_report_etl_spark.plans import (
    QUERIES,
    SCALE_CLASS,
    SCALE_PATH_FOR,
)
from firefox_public_data_report_etl_spark.plans.registry import (
    REPORT_EDGE_WINDOWS,
)


def _partitionless_windows(plan: str) -> list[str]:
    """Window specs with no partition columns, parsed from the
    optimized logical plan: windowspecdefinition(part..., sort...,
    specifiedwindowframe(...)) — partition columns print without an
    ASC/DESC direction, sort fields with one."""
    found = []
    for m in re.finditer(
        r"windowspecdefinition\((.*?)specifiedwindowframe", plan
    ):
        args = m.group(1).strip().rstrip(",").strip()
        if not args:
            found.append("(empty spec)")
            continue
        parts: list[str] = []
        depth, cur = 0, ""
        for ch in args:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                parts.append(cur.strip())
                cur = ""
            else:
                cur += ch
        if cur.strip():
            parts.append(cur.strip())
        if not any(" ASC" not in p and " DESC" not in p for p in parts):
            found.append(args[:80])
    return found


@pytest.mark.full
def test_every_query_is_labeled_classed_or_window_clean(spark):
    sf = "/root/testdata/sf0.001"
    offenders: dict[str, list[str]] = {}
    for name in sorted(QUERIES):
        if SCALE_CLASS.get(name, "scale") != "scale":
            continue  # (a) labeled: bench/README already flag it
        if name in REPORT_EDGE_WINDOWS:
            continue  # (b) justified report edge
        df = QUERIES[name](spark, sf)
        plan = df._jdf.queryExecution().optimizedPlan().toString()
        w = _partitionless_windows(plan)
        if w:
            offenders[name] = w
    assert not offenders, (
        "unlabeled partition-less (single-task) windows — class the "
        "query in SCALE_CLASS or justify it in REPORT_EDGE_WINDOWS: "
        f"{offenders}"
    )


def test_labels_are_consistent():
    """Every non-scale class must name its scale path (how a user
    finds the production form), and every allowlist/scale-path name
    must resolve to a real registry query."""
    for name, cls in SCALE_CLASS.items():
        assert name in QUERIES, f"SCALE_CLASS names unknown query {name}"
        if cls != "scale" and cls != "streaming_binding":
            assert name in SCALE_PATH_FOR, (
                f"{name} is classed {cls} but has no SCALE_PATH_FOR entry"
            )
    for name, target in SCALE_PATH_FOR.items():
        assert target in QUERIES, (
            f"SCALE_PATH_FOR[{name}] -> {target} is not a registry query"
        )
        # r12 verdict #8: a scale path must itself BE a scale path —
        # a baseline pointing at another labeled baseline would send
        # users chasing a chain instead of a production form
        assert SCALE_CLASS.get(target, "scale") == "scale", (
            f"SCALE_PATH_FOR[{name}] -> {target} is classed "
            f"{SCALE_CLASS.get(target)} — the named scale path must "
            "be a production ('scale') query"
        )
    for name, why in REPORT_EDGE_WINDOWS.items():
        assert name in QUERIES, (
            f"REPORT_EDGE_WINDOWS names unknown query {name}"
        )
        assert len(why) > 20, f"{name}: justification must be substantive"


def test_ccnet_exact_form_guard_fires(spark, monkeypatch):
    """The motivating red-then-green case: the exact tercile form
    must refuse oversized corpora and name the sketch twin."""
    from firefox_public_data_report_etl_spark.plans import text as t

    monkeypatch.setattr(t, "CCNET_EXACT_MAX_DOCS", 10)
    with pytest.raises(ValueError, match="corpus_ccnet_buckets_scaled"):
        t.corpus_ccnet_buckets(spark, "/root/testdata/sf0.001")


def test_ccnet_scaled_agrees_with_exact(spark):
    """Boundary docs may swap buckets under sketch cutoffs; everyone
    else must agree. At test SF the sketch is exact (n << accuracy),
    so agreement is total; the assertion leaves the documented
    tolerance headroom."""
    from pyspark.sql import functions as F

    from firefox_public_data_report_etl_spark.plans.text import (
        CCNET_CUT_ACCURACY,
        corpus_ccnet_buckets,
        corpus_lm_quality,
    )

    sf = "/root/testdata/sf0.001"
    exact = corpus_ccnet_buckets(spark, sf).select("doc_id", "bucket")
    scored = corpus_lm_quality(spark, sf).select("doc_id", "lm_per_token")
    cuts = scored.agg(
        F.expr(
            "approx_percentile(lm_per_token, array(1.0D/3.0D, 2.0D/3.0D), "
            f"{CCNET_CUT_ACCURACY})"
        ).alias("c")
    )
    per_doc = scored.crossJoin(F.broadcast(cuts)).select(
        "doc_id",
        F.when(F.col("lm_per_token") >= F.element_at("c", 2), "head")
        .when(F.col("lm_per_token") >= F.element_at("c", 1), "middle")
        .otherwise("tail")
        .alias("b2"),
    )
    m = exact.join(per_doc, "doc_id")
    n = m.count()
    agree = m.filter(F.col("bucket") == F.col("b2")).count()
    assert n > 0 and agree / n >= 0.96
