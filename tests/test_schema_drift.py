"""Schema-drift canary (round-3 postmortem).

The driver regenerates /root/testdata between rounds and has already
changed the physical timestamp encoding once (TIMESTAMP(NANOS) ->
plain timestamp[us], which Spark reads as TIMESTAMP_NTZ). Round 3
ended red because that drift reached NTZ-strict APIs (unix_micros,
withWatermark) at query time. These tests make the next drift a
one-line assertion failure instead of a round-ending surprise:

  - every table loaded via ``load_table`` must come back with ZERO
    timestamp_ntz columns (the loader's edge normalization contract);
  - every registry query must pass Spark ANALYSIS against the current
    testdata (schema resolution without executing — cheap, catches
    dtype mismatches in every registry query in seconds).
"""

from __future__ import annotations

import pytest
from conftest import every_nth_sample

from firefox_public_data_report_etl_spark.plans import QUERIES
from firefox_public_data_report_etl_spark.sources import TABLES, load_table


@pytest.mark.parametrize("name", TABLES)
def test_no_ntz_columns_after_load(spark, sf_dir, name):
    df = load_table(spark, sf_dir, name)
    ntz = [c for c, dt in df.dtypes if dt == "timestamp_ntz"]
    assert not ntz, (
        f"load_table({name!r}) leaked TIMESTAMP_NTZ columns {ntz}; "
        "normalize_timestamps must cast them to TIMESTAMP"
    )


def _analyze_params():
    """Default profile analyzes a representative sample (every 3rd
    name — analysis is cheap except for queries whose construction
    runs driver actions); FPDR_FULL_TESTS=1 analyzes all. Full
    coverage also runs via tools/gate_run.py, which EXECUTES every
    query."""
    sample = every_nth_sample(QUERIES, 3)
    out = []
    for name in sorted(QUERIES):
        marks = () if name in sample else (pytest.mark.full,)
        out.append(pytest.param(name, marks=marks, id=name))
    return out


@pytest.mark.parametrize("name", _analyze_params())
def test_registry_query_analyzes(spark, sf_dir, name):
    # .schema forces analysis (resolution + type checking) without
    # running the job; an NTZ-vs-TIMESTAMP mismatch anywhere in the
    # plan raises AnalysisException right here.
    df = QUERIES[name](spark, sf_dir)
    assert len(df.schema.fields) > 0


def test_scale_class_contract():
    """SCALE_CLASS must cover exactly the registry, default to
    'scale', and give every non-scale query a named scale sibling
    that IS a scale-classed registry query — so brute-force baselines
    are machine-distinguishable from 100 TB paths."""
    from firefox_public_data_report_etl_spark.plans import (
        QUERIES,
        SCALE_CLASS,
        SCALE_PATH_FOR,
    )

    assert set(SCALE_CLASS) == set(QUERIES)
    allowed = {"scale", "baseline", "streaming_binding"}
    assert set(SCALE_CLASS.values()) <= allowed
    non_scale = {n for n, c in SCALE_CLASS.items() if c != "scale"}
    # Every non-scale query MUST name a scale path; a 'scale'-classed
    # query MAY additionally name one (round 13: corpus_bm25_topk is a
    # legitimate one-shot production shape whose REPEATED-query
    # sibling is the served postings index, corpus_bm25_probe).
    assert non_scale <= set(SCALE_PATH_FOR), (
        "every baseline/streaming_binding query needs a scale_path "
        "and vice versa"
    )
    for name, sibling in SCALE_PATH_FOR.items():
        assert sibling in QUERIES, f"{name}: unknown scale path {sibling}"
        assert SCALE_CLASS[sibling] == "scale", (
            f"{name}: scale path {sibling} is itself {SCALE_CLASS[sibling]}"
        )
    # the known brute-force set stays marked (regression pin)
    assert SCALE_CLASS["dedup_ngram_jaccard"] == "baseline"
    assert SCALE_CLASS["dedup_embedding_cosine"] == "baseline"
    assert SCALE_CLASS["embedding_cosine_topk"] == "baseline"
    assert SCALE_CLASS["session_window_rollup"] == "streaming_binding"
    # codebook_mod plans are scale paths; the recall harness is not
    assert SCALE_CLASS["ann_ivf_pq"] == "scale"
    assert SCALE_CLASS["retrieval_eval_ann"] == "baseline"


def test_registry_is_fully_oracle_backed():
    """Every queries() entry must carry an oracle_sql() twin (the
    driver's strong gate) unless explicitly exempted here. An empty
    exemption set is the point: additions that can't be oracle-backed
    must be argued into this list, not silently weaker-gated."""
    from firefox_public_data_report_etl_spark.plans import ORACLES, QUERIES

    rows_only_exempt: set[str] = set()
    missing = set(QUERIES) - set(ORACLES) - rows_only_exempt
    orphaned = set(ORACLES) - set(QUERIES)
    assert not missing, f"queries without oracles: {sorted(missing)}"
    assert not orphaned, f"oracles without queries: {sorted(orphaned)}"
