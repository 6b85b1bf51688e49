"""Self-check of the driver's correctness gate: every queries() entry
with an oracle must match DuckDB exactly (row count, columns,
order-insensitive values) at sf0.001."""

from __future__ import annotations

import pytest
from conftest import every_nth_sample

from firefox_public_data_report_etl_spark.testing import check_query


#: Always-fast parity rows: the bench headline set plus the queries
#: whose plans round 13 touches (regression canaries for this round's
#: rewrites). Everything else runs every-Nth in the default profile
#: and exhaustively under FPDR_FULL_TESTS=1 / tools/gate_run.py.
_FAST_ALWAYS = {
    "user_activity_flagship",
    "mau_wau_weekly",
    "pricing_summary",
    "regional_revenue",
    "late_ship_priority",
    "top_customers_per_nation",
    "hardware_dims_grouping_sets",
    "bucket_collapse_ptype",
    "dedup_exact",
    "dedup_minhash_lsh",
    "embedding_cosine_topk",
    "text_quality_scores",
    "user_sessions",
    "tumbling_window_counts",
    # round-13 touched plans
    "part_entity_resolution",
    "dedup_clusters",
    "preference_pairs",
    "kpi_snapshot",
    "multimodal_caption_curation",
    "multimodal_caption_retrieval",
    "multimodal_caption_retrieval_scaled",
    "corpus_bm25_probe",
}

_FAST_EVERY_NTH = 5


def _params():
    from firefox_public_data_report_etl_spark.plans import QUERIES

    sample = every_nth_sample(QUERIES, _FAST_EVERY_NTH)
    out = []
    for name in sorted(QUERIES):
        fast = name in _FAST_ALWAYS or name in sample
        marks = () if fast else (pytest.mark.full,)
        out.append(pytest.param(name, marks=marks, id=name))
    return out


@pytest.mark.parametrize("name", _params())
def test_query_matches_oracle(spark, sf_dir, name):
    problems = check_query(spark, name, sf_dir)
    assert not problems, f"{name}: " + "; ".join(problems)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert len(df.columns) == 11
