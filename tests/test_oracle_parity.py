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


def test_oracle_connection_caps_memory_and_spills_under_tmp(sf_dir):
    """Oracle connections run under a fixed memory cap and spill under
    the temp dir, never to DuckDB's 80%-of-RAM default and ``.tmp`` in
    the current directory."""
    import os
    import tempfile

    from firefox_public_data_report_etl_spark.testing import duckdb_connection

    con = duckdb_connection(sf_dir)
    try:
        limit, spill = con.execute(
            "SELECT current_setting('memory_limit'),"
            " current_setting('temp_directory')"
        ).fetchone()
        assert con.execute("SELECT count(*) FROM region").fetchone()[0] > 0
    finally:
        con.close()
    assert limit == "6.0 GiB"
    assert os.path.dirname(spill) == tempfile.gettempdir()
    assert not os.path.exists(spill)


def test_kpi_snapshot_q17_leg_rests_on_the_part_foreign_key(spark, tmp_path):
    """kpi_snapshot computes its Q17 rows over lineitem joined to part,
    while the standalone Q17 oracle reads lineitem alone: the two agree
    only while every ``l_partkey`` exists in ``part``. On a copy of the
    smoke tables they agree; with one referenced part row removed they
    no longer do."""
    import shutil

    import pyarrow.compute as pc
    import pyarrow.parquet as pq

    from conftest import SF_SMOKE
    from firefox_public_data_report_etl_spark.plans.shapes import kpi_snapshot
    from firefox_public_data_report_etl_spark.plans.tpch import (
        SMALL_QTY_REVENUE_ORACLE,
    )
    from firefox_public_data_report_etl_spark.testing import duckdb_connection

    sf = tmp_path / "sf"
    shutil.copytree(SF_SMOKE, sf)

    def q17(sf_dir):
        got = {
            r.metric: r.value
            for r in kpi_snapshot(spark, sf_dir).collect()
            if r.metric.startswith("small_qty_")
        }
        con = duckdb_connection(sf_dir)
        try:
            n, rev = con.execute(SMALL_QTY_REVENUE_ORACLE).fetchone()
            # A part key with at least one line item in the Q17 sum.
            key = con.execute(
                """
                WITH li AS (
                  SELECT l_partkey, round(l_quantity) AS qty FROM lineitem
                ), pp AS (
                  SELECT l_partkey, sum(qty) AS s, count(*) AS n
                  FROM li GROUP BY l_partkey
                )
                SELECT min(l_partkey) FROM li JOIN pp USING (l_partkey)
                WHERE qty * n * 2 < s
                """
            ).fetchone()[0]
        finally:
            con.close()
        return got, {"small_qty_n_items": float(n), "small_qty_revenue": rev}, key

    got, want, key = q17(str(sf))
    assert got == want
    assert want["small_qty_n_items"] > 0

    (sf / "part.parquet").chmod(0o644)
    part = pq.read_table(sf / "part.parquet")
    assert key in part["p_partkey"].to_pylist()
    pq.write_table(
        part.filter(pc.not_equal(part["p_partkey"], key)), sf / "part.parquet"
    )
    got, want, _ = q17(str(sf))
    assert got != want
