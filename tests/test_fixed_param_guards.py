"""Codebook sizing and the record-grain ER guard.

Every IVF / k-means plan sizes its codebook with the one sqrt-N law,
``plans.similarity.codebook_mod``: at and below floor^2 vectors the
mod is the registry constant (so the static-mod oracles hold at every
testdata SF, pinned by test_shared_oracle_bounds), past it the mod
grows as sqrt(N) and the plan keeps running. The record-grain ER form
still refuses blocks past ER_MAX_BLOCK and names its cell-grain twin.
"""

from __future__ import annotations

import pytest

from firefox_public_data_report_etl_spark.plans.similarity import (
    CENTROID_MOD,
    KM_INIT_MOD,
    PQ_CB_MOD,
    ann_ivf_trained,
    codebook_mod,
)
from firefox_public_data_report_etl_spark.plans.text import (
    HASHPROJ_CENTROID_MOD,
)


def test_guard_inequality_is_exact() -> None:
    """The inequality test_shared_oracle_bounds guards,
    int(sqrt(n)) <= floor, is exactly the range where codebook_mod
    returns the registry constant: every n below (floor + 1)^2 keeps
    the floor, and (floor + 1)^2 is the first n that leaves it."""
    for floor in (CENTROID_MOD, KM_INIT_MOD, PQ_CB_MOD, HASHPROJ_CENTROID_MOD):
        edge = (floor + 1) ** 2
        assert all(codebook_mod(n, floor) == floor for n in range(edge))
        assert codebook_mod(edge, floor) == floor + 1


def _write_oversized(spark, tmp_path, n: int) -> str:
    """n small-dim embeddings rows shaped like the testdata contract
    (no zero vector: cosine needs a non-zero norm)."""
    sf_dir = str(tmp_path)
    spark.range(n).selectExpr(
        "id AS vec_id",
        "array(CAST(id % 7 + 1 AS FLOAT), CAST(id % 11 + 1 AS FLOAT))"
        " AS embedding",
    ).write.mode("overwrite").parquet(f"{sf_dir}/embeddings.parquet")
    return sf_dir


def test_codebook_mod_grows_past_the_registry_floor(spark, tmp_path) -> None:
    # int(sqrt(2600)) = 50 floors at the constant; 2601 = 51^2 grows it
    assert codebook_mod(2_600, KM_INIT_MOD) == KM_INIT_MOD == 50
    assert codebook_mod(2_601, KM_INIT_MOD) == 51
    # a trained-codebook plan runs past KM_INIT_MOD^2 vectors instead
    # of refusing the corpus
    sf_dir = _write_oversized(spark, tmp_path, 2_601)
    assert ann_ivf_trained(spark, sf_dir).collect()


def test_er_record_grain_guard_and_twin_agreement(
    spark, sf_dir, monkeypatch
):
    """The record-grain ER form must refuse once the largest blocking
    key exceeds ER_MAX_BLOCK, naming the cell-grain twin — and the two
    forms must produce the identical golden-record set when both run."""
    from firefox_public_data_report_etl_spark.plans import linkage

    a = {
        tuple(r)
        for r in linkage.part_entity_resolution(spark, sf_dir).collect()
    }
    b = {
        tuple(r)
        for r in linkage.part_entity_resolution_scaled(
            spark, sf_dir
        ).collect()
    }
    assert a == b and a

    monkeypatch.setattr(linkage, "ER_MAX_BLOCK", 1)
    with pytest.raises(ValueError, match="part_entity_resolution_scaled"):
        linkage.part_entity_resolution(spark, sf_dir)
