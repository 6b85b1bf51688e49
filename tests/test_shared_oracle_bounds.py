"""Guard the shared-oracle invariant of the codebook_mod plans: the
IVF / k-means / PQ plans size their codebooks with the sqrt-N law
(plans.similarity.codebook_mod) but are checked against static-mod
oracle SQL, which is only bit-identical while the law floors at the
registry constant — i.e. while the corpus stays below mod^2 rows. A
testdata bump past that bound would fail the correctness gate as an
opaque hash mismatch; this test turns it into a named assertion.

Spark-free (parquet row counts via pyarrow metadata) so it runs in
milliseconds and can never be skipped for fixture reasons.
"""

from __future__ import annotations

import os

import pyarrow.parquet as pq
import pytest

from firefox_public_data_report_etl_spark.plans.similarity import (
    CENTROID_MOD,
    KM_INIT_MOD,
    PQ_CB_MOD,
)
from firefox_public_data_report_etl_spark.plans.text import (
    HASHPROJ_CENTROID_MOD,
)

SF_DIRS = [
    "/root/testdata/sf0.001",
    "/root/testdata/sf0.01",
    "/root/testdata/sf0.1",
]


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_embedding_count_within_shared_oracle_bounds(sf_dir: str) -> None:
    path = os.path.join(sf_dir, "embeddings.parquet")
    if not os.path.exists(path):
        pytest.skip(f"no testdata at {path}")
    n = pq.ParquetFile(path).metadata.num_rows
    # sqrt-N mod floors at the constant iff int(sqrt(n)) <= mod
    assert int(n**0.5) <= KM_INIT_MOD, (
        f"{sf_dir}: {n} embeddings -> sqrt-N k-means mod "
        f"{int(n**0.5)} exceeds KM_INIT_MOD={KM_INIT_MOD}; "
        "kmeans_refine_scaled no longer matches the shared static-mod "
        "oracle at this SF — give it its own oracle or raise the mod"
    )
    assert int(n**0.5) <= CENTROID_MOD, (
        f"{sf_dir}: {n} embeddings -> sqrt-N IVF mod {int(n**0.5)} "
        f"exceeds CENTROID_MOD={CENTROID_MOD}; ann_ivf_scaled/"
        "ann_ivf_multiprobe no longer match the shared static-mod "
        "oracle at this SF"
    )
    assert int(n**0.5) <= PQ_CB_MOD, (
        f"{sf_dir}: {n} embeddings -> sqrt-N PQ codebook mod "
        f"{int(n**0.5)} exceeds PQ_CB_MOD={PQ_CB_MOD}; the ann_ivf_pq* "
        "rows no longer match their static-mod oracles at this SF"
    )


@pytest.mark.parametrize("sf_dir", SF_DIRS)
def test_document_count_within_shared_oracle_bounds(sf_dir: str) -> None:
    path = os.path.join(sf_dir, "documents.parquet")
    if not os.path.exists(path):
        pytest.skip(f"no testdata at {path}")
    n = pq.ParquetFile(path).metadata.num_rows
    assert int(n**0.5) <= HASHPROJ_CENTROID_MOD, (
        f"{sf_dir}: {n} documents -> sqrt-N IVF mod {int(n**0.5)} "
        f"exceeds HASHPROJ_CENTROID_MOD={HASHPROJ_CENTROID_MOD}; "
        "retrieval_hashproj_ivf_scaled no longer matches its static-mod "
        "oracle at this SF"
    )


def test_hardneg_ceiling_matches_dedup_threshold() -> None:
    """The hard-negative band's ceiling must equal the embedding
    near-dup threshold, or positives leak into the negative set."""
    from firefox_public_data_report_etl_spark.plans.similarity import (
        HARDNEG_HI,
        SEM_DEDUP_THRESHOLD,
    )

    assert HARDNEG_HI == SEM_DEDUP_THRESHOLD
