"""IVF serving-index lifecycle: the persisted embedding index
(operators/vectorized.py:build_ivf_index) in the labeled-index
lifecycle (operators/labeled_index.py: label replace, replay mask,
compaction). A continuously-growing corpus appends each accepted
batch's vectors under its own ``bl`` label against the FROZEN
codebook; the streaming gate in streaming/embedgate.py composes
probe → decide → land → append with the same replay contract.

Scale: appends write only the batch's vectors (one shuffle of
fingerprint-sized rows onto the cell key); compaction rewrites
vector rows, never raw corpus content; probes read nprobe/n_cells
of each label. Nothing rescans accepted history. Reference has no
vector-index surface (engine extension from the public IVF
technique).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from firefox_public_data_report_etl_spark.operators.vectorized import (
    IVF_INDEX,
    ivf_assign,
)


def append_to_ivf_index(
    spark: SparkSession,
    path: str,
    quantized_batch: DataFrame,
    batch_label: int,
    id_col: str = "vec_id",
) -> None:
    """Add (or replace) a batch's vectors under their own label,
    assigned against the STORED codebook (one code path with the
    build — the appended slice can never cell differently)."""
    cells = ivf_assign(
        quantized_batch, spark.read.parquet(f"{path}/centroids"), id_col
    )
    IVF_INDEX.append(
        spark, path, batch_label,
        {"vectors": quantized_batch.join(cells, id_col)},
    )


def compact_ivf_index(spark: SparkSession, path: str) -> None:
    """Fold appended labels back into bl=0, keeping the newest label
    (search results unchanged, pinned by test)."""
    IVF_INDEX.compact(spark, path)
