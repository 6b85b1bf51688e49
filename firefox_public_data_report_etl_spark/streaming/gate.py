"""The micro-batch gate template: the protocol every labeled
streaming store shares, in one place. Each gate module keeps only its
own decision rule and calls these helpers for the rest.

Labels. The micro-batch with streaming epoch id ``batch_id`` writes
under the label ``batch_id + 1`` (0 is an index's initial build).
Everything a batch writes is one partition per table: ``bl=<label>``
in the commit-last stores (and the index appends), and
``batch_label=<label>`` in the decision tables of the index, quality
and PIT gates.

Replay. After a crash the checkpoint redelivers the batch under the
same epoch id. Every slice is written with dynamic partition
overwrite scoped to that one write, so the replay REPLACES the
label's slice and leaves the other labels alone. A gate's decisions
are a pure function of the batch and of what earlier labels
committed, so the replay rewrites identical rows.

Commit last. A commit-last store (the budget, drift, leak, align and
id-allocation gates) holds a data table (``accepted`` or ``ids``) and
a marker table (``meta``, ``decisions`` or ``verdicts``). A batch
pins the data schema in ``accepted_schema.json``, writes its data
slice, and writes its marker slice LAST. Readers see only the data
of labels that have a marker, so a slice left by a crash between the
two writes stays invisible until the replay rewrites both. When no
committed label holds rows (every row rejected, every batch tripped,
an empty batch), the data reads as an empty frame typed by the pinned
schema, not as a schema-inference error.

Index gates. The near-dup gates (text, embedding, image, video) probe
a persisted index with their own label excluded: on a replay the
crashed attempt's append is already in the index, and every batch
row would otherwise match itself. Cross- and within-batch pairs then
go through one shared tail (``decide_and_append``).

Wiring. Every sink runs as ``foreachBatch`` with a checkpoint and the
``availableNow`` trigger, so a backfill drains and stops; a tailing
deployment drops the trigger.
"""

from __future__ import annotations

import json
from typing import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import StructType

from firefox_public_data_report_etl_spark.operators.incremental import (
    incremental_decisions,
)
from firefox_public_data_report_etl_spark.sources.tables import (
    fs_exists,
    fs_read_text,
    fs_write_text,
    partition_overwrite_mode,
)

SCHEMA_FILE = "accepted_schema.json"


def start_stream(
    stream: DataFrame,
    checkpoint: str,
    run_batch: Callable[[SparkSession, DataFrame, int], None],
):
    """Start ``run_batch(spark, batch, batch_id)`` on every micro-batch
    of ``stream``; returns the started query."""
    return (
        stream.writeStream.foreachBatch(
            lambda b, bid: run_batch(b.sparkSession, b, bid)
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def write_label_slice(
    df: DataFrame, path: str, label: int, col: str = "bl"
) -> None:
    """Write ``df`` as the ``col=<label>`` partition of ``path``,
    replacing that slice only."""
    with partition_overwrite_mode(df.sparkSession, "dynamic"):
        df.withColumn(col, F.lit(label).cast("long")).write.partitionBy(
            col
        ).mode("overwrite").parquet(path)


def commit_batch(
    store: str,
    label: int,
    data: DataFrame,
    marker: DataFrame,
    data_dir: str = "accepted",
    marker_dir: str = "meta",
    land: bool = True,
) -> None:
    """Commit one batch to a commit-last store: pin the data schema,
    write the data slice, then the marker slice. ``land=False`` (a
    tripped batch) pins the schema and commits the marker only."""
    spark = marker.sparkSession
    data = data.withColumn("bl", F.lit(label).cast("long"))
    fs_write_text(
        spark, f"{store}/{SCHEMA_FILE}", json.dumps(data.schema.jsonValue())
    )
    if land:
        write_label_slice(data, f"{store}/{data_dir}", label)
    write_label_slice(marker, f"{store}/{marker_dir}", label)


def read_marker(
    spark: SparkSession, store: str, marker_dir: str, schema: str
) -> DataFrame:
    """The marker table of a store; empty (typed by ``schema``) before
    the first commit."""
    path = f"{store}/{marker_dir}"
    if not fs_exists(spark, path):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(path)


def read_committed(
    spark: SparkSession,
    store: str,
    marker_dir: str,
    marker_schema: str,
    data_dir: str = "accepted",
    committed: Callable[[DataFrame], DataFrame] | None = None,
    schema: str | StructType | None = None,
) -> DataFrame:
    """Data rows of the committed labels, without the label column.
    A label is committed when its marker exists; ``committed`` may
    narrow the marker rows to the labels to read. ``schema`` (with
    ``bl``) types the data of a store that pins no schema; with
    neither, the schema is inferred from the data files."""
    labels = read_marker(spark, store, marker_dir, marker_schema)
    if committed is not None:
        labels = committed(labels)
    pinned = f"{store}/{SCHEMA_FILE}"
    if fs_exists(spark, pinned):
        schema = StructType.fromJson(
            json.loads(fs_read_text(spark, pinned))
        )
    path = f"{store}/{data_dir}"
    if schema is not None and not fs_exists(spark, path):
        return spark.createDataFrame([], schema).drop("bl")
    reader = spark.read if schema is None else spark.read.schema(schema)
    return (
        reader.parquet(path)
        .join(labels.select("bl").distinct(), "bl", "left_semi")
        .drop("bl")
    )


def decide_and_append(
    ids: DataFrame,
    cross: DataFrame,
    within: DataFrame,
    id_col: str,
    label: int,
    decisions_path: str,
    append: Callable[[DataFrame], None],
    release: Iterable[Callable[[], object]] = (),
) -> None:
    """The index gates' shared tail: keep/remove decisions over the
    batch's ``ids`` from the (base_id, batch_id) index matches and
    the (da, db) within-batch pairs, written under ``batch_label``;
    then ``append(kept ids)`` lands the kept rows in the index under
    the label, and ``release`` frees the batch's caches. The decisions
    are cached: the append re-reads them after the write."""
    decisions = (
        incremental_decisions(
            ids.select(F.col(id_col).alias("doc_id")), cross, within
        )
        .withColumnRenamed("doc_id", id_col)
        .cache()
    )
    write_label_slice(decisions, decisions_path, label, "batch_label")
    append(decisions.filter("keep").select(id_col))
    decisions.unpersist()
    for free in release:
        free()
