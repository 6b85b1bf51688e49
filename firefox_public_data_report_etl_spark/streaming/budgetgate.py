"""Streaming token-budget gate: ingestion-time mixture capping.

The batch form (plans/loader.py:corpus_mixture_token_budget) fills
each stratum's token budget over the WHOLE corpus in md5-rank order.
At ingestion time the corpus arrives incrementally, so the greedy
filler runs per micro-batch against the budget REMAINING after every
committed earlier batch: within a batch, rows are taken in the same
portable (md5, id) order; a document is accepted iff its stratum's
running total STARTS inside the budget (the batch query's exact
start-inside rule, applied at the stream's arrival grain).

Exactly-once by the same label protocol as the other five gates
(neardup / embed / media / video / idalloc):

- accepted rows land under the batch's own ``bl`` label via scoped
  dynamic overwrite — replay REPLACES the slice with identical rows;
- the consumed-so-far state is the SUM of committed meta rows with
  label < this label (per stratum) — a crashed attempt's own
  half-written slice can never move its own baseline;
- meta (label, stratum, tokens_taken) is written LAST and is a pure
  function of (earlier meta, batch content) — replay rewrites it
  bit-identically.

Scale: per trigger this reads one tiny meta table (labels × strata
rows), ranks the batch with ONE stratum-partitioned window, and
writes one label slice. History is never rescanned; a stratum whose
budget is exhausted costs a filter, not a shuffle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from firefox_public_data_report_etl_spark.functions import (
    md5_int_spark_sql,
)
from firefox_public_data_report_etl_spark.sources.tables import (
    fs_exists,
    partition_overwrite_mode,
)

META_SCHEMA = "bl long, stratum string, tokens_taken long"


def _consumed(spark: SparkSession, store: str, label: int) -> dict[str, int]:
    meta = f"{store}/meta"
    if not fs_exists(spark, meta):
        return {}
    rows = (
        spark.read.schema(META_SCHEMA)
        .parquet(meta)
        .filter(F.col("bl") < label)
        .groupBy("stratum")
        .agg(F.sum("tokens_taken").alias("t"))
        .collect()
    )
    return {r["stratum"]: int(r["t"]) for r in rows}


def budget_gate_batch(
    spark: SparkSession,
    batch: DataFrame,
    store: str,
    budgets: dict[str, int],
    batch_id: int,
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    tokens_col: str = "tokens",
) -> None:
    """One micro-batch of the greedy budget filler. ``batch`` carries
    (id, stratum, tokens); strata without a budget are dropped."""
    label = batch_id + 1
    used = _consumed(spark, store, label)
    remaining = F.lit(None).cast("long")
    for s, b in sorted(budgets.items()):
        remaining = F.when(
            F.col(stratum_col) == s, F.lit(max(0, b - used.get(s, 0)))
        ).otherwise(remaining)
    h = F.expr(md5_int_spark_sql(f"cast({id_col} as string)"))
    w = (
        Window.partitionBy(stratum_col)
        .orderBy(h, F.col(id_col))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    taken = (
        batch.filter(F.col(stratum_col).isin(list(budgets)))
        .withColumn("_cum", F.sum(tokens_col).over(w).cast("long"))
        .withColumn("_rem", remaining)
        # the batch query's start-inside rule against THIS batch's
        # remaining budget
        .filter(F.col("_cum") - F.col(tokens_col) < F.col("_rem"))
        .select(
            id_col,
            stratum_col,
            F.col(tokens_col).cast("long").alias(tokens_col),
            F.lit(label).cast("long").alias("bl"),
        )
    )
    with partition_overwrite_mode(spark, "dynamic"):
        taken.write.partitionBy("bl").mode("overwrite").parquet(
            f"{store}/accepted"
        )
    meta_rows = (
        taken.groupBy(stratum_col)
        .agg(F.sum(tokens_col).alias("tokens_taken"))
        .select(
            F.lit(label).cast("long").alias("bl"),
            F.col(stratum_col).alias("stratum"),
            F.col("tokens_taken").cast("long"),
        )
    )
    if not meta_rows.take(1):
        # commit an explicit zero row so the label counts as committed
        # (read contract: accepted slices without meta are invisible)
        meta_rows = spark.createDataFrame(
            [(label, "__none__", 0)], META_SCHEMA
        )
    with partition_overwrite_mode(spark, "dynamic"):
        meta_rows.write.partitionBy("bl").mode("overwrite").parquet(
            f"{store}/meta"
        )


def read_accepted(spark: SparkSession, store: str) -> DataFrame:
    """Committed accepted rows (label slices whose meta exists)."""
    acc = spark.read.parquet(f"{store}/accepted")
    meta = spark.read.schema(META_SCHEMA).parquet(f"{store}/meta")
    return acc.join(
        meta.select("bl").distinct(), "bl", "left_semi"
    ).drop("bl")


def stream_budget_gate(
    stream: DataFrame,
    store: str,
    checkpoint: str,
    budgets: dict[str, int],
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    tokens_col: str = "tokens",
):
    """writeStream wiring; availableNow so backfills drain and stop."""
    return (
        stream.writeStream.foreachBatch(
            lambda b, bid: budget_gate_batch(
                b.sparkSession,
                b,
                store,
                budgets,
                bid,
                id_col,
                stratum_col,
                tokens_col,
            )
        )
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
