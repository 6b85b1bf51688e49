"""Streaming token-budget gate: ingestion-time mixture capping, on the
commit-last store protocol of ``streaming/gate.py``.

The batch form (plans/loader.py:corpus_mixture_token_budget) fills
each stratum's token budget over the WHOLE corpus in md5-rank order.
Here the greedy filler runs per micro-batch against the budget
REMAINING after every committed earlier label: within a batch, rows
are taken in the same portable (md5, id) order, and a document is
accepted iff its stratum's running total STARTS inside the budget
(the batch query's start-inside rule, at the stream's arrival
grain). Strata without a budget are dropped.

The consumed-so-far state is the sum of committed meta rows
(label, stratum, tokens_taken) with a smaller label, so a crashed
attempt's own slice never moves its own baseline. A batch that takes
nothing commits one zero row so its label still counts as committed.

Scale: per trigger this reads one tiny meta table (labels × strata
rows), ranks the batch with ONE stratum-partitioned window, and
writes one label slice. History is never rescanned.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from firefox_public_data_report_etl_spark.functions import (
    md5_int_spark_sql,
)
from firefox_public_data_report_etl_spark.streaming.gate import (
    commit_batch,
    read_committed,
    read_marker,
    start_stream,
)

META_SCHEMA = "bl long, stratum string, tokens_taken long"


def _consumed(spark: SparkSession, store: str, label: int) -> dict[str, int]:
    rows = (
        read_marker(spark, store, "meta", META_SCHEMA)
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
        )
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
        meta_rows = spark.createDataFrame(
            [(label, "__none__", 0)], META_SCHEMA
        )
    commit_batch(store, label, taken, meta_rows)


def read_accepted(spark: SparkSession, store: str) -> DataFrame:
    """Accepted rows of committed labels."""
    return read_committed(spark, store, "meta", META_SCHEMA)


def stream_budget_gate(
    stream: DataFrame,
    store: str,
    checkpoint: str,
    budgets: dict[str, int],
    id_col: str = "doc_id",
    stratum_col: str = "lang",
    tokens_col: str = "tokens",
):
    """Run the gate on every micro-batch of ``stream``."""
    return start_stream(
        stream,
        checkpoint,
        lambda spark, b, bid: budget_gate_batch(
            spark, b, store, budgets, bid, id_col, stratum_col, tokens_col
        ),
    )
