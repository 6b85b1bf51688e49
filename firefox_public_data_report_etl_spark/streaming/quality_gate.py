"""Streaming ingestion-time QUALITY gate: every micro-batch of
incoming documents gets the Gopher rule verdicts, the LM fluency
floor, and (optionally) the frozen Naive-Bayes quality-classifier
margin — the rule, fluency, and model-based filter stages of the
curation recipe. Its keep/drop decisions land under the batch's
``batch_label`` (``streaming/gate.py``): the filter a live crawl runs
BEFORE paying storage for a document. There is no cross-batch index,
so the decisions are a pure function of the batch and the frozen
model tables, and a replay overwrites its label with identical rows.

The LM vocabulary AND the NB classifier are trained ONCE on a
reference corpus before the stream starts (operators/text.py:
lm_vocab_table, nb_train_frozen — CCNet's external clean-corpus
shape) and FROZEN: per batch they are re-broadcast from the collected
driver-resident rows, so a long-running gate never retrains
mid-stream and replays score identically. The LM table is
vocab-cardinality, the NB table NB_BUCKETS rows — both bounded by the
language/model, not the corpus.

Scale per trigger: one token-stream aggregate over the BATCH (the
measured gopher_rules shape) + one broadcast join against the frozen
vocab — batch-sized work, nothing proportional to accepted history.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from firefox_public_data_report_etl_spark.operators.text import (
    gopher_rules,
)
from firefox_public_data_report_etl_spark.streaming.gate import (
    start_stream,
    write_label_slice,
)

# Same integer fluency floor as the curation capstones
# (plans/text.py:LM_GATE_MUNATS) — imported there, duplicated here
# would risk drift, so pull it from the plans module lazily in
# freeze_lm_table's default.


def freeze_lm_table(docs: DataFrame, ref_cond) -> tuple[list, int]:
    """Train the add-one unigram LM on ``ref_cond`` and freeze it for
    the gate: returns (vocab rows [(token, lp)], oov floor int) —
    driver-resident, vocab-sized, replay-stable."""
    from firefox_public_data_report_etl_spark.operators.text import (
        lm_vocab_table,
    )

    lp, lp_oov = lm_vocab_table(docs, ref_cond)
    rows = [(r["token"], r["lp"]) for r in lp.collect()]
    oov = lp.sparkSession.range(1).select(lp_oov.alias("o")).head()["o"]
    return rows, int(oov)


def freeze_nb_model(docs: DataFrame, hq_cond) -> tuple[list, int]:
    """Train the NB quality classifier on the reference corpus and
    freeze it for the gate: (weight rows [(b, w)], prior int) —
    driver-resident, NB_BUCKETS rows, replay-stable. Thin alias over
    operators.text.nb_train_frozen so the gate's two frozen models
    ship from one module."""
    from firefox_public_data_report_etl_spark.operators.text import (
        nb_train_frozen,
    )

    return nb_train_frozen(docs, hq_cond)


def quality_gate_batch(
    spark: SparkSession,
    batch_docs: DataFrame,
    lm_rows: list,
    lm_oov: int,
    decisions_path: str,
    batch_id: int,
    gate_munats: int | None = None,
    nb_rows: list | None = None,
    nb_prior: int | None = None,
) -> None:
    """Score one micro-batch and land its decisions under its label."""
    if gate_munats is None:
        from firefox_public_data_report_etl_spark.plans.text import (
            LM_GATE_MUNATS,
        )

        gate_munats = LM_GATE_MUNATS
    label = batch_id + 1
    rules = gopher_rules(batch_docs).select("doc_id", "n_tokens", "keep")
    lp = F.broadcast(
        spark.createDataFrame(lm_rows, "token string, lp long")
    )
    scored = (
        batch_docs.select(
            "doc_id", F.explode(F.split("text", " ")).alias("token")
        )
        .join(lp, "token", "left")
        .groupBy("doc_id")
        .agg(
            F.sum(F.coalesce(F.col("lp"), F.lit(lm_oov))).alias(
                "score_munats"
            )
        )
    )
    decisions = (
        rules.join(scored, "doc_id")
        .select(
            "doc_id",
            "n_tokens",
            "score_munats",
            F.col("keep").alias("rules_ok"),
            (
                F.col("score_munats")
                >= F.col("n_tokens") * F.lit(gate_munats)
            ).alias("lm_ok"),
        )
        .withColumn("keep", F.col("rules_ok") & F.col("lm_ok"))
    )
    if nb_rows is not None:
        from firefox_public_data_report_etl_spark.operators.text import (
            NB_BUCKETS,
        )
        from firefox_public_data_report_etl_spark.functions import (
            md5_int_spark_sql,
        )

        nbw = F.broadcast(
            spark.createDataFrame(nb_rows, "b long, w long")
        )
        nb_scored = (
            batch_docs.select(
                "doc_id", F.explode(F.split("text", " ")).alias("w_tok")
            )
            .select(
                "doc_id",
                (F.expr(md5_int_spark_sql("w_tok")) % NB_BUCKETS).alias("b"),
            )
            .groupBy("doc_id", "b")
            .agg(F.count("*").alias("cnt"))
            .join(nbw, "b")
            .groupBy("doc_id")
            .agg(
                (F.lit(nb_prior) + F.sum(F.col("w") * F.col("cnt")))
                .cast("long")
                .alias("nb_margin")
            )
        )
        decisions = (
            decisions.join(nb_scored, "doc_id")
            .withColumn("nb_ok", F.col("nb_margin") >= 0)
            .withColumn("keep", F.col("keep") & F.col("nb_ok"))
        )
    write_label_slice(decisions, decisions_path, label, "batch_label")


def stream_quality_gate(
    docs_stream: DataFrame,
    lm_rows: list,
    lm_oov: int,
    decisions_path: str,
    checkpoint: str,
    nb_rows: list | None = None,
    nb_prior: int | None = None,
):
    """Run the gate on every micro-batch of ``docs_stream`` (columns
    doc_id, text). Pass the frozen NB model (``freeze_nb_model``) to
    add the model-based filter column to every decision."""
    return start_stream(
        docs_stream,
        checkpoint,
        lambda spark, b, bid: quality_gate_batch(
            spark, b, lm_rows, lm_oov, decisions_path, bid,
            nb_rows=nb_rows, nb_prior=nb_prior,
        ),
    )
