"""Persisted BM25 postings index: the corpus's (term, doc, tf, dl)
postings land in a parquet layout partitioned by
``pb = pmod(xxhash64(term), parts)``, and a query batch's BM25 top-k
becomes a partition-filtered posting-list intersection instead of the
in-query form's three recomputations of the postings rollup
(operators/text.py:bm25_topk — fine per ad-hoc query, wrong shape for
a served index at 100 TB).

Exactness under appends — the property the lifecycle tests pin:

- document frequency is computed at PROBE time over the touched
  ``pb`` partitions; ``pb`` is a pure function of the term, so every
  indexed posting of a query term lives inside the partitions the
  probe already reads — df over the filtered scan IS global df;
- the corpus constants the fixed-point BM25 rational needs (N = doc
  count, S = Σ doc lengths) are stored per label slice and SUMMED at
  probe time, so a probe over base + appended batches scores
  bit-identically to a from-scratch rebuild over the union (both
  feed the same integers into the same one-round-per-term contract
  as `bm25_topk` — agreement is test-pinned, and `bm25_topk`'s own
  DuckDB oracle transitively covers the scoring math).

Layout, label replace and compaction of ``postings`` (partitioned by
(bl, pb)) are the shared labeled-index lifecycle
(operators/labeled_index.py). ``stats`` is this family's own: one
(bl, n_docs, s_dl) row per label in a flat table, rewritten whole on
every append through the crash-safe swap, whose recovery preamble
runs before every stats read (append and probe).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from firefox_public_data_report_etl_spark.operators.labeled_index import (
    LabeledIndex,
    read_meta,
    recover_table,
    swap_table,
)

BM25_BUCKET_PARTS = 32  # same fan rationale as the other indexes
BM25_INDEX = LabeledIndex({"postings": ("pb",)})
META_SCHEMA = "id_col string, text_col string, bucket_parts int"
STATS_SCHEMA = "bl long, n_docs long, s_dl long"


def _postings(docs: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """(id, term, tf, dl) — the same bigram postings rollup
    `bm25_topk` builds in-query (one explode + one keyed shuffle)."""
    from firefox_public_data_report_etl_spark.operators.text import (
        doc_bigram_terms,
    )

    return doc_bigram_terms(docs, id_col, text_col).groupBy(
        id_col, "term"
    ).agg(
        F.count("*").cast("long").alias("tf"),
        F.first("dl").alias("dl"),
    )


def _postings_rows(docs: DataFrame, m) -> dict[str, DataFrame]:
    post = _postings(docs, m["id_col"], m["text_col"])
    return {
        "postings": post.withColumn(
            "pb", F.pmod(F.xxhash64("term"), F.lit(m["bucket_parts"]))
        )
    }


def _stats_row(docs: DataFrame, text_col: str, label: int) -> DataFrame:
    """The label's one (bl, N, S) row: doc count and Σ doc lengths."""
    t = F.split(F.col(text_col), " ")
    row = (
        docs.filter(F.size(t) >= 2)
        .select((F.size(t) - 1).cast("long").alias("dl"))
        .agg(
            F.count("*").cast("long").alias("n"),
            F.sum("dl").cast("long").alias("s"),
        )
        .head()
    )
    return docs.sparkSession.createDataFrame(
        [(label, int(row["n"]), int(row["s"] or 0))], STATS_SCHEMA
    )


def build_bm25_index(
    docs: DataFrame,
    path: str,
    *,
    id_col: str = "doc_id",
    text_col: str = "text",
    bucket_parts: int = BM25_BUCKET_PARTS,
) -> None:
    """Persist the corpus postings and stats under label 0 plus the
    one-row geometry meta read back at probe/append time."""
    m = dict(id_col=id_col, text_col=text_col, bucket_parts=bucket_parts)
    BM25_INDEX.build(path, _postings_rows(docs, m), m, META_SCHEMA)
    _stats_row(docs, text_col, 0).write.mode("overwrite").parquet(
        f"{path}/stats"
    )


def append_to_bm25_index(
    spark: SparkSession, path: str, docs: DataFrame, batch_label: int
) -> None:
    """Add (or replace) a batch's postings and stats row under their
    own label with the STORED geometry. Probes over the union score
    exactly as a rebuild (df/N/S all recombine, see module
    docstring)."""
    m = read_meta(spark, path)
    BM25_INDEX.append(spark, path, batch_label, _postings_rows(docs, m))
    recover_table(spark, path, "stats")
    stats = spark.read.parquet(f"{path}/stats").filter(
        F.col("bl") != batch_label
    )
    new = stats.union(_stats_row(docs, m["text_col"], batch_label))
    swap_table(spark, new.coalesce(1).write.mode("overwrite"), path, "stats")


def compact_bm25_index(spark: SparkSession, path: str) -> None:
    """Fold appended postings labels into bl=0, keeping the newest
    label. Stats rows stay per label: probes sum them anyway."""
    BM25_INDEX.compact(spark, path)


def bm25_topk_against_index(
    spark: SparkSession,
    path: str,
    query_docs: DataFrame,
    *,
    k: int = 5,
    df_cap_num: int = 1,
    df_cap_den: int = 1,
) -> DataFrame:
    """(q_id, <id>, score_fp, rank) — BM25 top-k of each query
    document against the INDEXED corpus, reading only the ``pb``
    partitions the query terms touch. Query documents that are part
    of the indexed corpus are excluded from their own result list
    (the `bm25_topk` contract). Identical integers to `bm25_topk`
    over the same corpus: same one-round-per-term idf quantization,
    same exact-BIGINT tf rational, same integer score sums."""
    from firefox_public_data_report_etl_spark.operators.text import (
        BM25_IDF_SCALE,
    )

    m = read_meta(spark, path)
    id_col = m["id_col"]
    recover_table(spark, path, "stats")
    stats = (
        spark.read.parquet(f"{path}/stats")
        .agg(F.sum("n_docs").alias("n"), F.sum("s_dl").alias("s"))
        .head()
    )
    n_docs, s_dl = int(stats["n"]), int(stats["s"])
    q = (
        _postings_rows(query_docs, m)["postings"]
        .select(F.col(id_col).alias("q_id"), "term", "pb")
        .persist()
    )

    def verify(post: DataFrame) -> DataFrame:
        # exact global df: pb = f(term), so the filtered scan holds
        # every posting of every query term
        idf = (
            post.groupBy("term")
            .agg(F.count("*").cast("long").alias("df"))
            .filter(F.col("df") * df_cap_den <= F.lit(n_docs * df_cap_num))
            .select(
                "term",
                F.round(
                    F.lit(BM25_IDF_SCALE)
                    * F.log(
                        (F.lit(float(n_docs)) - F.col("df") + 0.5)
                        / (F.col("df") + 0.5)
                        + 1.0
                    )
                )
                .cast("long")
                .alias("idf_fp"),
            )
        )
        qterms = q.join(idf, "term").select("q_id", "term", "idf_fp")
        num = F.lit(22 * s_dl) * F.col("tf")
        den = (
            F.lit(10 * s_dl) * F.col("tf")
            + F.lit(3 * s_dl)
            + F.lit(9 * n_docs) * F.col("dl")
        )
        contrib = F.round(
            F.col("idf_fp") * (num.cast("double") / den.cast("double"))
        ).cast("long")
        scored = (
            post.join(F.broadcast(qterms), "term")
            .filter(F.col(id_col) != F.col("q_id"))
            .select("q_id", id_col, contrib.alias("c"))
            .groupBy("q_id", id_col)
            .agg(F.sum("c").alias("score_fp"))
        )
        w = Window.partitionBy("q_id").orderBy(
            F.desc("score_fp"), F.asc(id_col)
        )
        return (
            scored.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= k)
            .select("q_id", id_col, "score_fp", "rank")
        )

    id_type = dict(query_docs.dtypes)[id_col]
    probe = BM25_INDEX.probe(
        spark, path, q, verify,
        f"q_id {id_type}, {id_col} {id_type}, score_fp long, rank long",
    )
    out = probe.pairs
    out._probe_persisted = probe.persisted
    return out
