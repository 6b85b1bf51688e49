"""Text-analysis operators for training-data pipelines: quality
scoring, language-ID heuristic, token statistics, fingerprinting.

All pure column expressions (whole-stage-codegen friendly); hashes use
the portable md5 fragment so the DuckDB oracle matches bit-for-bit.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

from firefox_public_data_report_etl_spark.functions import md5_int_spark_sql

STOPWORDS = ("a", "the")

# marker-word votes per language for the heuristic language-ID
LANG_MARKERS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of"),
    "de": ("der", "und", "die"),
    "es": ("el", "la", "los"),
}


def _count_in(arr, words) -> F.Column:
    lst = ", ".join(f"'{w}'" for w in words)
    return F.expr(f"size(filter({arr}, x -> x IN ({lst})))")


def quality_features(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc quality features: token count, distinct-type count,
    type-token ratio, average token length, stopword ratio.

    Exact-integer numerators/denominators; ratios are single final
    divisions (oracle-deterministic).
    """
    d = docs.select(
        id_col, "lang", F.split(F.col(text_col), " ").alias("t"), F.col(text_col).alias("_x")
    )
    d = d.select(
        id_col,
        "lang",
        F.size("t").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("t")).cast("long").alias("n_types"),
        F.length(F.regexp_replace("_x", " ", "")).cast("long").alias("_chars"),
        _count_in("t", STOPWORDS).cast("long").alias("_stops"),
    )
    return d.select(
        id_col,
        "lang",
        "n_tokens",
        "n_types",
        (F.col("n_types").cast("double") / F.col("n_tokens")).alias("ttr"),
        (F.col("_chars").cast("double") / F.col("n_tokens")).alias("avg_token_len"),
        (F.col("_stops").cast("double") / F.col("n_tokens")).alias("stop_ratio"),
    )


# BPE-ish pre-tokenizer: word pieces OR single non-space symbols —
# the regex split a byte-pair tokenizer applies before merges.
BPE_PRETOKEN_RE = r"[a-zA-Z0-9]+|[^a-zA-Z0-9\s]"
# ~chars-per-token heuristic divisor used for budget estimates.
CHARS_PER_TOKEN_EST = 4


def token_counts(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Per-doc token accounting for training budgets: whitespace
    tokens, BPE-ish pre-tokens (word pieces + punctuation symbols),
    and the chars/4 estimate. All JVM-side regexp work."""
    return docs.select(
        id_col,
        F.size(F.split(F.col(text_col), " ")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col(text_col), F.lit(BPE_PRETOKEN_RE), 0))
        .cast("long")
        .alias("bpe_tokens"),
        F.expr(f"length({text_col}) div {CHARS_PER_TOKEN_EST}")
        .cast("long")
        .alias("est_tokens"),
    )


def langid_heuristic(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """Marker-word-vote language ID: the language with the strictly
    highest marker count wins (ties → earlier language in the fixed
    order); zero votes → 'und'."""
    d = docs.select(id_col, "lang", F.split(F.col(text_col), " ").alias("t"))
    langs = list(LANG_MARKERS)
    for lang in langs:
        d = d.withColumn(f"_s_{lang}", _count_in("t", LANG_MARKERS[lang]))
    pred = F.lit("und")
    # build the when-chain back-to-front so earlier langs win ties
    for lang in reversed(langs):
        others = [o for o in langs if o != lang]
        is_best = F.col(f"_s_{lang}") > 0
        for o in others:
            cmp = (
                F.col(f"_s_{lang}") >= F.col(f"_s_{o}")
                if langs.index(o) > langs.index(lang)
                else F.col(f"_s_{lang}") > F.col(f"_s_{o}")
            )
            is_best = is_best & cmp
        pred = F.when(is_best, F.lit(lang)).otherwise(pred)
    return d.select(
        id_col,
        F.col("lang").alias("labeled_lang"),
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("is_match"),
    )


FINGERPRINT_GRAM = 5


def fingerprint(docs: DataFrame, id_col: str = "doc_id", text_col: str = "text") -> DataFrame:
    """(id, fp_min, n_grams, n_distinct): rolling character-5-gram
    hash fingerprint — min hash over all positions plus gram counts
    (a winnowing-lite document signature)."""
    k = FINGERPRINT_GRAM
    d = docs.select(id_col, F.col(text_col).alias("x")).filter(
        F.length("x") >= k
    )
    grams = d.select(
        id_col,
        F.explode(
            F.expr(f"transform(sequence(1, length(x) - {k - 1}), i -> substr(x, i, {k}))")
        ).alias("g"),
    )
    hashed = grams.withColumn("h", F.expr(md5_int_spark_sql("g")))
    return hashed.groupBy(id_col).agg(
        F.min("h").alias("fp_min"),
        F.count("*").alias("n_grams"),
        F.countDistinct("h").alias("n_distinct"),
    )


WINNOW_W = 8  # hashes per winnowing window; guarantee threshold
# t = WINNOW_W + FINGERPRINT_GRAM - 1 = 12 chars: any common substring
# of length >= t shares at least one SELECTED fingerprint
_WINNOW_POS_CAP = 1 << 20  # max gram positions per doc in the packed
# key (h < 2^28, so the cap can rise to 2^35 before h*CAP leaves
# int64 — a layout constant, not an algorithmic limit)


def _winnow_keyed(
    docs: DataFrame,
    id_col: str,
    text_col: str,
    k: int,
    w: int,
):
    """Shared packed-key projection of the winnowing family:
    (id, n_grams, keys array<long>) with keys[i] = h_i * CAP +
    (CAP - 1 - pos_i). One narrow Catalyst projection (the md5
    stays JVM-side); the repartition only fires when a small-file
    local scan yields fewer partitions than cores — at production
    split counts it is a no-op and the full-text shuffle never
    happens. Returns (keyed_df, cap)."""
    d = docs.select(id_col, F.col(text_col).alias("x")).filter(
        F.length("x") >= k + w - 1  # at least one full window
    )
    sc = docs.sparkSession.sparkContext
    if d.rdd.getNumPartitions() < sc.defaultParallelism:
        d = d.repartition(sc.defaultParallelism, id_col)
    cap = _WINNOW_POS_CAP
    h_sql = md5_int_spark_sql(f"substr(x, CAST(i AS INT), {k})")
    # Fail LOUDLY on documents whose gram-position count overflows the
    # packed-key layout (pos >= CAP would go negative and let distinct
    # hashes collide): the guard rides the same projection, costs
    # nothing on conforming rows, and raises task-side at execution —
    # no driver-side count, no silent corruption.
    keys_sql = (
        f"CASE WHEN length(x) - {k - 1} < {cap} THEN"
        f" transform(sequence(1, length(x) - {k - 1}),"
        f" i -> {h_sql} * {cap} + ({cap} - 1 - i))"
        f" ELSE raise_error(concat('winnow_fingerprints: document ',"
        f" CAST({id_col} AS STRING),"
        f" ' has >= {cap} gram positions (text longer than"
        f" CAP + k - 1 chars) — exceeds the _WINNOW_POS_CAP"
        f" packed-key layout; chunk or truncate the document'))"
        f" END"
    )
    keyed = d.select(
        id_col,
        (F.length("x") - (k - 1)).cast("long").alias("n_grams"),
        F.expr(keys_sql).alias("keys"),
    )
    return keyed, cap


def winnow_doc_stats(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = FINGERPRINT_GRAM,
    w: int = WINNOW_W,
) -> DataFrame:
    """Per-document rollup of the winnowing signature — (id, n_grams,
    n_selected, n_distinct_h, fp_min) — computed INSIDE the selection
    kernel instead of aggregating `winnow_fingerprints` rows: the
    Arrow stage already holds each document's sorted selected set, so
    the stats are a few numpy reductions and the signature relation
    (25% of gram positions) is never emitted, shuffled, or
    re-aggregated. ZERO shuffles end to end; identical values to
    ``winnow_fingerprints(...).groupBy(id).agg(count, countDistinct
    (h), min(h))`` (agreement is test-pinned and the registry row's
    oracle is unchanged). Use this for signature audits/reports; use
    `winnow_fingerprints` when downstream joins need the (id, h)
    rows."""
    keyed, cap = _winnow_keyed(docs, id_col, text_col, k, w)
    id_field = keyed.schema[id_col]
    out_schema = (
        f"{id_col} {id_field.dataType.simpleString()},"
        " n_grams bigint, n_selected bigint, n_distinct_h bigint,"
        " fp_min bigint"
    )

    def _stats(batches):
        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            ids, ngs, nsel, ndis, fpm = [], [], [], [], []
            for did, ng, keys in zip(
                pdf[id_col], pdf["n_grams"], pdf["keys"]
            ):
                a = np.asarray(keys, dtype=np.int64)
                sel = np.unique(sliding_window_view(a, w).min(axis=1))
                h = sel // cap
                ids.append(did)
                ngs.append(ng)
                nsel.append(len(sel))
                # sel is sorted and h*CAP dominates the packed key, so
                # h is sorted too: h[0] is the min and adjacent
                # comparison counts the distinct hashes
                ndis.append(int(1 + np.count_nonzero(h[1:] != h[:-1])))
                fpm.append(int(h[0]))
            if ids:
                yield pd.DataFrame(
                    {
                        id_col: ids,
                        "n_grams": ngs,
                        "n_selected": nsel,
                        "n_distinct_h": ndis,
                        "fp_min": fpm,
                    }
                )

    return keyed.mapInPandas(_stats, schema=out_schema)


def winnow_fingerprints(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    k: int = FINGERPRINT_GRAM,
    w: int = WINNOW_W,
) -> DataFrame:
    """Winnowing document fingerprints — the full Schleimer/Wilkerson/
    Aiken (SIGMOD 2003) selection rule, not the min-only "winnowing
    lite" of `fingerprint`: over every window of ``w`` consecutive
    character-``k``-gram hashes, select the minimum hash, RIGHTMOST
    occurrence on ties. Output is the distinct selected
    ``(id, pos, h)`` set — the signature with the guarantee that any
    shared substring of length >= w + k - 1 contributes at least one
    shared selected fingerprint (what makes the pair join below
    lossless for long overlaps).

    The tie rule is implemented portably with ONE integer: each gram
    packs into ``key = h * CAP + (CAP - 1 - pos)``, so a plain MIN
    over each window picks the smallest hash and, among equal hashes,
    the largest position — no struct ordering, no argmin tie
    ambiguity, and the DuckDB oracle replays the identical arithmetic
    (its window-min over the same packed keys selects the same set).

    Shape (round-12 rewrite — the array-native convention that fixed
    MinHash and the caption matmuls): the per-doc packed-key stream
    is ONE Catalyst array projection (the md5 stays JVM-side), and
    the w-window rightmost-tie min runs as a numpy
    ``sliding_window_view(...).min(axis=1)`` inside a single Arrow
    stage that emits only the ~2/(w+1)-density selected set as rows.
    Zero shuffles, zero sorts: the old posexplode → (doc, chunk)
    window → distinct pipeline shuffled and sorted the FULL gram
    relation twice (25× its own oracle at sf0.1, round-11 verdict);
    here grams never become rows at all. Per-doc selection is
    already distinct, so no global distinct is needed.

    Scale: narrow scan → projection → mapInPandas; parallelism is
    the scan's own split count (the repartition below only fires in
    small-file local runs where the scan yields fewer partitions
    than cores — at production split counts it is a no-op and the
    full-text shuffle never happens). Task memory is one Arrow batch
    (≤ spark.sql.execution.arrow.maxRecordsPerBatch docs) of key
    arrays, bounded by the _WINNOW_POS_CAP layout guard below."""
    keyed, cap = _winnow_keyed(docs, id_col, text_col, k, w)
    id_field = keyed.schema[id_col]
    out_schema = (
        f"{id_col} {id_field.dataType.simpleString()},"
        " n_grams bigint, h bigint, sel_pos bigint"
    )

    def _select(batches):
        import numpy as np
        import pandas as pd
        from numpy.lib.stride_tricks import sliding_window_view

        for pdf in batches:
            ids, ngs, hs, ps = [], [], [], []
            for did, ng, keys in zip(
                pdf[id_col], pdf["n_grams"], pdf["keys"]
            ):
                a = np.asarray(keys, dtype=np.int64)
                sel = np.unique(sliding_window_view(a, w).min(axis=1))
                ids.append(np.full(len(sel), did))
                ngs.append(np.full(len(sel), ng, dtype=np.int64))
                hs.append(sel // cap)
                ps.append(cap - 1 - sel % cap)
            if ids:
                yield pd.DataFrame(
                    {
                        id_col: np.concatenate(ids),
                        "n_grams": np.concatenate(ngs),
                        "h": np.concatenate(hs),
                        "sel_pos": np.concatenate(ps),
                    }
                )

    return keyed.mapInPandas(_select, schema=out_schema)


def text_profile_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Fused per-document text profile: token accounting
    (`token_counts`), marker-vote language-ID (`langid_heuristic`),
    Gopher repetition signals (`repetition_features`), 28-bit SimHash
    (`dedup.simhash_signatures`), and the rolling-5-gram fingerprint
    (`fingerprint`) — semantically the five-way doc-grain join of
    those operators, computed in TWO passes instead of five rescans
    re-joined at doc grain:

    - one NARROW pass carries every per-doc column family: token
      counts, langid votes, and the 5-gram hash array, computed in a
      single widened projection whose Arrow stage reduces the gram
      array to the fingerprint stats (min / count / distinct via
      numpy) and passes the other columns through. The array is
      evaluated exactly ONCE — naming it in a projection and reading
      it from three sibling expressions triples the md5 work under
      CollapseProject inlining (measured 2× slower even widened);
      the mapInPandas boundary is the evaluate-once barrier, the
      winnowing rewrite's convention. NULL fingerprint family for
      sub-5-char docs exactly like the LEFT join it replaces;
    - one exploded pass covers both token-grain families: tokens
      group to (doc, token) counts FIRST, so the md5 for the SimHash
      votes is computed once per distinct token (not per occurrence)
      and the repetition aggregate rides the same shuffle. Votes are
      count-weighted, which equals the per-occurrence vote sum.

    Output columns and values are bit-identical to the five-way join
    (same oracle); the individual operators stay public for callers
    that need one family alone."""
    from firefox_public_data_report_etl_spark.operators.dedup import (
        SIMHASH_BITS,
    )
    from firefox_public_data_report_etl_spark.operators.parallelism import (
        widen_partitions,
    )

    k = FINGERPRINT_GRAM
    base = widen_partitions(docs).select(
        id_col,
        "lang",
        F.col(text_col).alias("x"),
        F.split(F.col(text_col), " ").alias("t"),
    )

    # --- narrow families: one projection + one Arrow reduce ---------
    langs = list(LANG_MARKERS)
    narrow = base
    for lang in langs:
        narrow = narrow.withColumn(f"_s_{lang}", _count_in("t", LANG_MARKERS[lang]))
    pred = F.lit("und")
    for lang in reversed(langs):
        others = [o for o in langs if o != lang]
        is_best = F.col(f"_s_{lang}") > 0
        for o in others:
            cmp = (
                F.col(f"_s_{lang}") >= F.col(f"_s_{o}")
                if langs.index(o) > langs.index(lang)
                else F.col(f"_s_{lang}") > F.col(f"_s_{o}")
            )
            is_best = is_best & cmp
        pred = F.when(is_best, F.lit(lang)).otherwise(pred)
    gram_h_sql = md5_int_spark_sql(f"substr(x, CAST(i AS INT), {k})")
    gh = F.expr(
        f"CASE WHEN length(x) >= {k} THEN"
        f" transform(sequence(1, length(x) - {k - 1}), i -> {gram_h_sql})"
        f" END"
    )
    proj = narrow.select(
        id_col,
        F.size("t").cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("x"), F.lit(BPE_PRETOKEN_RE), 0))
        .cast("long")
        .alias("bpe_tokens"),
        F.expr(f"length(x) div {CHARS_PER_TOKEN_EST}").cast("long").alias("est_tokens"),
        F.col("lang").alias("labeled_lang"),
        pred.alias("pred_lang"),
        (pred == F.col("lang")).alias("is_match"),
        gh.alias("_gh"),
    )

    id_type = proj.schema[id_col].dataType.simpleString()
    out_schema = (
        f"{id_col} {id_type}, ws_tokens bigint, bpe_tokens bigint,"
        " est_tokens bigint, labeled_lang string, pred_lang string,"
        " is_match boolean, fp_min bigint, n_grams bigint,"
        " n_distinct bigint"
    )
    pass_cols = [
        id_col, "ws_tokens", "bpe_tokens", "est_tokens",
        "labeled_lang", "pred_lang", "is_match",
    ]

    def _fp_stats(batches):
        import numpy as np
        import pandas as pd

        for pdf in batches:
            mins, ngs, nds = [], [], []
            for g in pdf["_gh"]:
                if g is None or len(g) == 0:
                    mins.append(None)
                    ngs.append(None)
                    nds.append(None)
                else:
                    a = np.asarray(g, dtype=np.int64)
                    mins.append(int(a.min()))
                    ngs.append(len(a))
                    nds.append(int(len(np.unique(a))))
            out = pdf[pass_cols].copy()
            out["fp_min"] = pd.array(mins, dtype="Int64")
            out["n_grams"] = pd.array(ngs, dtype="Int64")
            out["n_distinct"] = pd.array(nds, dtype="Int64")
            yield out

    narrow = proj.mapInPandas(_fp_stats, schema=out_schema)

    # --- token-grain families: one explode, two keyed aggregates ----
    per_tok = (
        base.select(id_col, F.explode("t").alias("w"))
        .groupBy(id_col, "w")
        .agg(F.count("*").alias("c"))
        .withColumn("h", F.expr(md5_int_spark_sql("w")))
    )
    votes = [
        F.sum(
            F.when(F.expr(f"shiftright(h, {b}) & 1") == 1, F.col("c")).otherwise(
                -F.col("c")
            )
        ).alias(f"_v{b}")
        for b in range(SIMHASH_BITS)
    ]
    agg = per_tok.groupBy(id_col).agg(
        F.sum("c").alias("n_tokens"),
        F.max("c").alias("top_token_count"),
        F.count("*").alias("n_distinct_tokens"),
        *votes,
    )
    sim = None
    for b in range(SIMHASH_BITS):
        term = F.when(F.col(f"_v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    tok_fam = agg.select(
        id_col,
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.col("top_token_count").cast("long").alias("top_token_count"),
        (F.col("top_token_count").cast("double") / F.col("n_tokens")).alias(
            "top_token_dominance"
        ),
        (F.col("n_distinct_tokens").cast("double") / F.col("n_tokens")).alias(
            "distinct_token_ratio"
        ),
        sim.cast("long").alias("simhash"),
    )

    return narrow.join(tok_fam, id_col).select(
        id_col,
        "ws_tokens",
        "bpe_tokens",
        "est_tokens",
        "labeled_lang",
        "pred_lang",
        "is_match",
        "n_tokens",
        "top_token_count",
        "top_token_dominance",
        "distinct_token_ratio",
        "simhash",
        "fp_min",
        "n_grams",
        "n_distinct",
    )


def hash_split(
    docs: DataFrame,
    id_col: str = "doc_id",
    weights: tuple[int, int, int] = (80, 10, 10),
) -> DataFrame:
    """Deterministic train/val/test assignment by content-independent
    key hash — the split every training pipeline needs: stable across
    runs and cluster sizes (pure function of the id, no RNG, no
    ordering dependence), stratification-free by construction because
    the hash is uniform.

    Buckets: hash(id) mod 100 → [0,w0) train, [w0,w0+w1) val, rest
    test. Uses the portable md5 fragment so the assignment is
    reproducible in ANY engine a team might audit the split with
    (SQL/DuckDB/Spark give identical buckets). Narrow (no shuffle):
    the split column is a projection."""
    w0, w1, w2 = weights
    if w0 + w1 + w2 != 100:
        raise ValueError("weights must sum to 100")
    bucket = F.expr(md5_int_spark_sql(f"cast({id_col} as string)")) % 100
    return docs.withColumn(
        "split",
        F.when(bucket < w0, "train")
        .when(bucket < w0 + w1, "val")
        .otherwise("test"),
    )


def repetition_features(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Gopher-style repetition signals per document: top-token
    dominance (count of the modal token / total tokens) and the
    distinct-token ratio. Highly repetitive machine-generated text
    scores high dominance / low distinct ratio and gets filtered
    before training.

    Shape: explode to (doc, token) → one count aggregate → one max
    aggregate back at doc grain. Two shuffles on doc-keyed data, both
    with map-side combine; no strings leave the first aggregate."""
    toks = docs.select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    per_tok = toks.groupBy(id_col, "w").agg(F.count("*").alias("c"))
    return (
        per_tok.groupBy(id_col)
        .agg(
            F.sum("c").alias("n_tokens"),
            F.max("c").alias("top_token_count"),
            F.count("*").alias("n_distinct_tokens"),
        )
        .select(
            id_col,
            "n_tokens",
            "top_token_count",
            (F.col("top_token_count").cast("double") / F.col("n_tokens")).alias(
                "top_token_dominance"
            ),
            (
                F.col("n_distinct_tokens").cast("double") / F.col("n_tokens")
            ).alias("distinct_token_ratio"),
        )
    )


def stratified_sample(
    docs: DataFrame,
    strata_col: str,
    k: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Deterministic K-per-stratum subsample: within each stratum,
    rank by the portable hash of the id (uniform, content-independent,
    reproducible in any engine) and keep the first ``k``. The
    hash-order rank is a seedless reservoir: stable under reruns,
    insensitive to input partitioning/ordering, and adding documents
    never reorders survivors ranked before them.

    Scale: one window shuffle on the stratum key; skewed strata are
    bounded by k rows OUT, and the rank is computed with a single sort
    per partition. For extreme per-stratum cardinality, pre-filter
    with an approximate hash threshold (hash < k/N quantile) before
    the exact window."""
    h = F.expr(md5_int_spark_sql(f"cast({id_col} as string)"))
    w = Window.partitionBy(strata_col).orderBy(h, F.col(id_col))
    return (
        docs.withColumn("rank_in_stratum", F.row_number().over(w).cast("long"))
        .filter(F.col("rank_in_stratum") <= k)
    )


def inverted_index(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Token → posting-list inverted index: one row per distinct
    token with document frequency and the sorted posting list
    (stringified — cross-engine array comparison goes through the P1
    stringify convention).

    Shape: explode to (doc, token), in-row distinct first (narrow),
    then ONE shuffle keyed by token builds every posting list with
    collect_set. Posting lists are the retrieval side of corpus work;
    at 100 TB the token key is zipfian — the hot-key mitigation is
    capping/splitting head-token postings (they are stop-words a
    retrieval stack drops anyway)."""
    toks = docs.select(
        id_col,
        F.explode(
            F.array_distinct(F.split(F.col(text_col), " "))
        ).alias("token"),
    )
    return toks.groupBy("token").agg(
        F.count("*").alias("df"),
        F.concat_ws(
            ",", F.transform(F.array_sort(F.collect_set(id_col)), lambda x: x.cast("string"))
        ).alias("postings"),
    )


def tfidf_top_terms(
    docs: DataFrame,
    k: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Top-k characteristic terms per document by a log-free tf-idf
    (score = tf * N / df): transcendental idf would break bit-exact
    cross-engine parity AND adds nothing to the ranking (ln is
    monotone in N/df, and per-doc ranking only compares scores with
    equal tf scale). Deterministic tie-break (score desc, token asc).

    Shape: (doc, token) counts [shuffle 1], token df aggregate
    [shuffle 2, vocabulary-sized], broadcast df back, per-doc window
    top-k [shuffle 3 on doc]. The df table is vocabulary-cardinality —
    broadcastable at any corpus size that has a language."""
    toks = docs.select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    tf = toks.groupBy(id_col, "token").agg(F.count("*").alias("tf"))
    df_tab = tf.groupBy("token").agg(F.count("*").alias("df"))
    n_docs = docs.select(id_col).distinct().count()
    scored = tf.join(F.broadcast(df_tab), "token").select(
        id_col,
        "token",
        "tf",
        "df",
        (F.col("tf").cast("double") * n_docs / F.col("df")).alias("score"),
    )
    w = Window.partitionBy(id_col).orderBy(F.desc("score"), F.asc("token"))
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= k)
    )


def pack_sequences(
    docs: DataFrame,
    capacity: int = 512,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Concat-then-chunk sequence packing — the standard LLM
    pretraining layout: documents are concatenated in deterministic
    order into a token stream and cut into fixed-``capacity`` context
    windows; a document belongs to the window its FIRST token lands in
    (straddling documents continue into the next window, handled
    downstream by EOD tokens / attention masks).

    Packing is per-shard (``hash-mod n_shards``), which is how real
    pipelines run it: each worker packs its shard independently, so
    the ordered prefix-sum is a window PARTITIONED by shard — never a
    global single-partition sort. Widen ``n_shards`` with the data
    (target: shard fits one task's memory for the sort); assignments
    stay deterministic at any partitioning because order is
    (shard, doc_id) and tokens are a pure function of the text.

    Returns per-doc: shard, tokens (chars/4 estimate, or the exact
    per-doc count in ``tokens_col`` when given — the real-BPE-ids
    composition passes ``bpe_apply``'s per-doc token counts), bin_id
    (chunk index within shard), bin_offset (token offset of the
    doc's start inside its chunk).
    """
    toks = docs.select(
        id_col,
        (F.col(id_col) % n_shards).alias("shard"),
        (
            F.col(tokens_col)
            if tokens_col
            else F.expr(f"length({text_col}) div {CHARS_PER_TOKEN_EST}")
        )
        .cast("long")
        .alias("tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = toks.withColumn("cum", F.sum("tokens").over(w))
    # integer div/mod (not float /): exact at any stream length
    return cum.select(
        id_col,
        "shard",
        "tokens",
        F.expr(f"(cum - tokens) div {capacity}").cast("long").alias("bin_id"),
        ((F.col("cum") - F.col("tokens")) % capacity)
        .cast("long")
        .alias("bin_offset"),
    )


def pack_window_spans(
    docs: DataFrame,
    capacity: int = 512,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
    tokens_col: str | None = None,
) -> DataFrame:
    """Per-WINDOW span manifest for concat-then-chunk packing — the
    artifact a trainer actually reads: for every (shard, bin_id)
    context window, the documents present in it with their in-window
    offset and span length, INCLUDING continuations of documents that
    started in an earlier window (``is_start`` false) — exactly what
    EOD-token insertion and block-diagonal attention masks need.
    ``pack_sequences`` places each doc once (by its first token); this
    explodes the doc's token interval [cum-tokens, cum) over every
    window it intersects via a bounded ``sequence()`` (a doc of T
    tokens touches at most T/capacity + 1 windows — the explode is
    corpus-linear in tokens, never quadratic).

    Zero-token docs (possible under the chars/4 estimate) occupy no
    window and emit no span — the oracle's interval semantics agree.

    Scale: same single shard-partitioned prefix-sum window as
    ``pack_sequences``; the explode is map-side (no extra shuffle).
    """
    toks = docs.select(
        id_col,
        (F.col(id_col) % n_shards).alias("shard"),
        (
            F.col(tokens_col)
            if tokens_col
            else F.expr(f"length({text_col}) div {CHARS_PER_TOKEN_EST}")
        )
        .cast("long")
        .alias("tokens"),
    )
    w = (
        Window.partitionBy("shard")
        .orderBy(id_col)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    iv = (
        toks.withColumn("cum", F.sum("tokens").over(w))
        .filter(F.col("tokens") > 0)
        .select(
            id_col,
            "shard",
            (F.col("cum") - F.col("tokens")).alias("s"),
            F.col("cum").alias("e"),
        )
    )
    cap = F.lit(capacity)
    b = F.explode(
        F.sequence(
            F.expr(f"s div {capacity}"), F.expr(f"(e - 1) div {capacity}")
        )
    ).alias("bin_id")
    spans = iv.select(id_col, "shard", "s", "e", b)
    win_lo = F.col("bin_id") * cap
    return spans.select(
        "shard",
        F.col("bin_id").cast("long").alias("bin_id"),
        id_col,
        (F.greatest(F.col("s"), win_lo) - win_lo)
        .cast("long")
        .alias("tok_offset"),
        (
            F.least(F.col("e"), win_lo + cap)
            - F.greatest(F.col("s"), win_lo)
        )
        .cast("long")
        .alias("span_len"),
        (F.col("bin_id") == F.expr(f"s div {capacity}")).alias("is_start"),
    )


def pack_no_split(
    docs: DataFrame,
    capacity: int = 512,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """No-split packing — the OTHER standard layout besides
    concat-then-chunk (pack_sequences): documents are never divided
    across windows (SFT / instruction-tuning, where truncating an
    example corrupts it); a window holds whole documents and wastes
    its tail. Strategy: next-fit-decreasing per shard — sort by
    (tokens DESC, id), walk once, open a new bin when the current one
    can't fit the next doc. Deterministic, single sequential state
    (bin, fill), so the DuckDB oracle replays it as a linear
    recursive CTE bit-for-bit; NFD waste is bounded (≤ 2x optimal)
    and reported per window by packing rollups.

    Docs with tokens == 0 or tokens > capacity are EXCLUDED (an
    oversized doc can never be packed whole; the caller chunks it
    first — document_chunks — or raises capacity).

    Scale: the walk is inherently sequential per shard, so shards are
    the parallelism knob exactly as in pack_sequences: one Arrow
    group per shard (n_shards = corpus/shard_rows keeps groups
    task-sized), no shuffle beyond the one groupBy exchange.
    """
    import pandas as _pd

    toks = docs.select(
        id_col,
        (F.col(id_col) % n_shards).alias("shard"),
        F.expr(f"length({text_col}) div {CHARS_PER_TOKEN_EST}")
        .cast("long")
        .alias("tokens"),
    ).filter((F.col("tokens") > 0) & (F.col("tokens") <= capacity))

    def _walk(pdf: _pd.DataFrame) -> _pd.DataFrame:
        pdf = pdf.sort_values(
            ["tokens", id_col], ascending=[False, True]
        ).reset_index(drop=True)
        bins, offs = [], []
        bin_id, fill = 0, 0
        for t in pdf["tokens"]:
            if fill + t <= capacity:
                offs.append(fill)
                fill += t
            else:
                bin_id += 1
                offs.append(0)
                fill = t
            bins.append(bin_id)
        pdf["bin_id"] = _pd.Series(bins, dtype="int64")
        pdf["bin_offset"] = _pd.Series(offs, dtype="int64")
        return pdf[["shard", id_col, "tokens", "bin_id", "bin_offset"]]

    return toks.groupBy("shard").applyInPandas(
        _walk,
        schema=f"shard long, {id_col} long, tokens long, bin_id long,"
        " bin_offset long",
    )


def sft_pack_loss_mask(
    docs: DataFrame,
    capacity: int = 512,
    n_shards: int = 8,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """SFT assembly: no-split packing of two-part (prompt/completion)
    examples with per-span loss masks — the layout instruction-tuning
    loaders consume, where the loss is computed over completion
    tokens ONLY and prompt tokens are attended but masked out.

    Documents ride the exact `pack_no_split` NFD walk (one packing
    code path — SFT windows can never tile differently from the plain
    no-split layout); each packed doc then splits into two contiguous
    spans inside its window:

      (part='prompt',     loss_mask=false) [bin_offset, +prompt_len)
      (part='completion', loss_mask=true)  [+prompt_len, +tokens)

    The prompt/completion boundary is a deterministic per-doc rule
    (30-70% prompt share by ``id % 5``, >= 1 token each side — the
    container has no instruction corpus, so the boundary is synthetic
    but the packing/masking algebra is real), so the DuckDB oracle
    recomputes it closed-form. Docs with < 2 tokens are excluded (an
    SFT example needs a non-empty prompt AND completion); both spans
    exist for every packed doc and conserve its tokens exactly
    (span-union property pinned by test).

    Scale: inherits pack_no_split's contract — sequential walk per
    shard, shards are the parallelism knob, the split is pure
    Catalyst arithmetic after the walk (no second Python stage).
    """
    eligible = docs.filter(
        F.length(text_col) >= 2 * CHARS_PER_TOKEN_EST
    )
    packed = pack_no_split(
        eligible, capacity=capacity, n_shards=n_shards,
        id_col=id_col, text_col=text_col,
    )
    p_len = F.least(
        F.col("tokens") - 1,
        F.greatest(
            F.lit(1),
            F.expr(f"(tokens * (({id_col} % 5) + 3)) div 10"),
        ),
    ).cast("long")
    parts = packed.withColumn("prompt_len", p_len)
    span = F.explode(
        F.array(
            F.struct(
                F.lit("prompt").alias("part"),
                F.col("bin_offset").alias("span_offset"),
                F.col("prompt_len").alias("span_len"),
                F.lit(False).alias("loss_mask"),
            ),
            F.struct(
                F.lit("completion").alias("part"),
                (F.col("bin_offset") + F.col("prompt_len")).alias(
                    "span_offset"
                ),
                (F.col("tokens") - F.col("prompt_len")).alias("span_len"),
                F.lit(True).alias("loss_mask"),
            ),
        )
    ).alias("sp")
    return parts.select("shard", "bin_id", id_col, span).select(
        "shard",
        "bin_id",
        id_col,
        F.col("sp.part").alias("part"),
        F.col("sp.span_offset").cast("long").alias("span_offset"),
        F.col("sp.span_len").cast("long").alias("span_len"),
        F.col("sp.loss_mask").alias("loss_mask"),
    )


# --- cross-document boilerplate (corpus-repeated n-grams) -----------

BOILER_GRAM = 3  # token n-gram length for the boilerplate signal
BOILER_MIN_DF = 5  # a gram in >= this many distinct docs is boilerplate


def doc_ngrams(
    docs: DataFrame,
    n: int = BOILER_GRAM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """One row per (doc, token-position): the word n-gram starting at
    that position, joined with single spaces. Docs shorter than ``n``
    tokens emit no rows (same as DuckDB UNNEST of an empty list).

    The gram string is built AFTER posexplode (slice + array_join run
    inside WholeStageCodegen per exploded row) — never inside a
    higher-order-function lambda, per the interpreted-lambda rule in
    SCALING.md.
    """
    d = docs.select(id_col, F.split(F.col(text_col), " ").alias("t")).filter(
        F.size("t") >= n
    )
    pos = d.select(
        id_col,
        "t",
        F.explode(F.expr(f"sequence(1, size(t) - {n - 1})")).alias("i"),
    )
    return pos.select(
        id_col,
        F.array_join(F.expr(f"slice(t, i, {n})"), " ").alias("gram"),
    )


def boilerplate_scores(
    docs: DataFrame,
    n: int = BOILER_GRAM,
    min_df: int = BOILER_MIN_DF,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Gopher/C4-style cross-document boilerplate signal: an n-gram
    appearing in >= ``max(min_df, ceil(n_docs/100))`` DISTINCT
    documents is boilerplate (headers, footers, license blurbs, nav
    text); each doc is scored by the fraction of its gram positions
    covered by such grams.

    The threshold is CORPUS-RELATIVE with an absolute floor (round-6
    fix): a fixed ``min_df`` silently inverts the operator as the
    corpus grows — at 10x the test corpus EVERY common 3-gram clears
    df>=5, boiler_frac saturates near 1.0, and a curation gate keyed
    on it drops the whole corpus (measured: 0 of 4263 docs survived at
    sf0.1). Boilerplate means "shared by an appreciable FRACTION of
    the corpus", so the df cut scales as 1% of the input doc count,
    floored at ``min_df`` for tiny corpora. Cross-engine parity holds
    at ANY corpus size because the DuckDB twins compute the SAME
    relative cut from the same count — that is the invariant to
    preserve; the floor additionally meant outputs at the <=500-doc
    SFs did not change when the cut became relative. The doc count
    rides in as a broadcast 1-row aggregate — no driver action, no
    collected scalar; it does cost one extra evaluation of the input
    lineage (a narrow scan-speed pass when the input is a projection/
    filter chain, as in the curation capstones), the deliberate trade
    against caching corpus text just to count it.

    This is the cross-corpus complement of ``repetition_features``
    (within-doc repetition): a doc can be internally clean yet mostly
    boilerplate shared with thousands of siblings — the thing a
    training-data filter must catch corpus-wide, not per-row.

    Scale: two equi shuffles — (1) distinct (doc, gram) -> groupBy
    gram for document frequency; (2) grams join df on gram -> groupBy
    doc. The df side is gram-cardinality (never broadcast).
    Both keys are the gram's 8-byte ``xxhash64``, not the gram
    STRING: same plan shape, ~2-3x narrower exchange payload,
    measured faster at every point of the SCALING.md round-6 sweep
    (1.5x wall at the 100x stack on loopback shuffle; the byte cut
    matters more once shuffle crosses a network). The hash is
    internal to the two shuffles: counts equal the raw-string keying
    up to 64-bit collisions (~N^2/2^65 expected — zero at any real
    corpus), so the DuckDB oracle keys by the gram string and still
    matches.
    """
    grams = doc_ngrams(docs, n=n, id_col=id_col, text_col=text_col).select(
        id_col, F.xxhash64("gram").alias("gram")
    )
    ndocs = docs.select(F.count("*").cast("long").alias("_nd"))
    df = (
        grams.dropDuplicates([id_col, "gram"])
        .groupBy("gram")
        .agg(F.count("*").cast("long").alias("gram_df"))
        .crossJoin(F.broadcast(ndocs))
        .select(
            "gram",
            "gram_df",
            F.greatest(
                F.lit(min_df).cast("long"),
                F.expr("(_nd + 99) div 100").cast("long"),
            ).alias("_cut"),
        )
    )
    scored = grams.join(df, "gram")
    return (
        scored.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_grams"),
            F.sum((F.col("gram_df") >= F.col("_cut")).cast("long"))
            .cast("long")
            .alias("n_boiler"),
        )
        .withColumn(
            "boiler_frac",
            F.col("n_boiler").cast("double") / F.col("n_grams"),
        )
    )


# --- PII redaction --------------------------------------------------

# Patterns restricted to the Java-regex AND RE2 common subset (no
# lookaround, no backreferences, ASCII classes) so the Spark plan and
# the DuckDB oracle compile the same automaton.
PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("phone", r"\d{3}[- ]\d{3}[- ]\d{4}", "<PHONE>"),
    ("ipv4", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
    ("idnum", r"\b\d{9,}\b", "<ID>"),
)


def pii_scrub(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    keep_cols: tuple[str, ...] = (),
) -> DataFrame:
    """Redact emails, phone numbers, IPv4 addresses, and long digit
    runs; return per-doc match counts per category plus the scrubbed
    text. Categories apply IN ORDER, each counting against the text as
    already scrubbed by earlier categories, so one span is never
    counted twice (an email's digits are gone before the digit-run
    pass sees them).

    Pure regexp column expressions — per-row, shuffle-free, inside
    WholeStageCodegen; at 100 TB this is scan-speed work.
    """
    x = F.col(text_col)
    counts = []
    for name, pat, repl in PII_PATTERNS:
        counts.append(
            F.size(F.regexp_extract_all(x, F.lit(pat), 0))
            .cast("long")
            .alias(f"n_{name}")
        )
        x = F.regexp_replace(x, pat, repl)
    return docs.select(id_col, *keep_cols, *counts, x.alias("scrubbed"))


def dedup_line_spans(
    docs: DataFrame,
    span_tokens: int = 10,
    id_col: str = "doc_id",
    text_col: str = "text",
    first_occurrence: str = "window",
) -> DataFrame:
    """C4-rule span-grain dedup (Raffel et al. 2020 §2.2 removed
    repeated three-sentence spans corpus-wide; this corpus has no
    sentence structure, so the unit is a fixed ``span_tokens`` token
    window): every exact duplicate occurrence of a span ANYWHERE in
    the corpus is dropped except the first (lowest (doc_id, seg_no)),
    and documents are reassembled from their surviving spans.

    Output: (doc_id, n_spans, n_kept, text_dedup) — text_dedup is ''
    for a document whose every span occurred earlier (a late exact
    duplicate), so the row itself survives for the keep/drop report.

    Shape: segmentation is narrow codegen (sequence + slice — the
    token array is cut in place, no shuffle). ``first_occurrence``
    picks the corpus-wide winner-selection strategy, both exactly
    equivalent (agreement property-tested):

    - "window" (default): one shuffle — row_number over the span-key
      partition. A span repeated k times lands k rows in ONE task's
      sort, so a pathological hot span (mass-produced boilerplate
      that slipped the boilerplate gate) concentrates in one
      partition.
    - "agg": min(struct(doc_id, seg_no)) per span + a join back.
      The AGGREGATE is fully skew-safe (map-side combine: a hot span
      costs each task one row), and the remaining hot key sits in a
      JOIN — which AQE's OptimizeSkewedJoin can split at runtime —
      instead of a window partition, which AQE cannot split. So the
      strategy converts an unsplittable one-task sort into a
      splittable join; it is NOT shuffle-free on the hot key (the
      join back re-keys all k occurrences), and deployments should
      run it with AQE skew-join enabled (this engine's session
      default).

    At 100 TB also shuffle the 128-bit span hash instead of the span
    text for key bytes (the md5 twin of dedup_exact —
    collision-safe).
    """
    t = docs.select(
        id_col, F.split(F.col(text_col), " ").alias("toks")
    )
    seg = t.select(
        id_col,
        F.explode(
            F.sequence(
                F.lit(0),
                F.ceil(F.size("toks") / F.lit(span_tokens)).cast("int")
                - F.lit(1),
            )
        ).alias("seg_no"),
        F.col("toks"),
    ).select(
        id_col,
        "seg_no",
        F.array_join(
            F.slice(
                "toks",
                F.col("seg_no") * span_tokens + 1,
                F.lit(span_tokens),
            ),
            " ",
        ).alias("line"),
    )
    if first_occurrence == "window":
        w = Window.partitionBy("line").orderBy(
            F.asc(id_col), F.asc("seg_no")
        )
        kept = seg.withColumn(
            "kept", F.row_number().over(w) == 1
        )
    elif first_occurrence == "agg":
        firsts = seg.groupBy("line").agg(
            F.min(F.struct(id_col, "seg_no")).alias("_f")
        )
        kept = seg.join(firsts, "line").withColumn(
            "kept",
            (F.col(f"_f.{id_col}") == F.col(id_col))
            & (F.col("_f.seg_no") == F.col("seg_no")),
        ).drop("_f")
    else:
        raise ValueError(f"unknown first_occurrence: {first_occurrence!r}")
    return (
        kept.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_spans"),
            F.sum(F.col("kept").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.when(
                                F.col("kept"),
                                F.struct("seg_no", "line"),
                            )
                        )
                    ),
                    lambda s: s["line"],
                ),
                " ",
            ).alias("text_dedup"),
        )
    )


LM_LOGPROB_SCALE = 10_000  # 0.1 millinat fixed-point units


def lm_vocab_table(
    docs: DataFrame,
    ref_cond,
    text_col: str = "text",
    scale: int = LM_LOGPROB_SCALE,
):
    """Train the add-one unigram LM: returns (lp, lp_oov) — the
    quantized log-prob vocabulary table (token, lp BIGINT) plus the
    OOV-floor column expression. Shared by ``lm_unigram_scores`` and
    the fused capstone scorer so the two can never quantize
    differently. The vocab aggregate is cached (vocab-cardinality —
    bounded by the language, not the corpus) so the totals head()
    and the lp projection share ONE pass over the reference text
    instead of re-running the upstream scan (in the curation
    capstone that upstream is the full regex scrub chain)."""
    ref = (
        docs.filter(ref_cond)
        .select(F.explode(F.split(F.col(text_col), " ")).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("c"))
        .cache()
    )
    tot = ref.agg(F.sum("c").alias("t"), F.count("*").alias("v")).head()
    if tot["t"] is None:
        raise ValueError(
            "lm_vocab_table: the reference predicate matched no "
            "documents — an LM cannot be trained on an empty slice "
            "(check ref_cond against the corpus's id space)"
        )
    denom = float(tot["t"] + tot["v"] + 1)
    lp = ref.select(
        "token",
        F.round(
            F.lit(scale)
            * F.log((F.col("c").cast("double") + 1.0) / F.lit(denom))
        )
        .cast("long")
        .alias("lp"),
    )
    # OOV floor as a column expression (constant-folded JVM-side —
    # never pre-computed with Python's math.log, whose ulp behavior
    # is a third engine)
    lp_oov = F.round(F.lit(scale) * F.log(F.lit(1.0) / F.lit(denom))).cast(
        "long"
    )
    return lp, lp_oov


def lm_unigram_scores(
    docs: DataFrame,
    ref_cond,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = LM_LOGPROB_SCALE,
) -> DataFrame:
    """CCNet-style LM quality scoring (Wenzek et al. 2020 rank web
    documents by LM perplexity; the LM here is an add-one-smoothed
    unigram model trained on the ``ref_cond`` slice of the corpus —
    the 'clean reference' stand-in). Per doc:
    (doc_id, n_tokens, oov, score_munats, lm_per_token) where
    score_munats = Σ_tokens round(scale·ln p(w)) as BIGINT and
    lm_per_token = score/n (higher = more fluent under the LM; rank
    ascending for a head/middle/tail CCNet split).

    FIXED-POINT CONTRACT: log-probs are quantized to integer
    ``scale``-ths of a nat AT THE VOCABULARY TABLE (one round per
    vocab entry, not per token), then summed as integers — so the
    per-doc sum is exact, associative, and independent of partition
    order, where a double Σ ln p would be none of those (and Spark's
    and DuckDB's ln differ in the last ulp on ~4% of inputs — raw
    nats could never hash-match cross-engine; a quantized table
    entry only flips if that ~1e-16 relative divergence lands within
    5e-5 of a rounding boundary, pinned empirically by the oracle
    hash). Quantization error ≤ n·(0.5/scale) nats per doc —
    irrelevant to quality ranking.

    Shape: the LM "training" is one vocabulary-sized aggregate +
    a 2-scalar total (collected — the K-row edge every LM share
    has); scoring is a broadcast join of the vocab table onto the
    token stream + one integer-sum aggregate per doc. Vocabulary is
    bounded by the language, not the corpus — broadcastable at any
    corpus size, exactly like tfidf's df table. OOV tokens take the
    add-one floor probability 1/(T+V+1), the same constant-foldable
    expression on both engines."""
    toks = docs.select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    lp, lp_oov = lm_vocab_table(docs, ref_cond, text_col, scale)
    return (
        toks.join(F.broadcast(lp), "token", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.col("lp").isNull().cast("long")).alias("oov"),
            F.sum(F.coalesce(F.col("lp"), lp_oov)).alias("score_munats"),
        )
        .select(
            id_col,
            "n_tokens",
            "oov",
            "score_munats",
            (
                F.col("score_munats").cast("double") / F.col("n_tokens")
            ).alias("lm_per_token"),
        )
    )


def moore_lewis_scores(
    docs: DataFrame,
    in_cond,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = LM_LOGPROB_SCALE,
) -> DataFrame:
    """Moore-Lewis intelligent data selection (Moore & Lewis 2010,
    "Intelligent Selection of Language Model Training Data"): score
    every document by the CROSS-ENTROPY DIFFERENCE between an
    in-domain LM (trained on the ``in_cond`` slice) and a general LM
    (trained on the complement) — docs that look like the target
    domain but NOT like the background rank highest, the standard
    public method for domain-adapted corpus selection, one step past
    single-LM CCNet ranking (which can't tell "fluent and on-domain"
    from "fluent boilerplate").

    Per doc: (doc_id, n_tokens, score_in, score_gen, delta_munats,
    ml_per_token) where delta = Σ lg p_in − Σ lg p_gen in the exact
    integer fixed-point of ``lm_vocab_table`` (both sums quantized at
    their vocab tables, so the difference is exact and associative);
    ml_per_token is the one final IEEE division. Rank DESC.

    Shape: two vocab-sized training aggregates (each bounded by the
    language), two broadcast joins onto ONE token stream, one per-doc
    integer aggregate — the marginal cost over single-LM scoring is
    one extra broadcast join, not a second corpus scan."""
    toks = docs.select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("token")
    )
    lp_in, oov_in = lm_vocab_table(docs, in_cond, text_col, scale)
    lp_gen, oov_gen = lm_vocab_table(docs, ~in_cond, text_col, scale)
    return (
        toks.join(
            F.broadcast(lp_in.withColumnRenamed("lp", "lp_in")),
            "token",
            "left",
        )
        .join(
            F.broadcast(lp_gen.withColumnRenamed("lp", "lp_gen")),
            "token",
            "left",
        )
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.coalesce(F.col("lp_in"), oov_in)).alias("score_in"),
            F.sum(F.coalesce(F.col("lp_gen"), oov_gen)).alias("score_gen"),
        )
        .select(
            id_col,
            "n_tokens",
            "score_in",
            "score_gen",
            (F.col("score_in") - F.col("score_gen")).alias("delta_munats"),
            (
                (F.col("score_in") - F.col("score_gen")).cast("double")
                / F.col("n_tokens")
            ).alias("ml_per_token"),
        )
    )


LM_BOS = "<s>"  # context sentinel for each document's first token


def lm_bigram_scores(
    docs: DataFrame,
    ref_cond,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = LM_LOGPROB_SCALE,
) -> DataFrame:
    """Bigram LM quality scoring — the higher-order sibling of
    ``lm_unigram_scores`` (CCNet's actual LM is n-gram; add-one
    bigram is the smallest model that scores word ORDER, which a
    unigram cannot: 'the cat sat' and 'sat the cat' unigram-tie but
    bigram-separate). Per token position i (context v = previous
    token, BOS sentinel for i=0):

        p(w|v) = (c(v,w) + 1) / (c(v) + V + 1)

    with c(·) reference-slice counts and V the reference unigram
    vocabulary (+1 OOV class). Three-level quantized-integer lookup:
    the (v, w) table, the per-context floor (unseen pair, seen
    context), and the constant unseen-context floor — same
    fixed-point contract as the unigram operator (table-level
    rounding, integer sums; see lm_unigram_scores).

    Output: (doc_id, n_tokens, oov_pairs, score_munats,
    lm_per_token).

    Shape: bigram extraction is ARRAY-NATIVE — the context array is
    a prepend+slice of the token array, zipped and exploded in the
    projection, so no per-doc window shuffle exists anywhere. The
    bigram table is bounded by observed-bigram count (language-
    bounded; for web-scale reference corpora where it outgrows a
    broadcast, swap the two broadcast joins for shuffle joins on v —
    the aggregate shapes are unchanged)."""
    t = F.split(F.col(text_col), " ")
    pairs_of = lambda df: df.select(  # noqa: E731
        id_col,
        F.explode(
            F.arrays_zip(
                F.concat(
                    F.array(F.lit(LM_BOS)),
                    F.slice(t, 1, F.size(t) - 1),
                ).alias("v"),
                t.alias("w"),
            )
        ).alias("p"),
    ).select(id_col, F.col("p.v").alias("v"), F.col("p.w").alias("w"))

    bc = (
        pairs_of(docs.filter(ref_cond))
        .groupBy("v", "w")
        .agg(F.count("*").alias("c"))
        .cache()
    )
    vocab_v = bc.agg(
        F.count_distinct("w").alias("vsz")
    ).head()["vsz"]
    ctx = bc.groupBy("v").agg(F.sum("c").alias("cv"))
    lp_vw = bc.join(ctx, "v").select(
        "v",
        "w",
        F.round(
            F.lit(scale)
            * F.log(
                (F.col("c").cast("double") + 1.0)
                / (F.col("cv") + vocab_v + 1).cast("double")
            )
        )
        .cast("long")
        .alias("lp"),
    )
    lp_floor = ctx.select(
        "v",
        F.round(
            F.lit(scale)
            * F.log(1.0 / (F.col("cv") + vocab_v + 1).cast("double"))
        )
        .cast("long")
        .alias("lpf"),
    )
    lp_oovctx = F.round(
        F.lit(scale) * F.log(F.lit(1.0) / F.lit(float(vocab_v + 1)))
    ).cast("long")
    return (
        pairs_of(docs)
        .join(F.broadcast(lp_vw), ["v", "w"], "left")
        .join(F.broadcast(lp_floor), "v", "left")
        .groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_tokens"),
            F.sum(F.col("lp").isNull().cast("long")).alias("oov_pairs"),
            F.sum(
                F.coalesce(F.col("lp"), F.col("lpf"), lp_oovctx)
            ).alias("score_munats"),
        )
        .select(
            id_col,
            "n_tokens",
            "oov_pairs",
            "score_munats",
            (
                F.col("score_munats").cast("double") / F.col("n_tokens")
            ).alias("lm_per_token"),
        )
    )


BPE_SEP = "\x1f"  # unit separator — cannot occur in corpus tokens
BPE_MERGES = 5
# bpe_train: merges learned since the last checkpoint ride the round's
# argmax job as a chained replace over the cached symbol base; the
# chain is materialized (localCheckpoint) at this depth so expression
# size stays bounded for large n_merges.
_BPE_CKPT_EVERY = 16
# Fused single-stage trainers (round 12): the merge/EM loop runs in
# ONE Arrow task over the distinct-word COUNT table — the standard
# tokenizer-training shape (word-type cardinality grows sub-linearly
# with the corpus, Heaps' law), collapsing K driver actions × the
# per-job scheduling floor into one job. A corpus whose word-type
# count exceeds this cap fails LOUDLY inside the task (the
# _WINNOW_POS_CAP convention) instead of silently building an
# oversized task; callers there pass fused=False — the K-round
# distributed loop, identical artifacts by construction (pinned by
# tests/test_tokenizer_fused.py).
_FUSED_VOCAB_CAP = 4_000_000


def _bpe_sym_expr(word_col: str):
    """Word → double-separator symbol string ("␟␟a␟␟b␟␟") — the ONE
    layout definition shared by merge learning (bpe_train) and merge
    application (bpe_apply), so the two can never segment
    differently (the separator-layout properties are documented on
    bpe_train)."""
    return F.expr(
        "concat(char(31), char(31),"
        f" array_join(transform(sequence(1, length({word_col})),"
        f" i -> substring({word_col}, i, 1)), concat(char(31), char(31))),"
        " char(31), char(31))"
    )


def bpe_train(
    docs: DataFrame,
    n_merges: int = BPE_MERGES,
    text_col: str = "text",
    fused: bool = True,
    emit_alphabet: bool = False,
) -> DataFrame:
    """Distributed BPE merge learning (Sennrich et al. 2016, the
    public subword-tokenizer algorithm): start from characters, and
    for each of ``n_merges`` rounds count weighted adjacent symbol
    pairs across the corpus, pick the most frequent (ties →
    lexicographic (left, right) — deterministic in any engine), and
    fuse it everywhere. Returns the learned merge table
    (step, left_sym, right_sym, pair_count) — the artifact a
    tokenizer ships.

    THE scale trick is classic BPE's own: after one corpus-sized
    token count, every round runs over the DISTINCT-WORD table
    (vocabulary-cardinality, weighted by word count) — corpus text is
    never touched again, so 100 TB costs one aggregate plus K
    vocab-sized rounds.

    Merge application is a literal ``replace`` over DOUBLE-separator
    symbol strings ("␟␟a␟␟b␟␟": every symbol boundary is "␟␟"), with
    the pattern "␟L␟␟R␟" → "␟LR␟" consuming only the INNER half of
    each flanking boundary. Three properties make this exactly greedy
    left-to-right BPE in both engines' plain (regex-free,
    non-overlapping) ``replace``:
      1. the unconsumed outer halves let CONSECUTIVE occurrences
         merge in one pass ("aaaa" → (aa)(aa); a single-separator
         pattern "␟a␟a␟" consumes the shared boundary and skips
         every second pair — the bug the unit test pins);
      2. "␟" before L ⇒ L is a whole symbol (never another symbol's
         suffix); "␟" after R ⇒ R is whole (never a prefix);
      3. left-to-right non-overlapping scanning IS greedy order.
    The DuckDB oracle unrolls identical rounds as chained CTEs with
    scalar-subquery argmax. Per round: one vocab-sized aggregate +
    a 1-row argmax collect (the iterative-algorithm driver edge,
    like k-means centroids).

    ``fused=True`` (default): the identical loop runs in ONE Arrow
    task over the word-count table (the standard tokenizer-training
    shape; capped at ``_FUSED_VOCAB_CAP`` word types with a loud
    task-side raise) — one job instead of K driver round-trips.
    ``fused=False`` keeps the distributed K-round loop for corpora
    past the cap; both paths produce the identical merge table
    (tests/test_tokenizer_fused.py).

    ``emit_alphabet=True`` (fused only) additionally emits one row
    per distinct corpus character as ``step = -1`` rows riding the
    same single task — the id-map alphabet ``bpe_apply`` would
    otherwise recompute with its own corpus pass + driver action
    (round 12, guide §5). The default output is unchanged.
    """
    spark = docs.sparkSession
    vocab = (
        docs.select(
            F.explode(F.split(F.col(text_col), " ")).alias("w")
        )
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )
    sep2 = BPE_SEP + BPE_SEP
    if emit_alphabet and not fused:
        raise ValueError("emit_alphabet requires fused=True")
    if fused:
        # Single-stage trainer (round 12, guide §5 — collapse K driver
        # round-trips): the identical greedy loop runs once inside an
        # Arrow task over the word-count table. Python str.replace has
        # the same left-to-right non-overlapping scan as F.replace
        # (the "aaaa" property above is unit-pinned for BOTH paths),
        # and Python tuple/str comparison is the same binary order the
        # distributed argmax sorts by, so merge choices, tie-breaks
        # and weighted counts are bit-equal by construction.
        cap = _FUSED_VOCAB_CAP

        def _train(batches):
            import pandas as pd

            words: list[str] = []
            counts: list[int] = []
            for pdf in batches:
                words.extend(pdf["w"])
                counts.extend(int(c) for c in pdf["c"])
                if len(words) > cap:
                    raise ValueError(
                        "bpe_train(fused=True): word-type count "
                        f"exceeds _FUSED_VOCAB_CAP={cap}; rerun with "
                        "fused=False (K-round distributed loop)"
                    )
            syms = [
                sep2 + sep2.join(w) + sep2 for w in words
            ]  # _bpe_sym_expr layout
            merges = []
            for step in range(n_merges):
                cnt: dict[tuple, int] = {}
                for s, c in zip(syms, counts):
                    inner = s.split(sep2)[1:-1]
                    for l, r in zip(inner, inner[1:]):
                        k = (l, r)
                        cnt[k] = cnt.get(k, 0) + c
                if not cnt:
                    break
                (left, right), n = min(
                    cnt.items(), key=lambda kv: (-kv[1], kv[0])
                )
                merges.append((step, left, right, n))
                pat = BPE_SEP + left + sep2 + right + BPE_SEP
                rep = BPE_SEP + left + right + BPE_SEP
                syms = [s.replace(pat, rep) for s in syms]
            if emit_alphabet:
                alphabet = sorted({ch for w in words for ch in w})
                merges = [
                    (-1, ch, "", 0) for ch in alphabet
                ] + merges
            yield pd.DataFrame(
                merges,
                columns=["step", "left_sym", "right_sym", "pair_count"],
            )

        return vocab.repartition(1).mapInPandas(
            _train,
            "step int, left_sym string, right_sym string, pair_count long",
        )

    sym = vocab.select(_bpe_sym_expr("w").alias("s"), "c").cache()

    # Round structure (round-12 optimization, guide §2.4/§5): one
    # driver action per round — the argmax job re-applies the merges
    # learned so far as a CHAINED replace expression over the cached
    # vocab-grain base instead of eagerly localCheckpoint()ing the
    # replaced table every round (which doubled the per-round job
    # count for a table that is vocabulary-sized anyway). The chain is
    # cut back to a checkpoint every _BPE_CKPT_EVERY rounds so a
    # large-K caller never builds an unbounded expression tree.
    merges = []
    base = sym
    chain: list[tuple[str, str]] = []

    def _chained(col):
        for pat, rep in chain:
            col = F.replace(col, F.lit(pat), F.lit(rep))
        return col

    for step in range(n_merges):
        cur = base.select(_chained(F.col("s")).alias("s"), "c")
        arr = F.split(F.col("s"), sep2)
        inner = F.slice(arr, 2, F.size(arr) - 2)
        pairs = cur.select(
            F.explode(
                F.arrays_zip(
                    F.slice(inner, 1, F.size(inner) - 1).alias("l"),
                    F.slice(inner, 2, F.size(inner) - 1).alias("r"),
                )
            ).alias("p"),
            "c",
        ).select(F.col("p.l").alias("l"), F.col("p.r").alias("r"), "c")
        best = (
            pairs.groupBy("l", "r")
            .agg(F.sum("c").alias("cnt"))
            .orderBy(F.desc("cnt"), F.asc("l"), F.asc("r"))
            .head(1)
        )
        if not best:
            break
        b = best[0]
        merges.append((step, b["l"], b["r"], int(b["cnt"])))
        pat = BPE_SEP + b["l"] + sep2 + b["r"] + BPE_SEP
        rep = BPE_SEP + b["l"] + b["r"] + BPE_SEP
        chain.append((pat, rep))
        if len(chain) >= _BPE_CKPT_EVERY:
            base = base.select(
                _chained(F.col("s")).alias("s"), "c"
            ).localCheckpoint()
            chain = []
    sym.unpersist()
    return spark.createDataFrame(
        merges, "step int, left_sym string, right_sym string, pair_count long"
    )


def _bpe_merge_chain_col(merges: list[tuple[str, str]]):
    """Encoded symbol string for a distinct word ``w``: the trainer's
    double-separator layout with every learned merge applied in step
    order. Shared by ``bpe_apply`` and ``bpe_token_counts`` so the
    encoder and the counts-only reduction can never segment
    differently."""
    sep2 = BPE_SEP + BPE_SEP
    col = _bpe_sym_expr("w")
    for left, right in merges:
        col = F.replace(
            col,
            F.lit(BPE_SEP + left + sep2 + right + BPE_SEP),
            F.lit(BPE_SEP + left + right + BPE_SEP),
        )
    return col


def bpe_token_counts(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    out_col: str = "n_tokens",
) -> DataFrame:
    """(id, out_col): per-document token count under the learned
    merge table — the counts-only reduction of ``bpe_apply`` for
    consumers that aggregate the encode straight back to document
    grain (fertility reports, packing budgets). The piece count per
    DISTINCT WORD is the symbol count of the same encoded string
    ``bpe_apply`` splits (shared ``_bpe_merge_chain_col``), joined
    back to corpus word occurrences — the corpus-grain
    (doc, word_pos, sub_pos) token fan-out and the id map never
    materialize (guide §2.3: shuffle fewer bytes). Value-equal to
    ``bpe_apply(...).groupBy(id).count()``: the id-map join there is
    lossless (every emitted token is an alphabet char or a merge
    product, both present in the map), so counting words × their
    piece counts counts exactly the same rows. EMPTY words (leading/
    trailing/consecutive spaces in the text) are filtered here and in
    ``bpe_apply`` alike — they encode to zero real tokens, and before
    round 13 the two paths disagreed on them (the advisor's find:
    the counts path charged 2 separator artifacts per empty word
    while the alphabet-joined encode dropped them);
    ``test_token_counts_equal_full_encode_rollup`` pins the edge."""
    sep2 = BPE_SEP + BPE_SEP
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    ).filter(F.col("w") != "")
    vocab = words.select("w").distinct()
    np_ = vocab.select(
        "w",
        (F.size(F.split(_bpe_merge_chain_col(merges), sep2)) - 2)
        .cast("long")
        .alias("__np"),
    )
    return (
        words.join(np_, "w")
        .groupBy(id_col)
        .agg(F.sum("__np").alias(out_col))
    )


def unigram_token_counts(
    docs: DataFrame,
    pieces: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_piece: int | None = None,
    out_col: str = "n_tokens",
) -> DataFrame:
    """(id, out_col): per-document piece count under a learned
    unigram vocabulary — the counts-only reduction of
    ``unigram_apply`` (same ``segment_words_unigram`` over the
    distinct-word table, rolled up to piece counts per word before
    the corpus join, so the (doc, word_pos, sub_pos) fan-out never
    materializes). Value-equal to
    ``unigram_apply(...).groupBy(id).count()`` FOR CORPORA WHOSE
    CHARACTERS ALL APPEAR IN THE TRAINING CORPUS (the registry call
    sites — same corpus for train and encode): the greedy segmenter's
    single-char fallback can emit characters outside the trained
    piece set, which ``unigram_apply``'s piece-id inner join drops
    while this rollup counts them — on a foreign-charset corpus the
    two diverge by exactly those fallback chars (round-13 advisor
    note; the equivalence test pins the same-corpus case).
    ``max_piece`` defaults to ``UNIGRAM_MAX_PIECE`` (resolved at call
    time — the constant is defined later in this module) and MUST
    match the trained geometry, as in ``unigram_apply``."""
    if max_piece is None:
        max_piece = UNIGRAM_MAX_PIECE
    words = docs.select(
        F.col(id_col),
        F.explode(F.split(F.col(text_col), " ")).alias("w"),
    )
    vocab = words.select("w").distinct()
    np_ = (
        segment_words_unigram(vocab, pieces, max_piece)
        .groupBy("w")
        .agg(F.count("*").alias("__np"))
    )
    return (
        words.join(np_, "w")
        .groupBy(id_col)
        .agg(F.sum("__np").alias(out_col))
    )


def bpe_apply(
    docs: DataFrame,
    merges: list[tuple[str, str]],
    id_col: str = "doc_id",
    text_col: str = "text",
    alphabet: list[str] | None = None,
) -> DataFrame:
    """Encode the corpus with a LEARNED merge table (r7 verdict #3 —
    the missing half of the tokenizer: ``bpe_train`` produces the
    artifact, this applies it, so downstream packing/counting runs on
    real BPE ids instead of surrogate tokens). ``merges`` is the
    driver-side (left_sym, right_sym) list in step order — K rows,
    the same driver-edge class as the trainer's per-round argmax.

    The scale shape is classic BPE's own vocabulary trick, same as
    training: merges apply to the DISTINCT-WORD table (one
    ``replace`` chain over vocab-cardinality double-separator symbol
    strings — ``_bpe_sym_expr`` shared with the trainer, so encoder
    and trainer can never segment differently), and the corpus-sized
    work is one posexplode plus one (word → tokens) equi-join. The
    corpus text is never touched per merge.

    Token ids are the standard BPE vocabulary numbering: base
    characters first (sorted, ids 0..B-1 — alphabet collation note:
    python/DuckDB code-point order, identical over the ASCII
    testdata), then merge k at id B+k; a surface-string collision
    between two merge steps (e.g. (a,bc) and (ab,c) both → "abc")
    resolves to the EARLIEST step. The alphabet + merge map is
    driver-built (alphabet-cardinality — bounded by the charset, not
    the corpus) and broadcast.

    Output, token grain: (doc_id, word_pos, sub_pos, token,
    token_id) — fully deterministic, so the DuckDB unrolled-merge
    twin hash-matches bit-for-bit.
    """
    spark = docs.sparkSession
    sep2 = BPE_SEP + BPE_SEP
    # Empty words (leading/trailing/consecutive spaces) are dropped:
    # they carry no characters, and leaving them in poisons the
    # auto-derived alphabet with '' (sequence(1, 0) descends, so the
    # char explode of an empty word emits empty strings) — round-13
    # advisor fix; word_pos numbering of non-empty words is unchanged
    # because posexplode runs before the filter.
    words = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("word_pos", "w"),
    ).filter(F.col("w") != "")
    vocab = words.select("w").distinct()
    enc = vocab.select("w", _bpe_merge_chain_col(merges).alias("s"))
    arr = F.split(F.col("s"), sep2)
    wt = enc.select(
        "w",
        F.posexplode(F.slice(arr, 2, F.size(arr) - 2)).alias(
            "sub_pos", "token"
        ),
    )
    # Alphabet for the id map: callers that already hold it (e.g. the
    # fused trainer's emit_alphabet rows) pass it in, skipping a
    # second corpus pass + driver action (round 12, guide §5).
    chars = (
        sorted(alphabet)
        if alphabet is not None
        else sorted(
            r["ch"]
            for r in vocab.select(
                F.explode(
                    F.expr(
                        "transform(sequence(1, length(w)),"
                        " i -> substring(w, i, 1))"
                    )
                ).alias("ch")
            )
            .distinct()
            .collect()
        )
    )
    idmap: dict[str, int] = {ch: i for i, ch in enumerate(chars)}
    for k, (left, right) in enumerate(merges):
        idmap.setdefault(left + right, len(chars) + k)
    ids = spark.createDataFrame(
        sorted(idmap.items()), "token string, token_id long"
    )
    return (
        words.join(wt, "w")
        .join(F.broadcast(ids), "token")
        .select(
            id_col,
            F.col("word_pos").cast("long").alias("word_pos"),
            F.col("sub_pos").cast("long").alias("sub_pos"),
            "token",
            "token_id",
        )
    )


def mixture_sample(
    docs: DataFrame,
    strata_col: str,
    quotas: dict[str, int],
    id_col: str = "doc_id",
) -> DataFrame:
    """Data-mixing sampler — the pretraining mixture step (every
    public recipe — Pile, LLaMA, Gopher — trains on weighted source
    proportions, not raw corpus proportions): per stratum, keep the
    first ``quotas[stratum]`` documents by the portable hash rank
    (``stratified_sample``'s seedless reservoir, so the draw is
    deterministic, partition-insensitive, and stable under corpus
    growth); strata without a quota contribute nothing. Output keeps
    the rank so downstream epoch-level re-weighting can shrink a
    quota without re-sampling.

    Scale: identical plan to ``stratified_sample`` (one window
    shuffle on the stratum key, output bounded by Σ quotas); the
    quota lookup is a literal CASE — no join. Unquota'd strata are
    filtered BEFORE the window (review fix: without the pushdown an
    absent source — possibly half the corpus — would pay the hash,
    shuffle, and per-stratum sort only to be dropped by the rank
    filter, which cannot be pushed below the window; per-stratum
    ranks of kept strata are unaffected)."""
    h = F.expr(md5_int_spark_sql(f"cast({id_col} as string)"))
    w = Window.partitionBy(strata_col).orderBy(h, F.col(id_col))
    quota = F.lit(None).cast("long")
    for s, k in sorted(quotas.items()):
        quota = F.when(F.col(strata_col) == s, F.lit(k)).otherwise(quota)
    docs = docs.filter(F.col(strata_col).isin(list(quotas)))
    return (
        docs.withColumn(
            "rank_in_stratum", F.row_number().over(w).cast("long")
        )
        .withColumn("_q", quota)
        .filter(F.col("rank_in_stratum") <= F.col("_q"))
        .drop("_q")
    )


# Fixed-point scale for the temperature sampler's powered source
# masses: floor(sqrt(n) * 10^6) as int64 — sqrt is correctly-rounded
# IEEE in every engine and floor kills the round-half tie hazard, so
# the weights (hence the integer quota arithmetic on them) are
# bit-reproducible cross-engine. 10^6 keeps 6 significant fractional
# digits; overflow needs sum(sqrt(n_s)) > 9.2e12, i.e. corpora past
# ~10^25 docs — not a real bound.
MIXTURE_TEMP_SCALE = 10**6


def mixture_sample_temperature(
    docs: DataFrame,
    strata_col: str,
    budget: int,
    id_col: str = "doc_id",
) -> DataFrame:
    """Temperature-weighted mixture sampling (r7 verdict #5) — the
    standard ``p^alpha`` source re-weighting every multilingual
    pretraining recipe applies (alpha < 1 up-samples small sources;
    mBERT/XLM-R exponentiated-mass sampling, here at the fixed
    alpha = 0.5 the sqrt encodes): per-source quota =
    budget · n_s^0.5 / Σ n_t^0.5, computed in INTEGER fixed-point
    (floor(sqrt(n)·10^6) weights, integer multiply + floor-div) so
    the quotas — and therefore the draw — are exactly reproducible
    in any engine. The draw itself is ``mixture_sample``'s hash
    reservoir, so each source's sample is still the deterministic
    PREFIX property: shrinking the budget later selects a subset of
    this draw.

    Scale: one source-cardinality count (collected — the quota table
    is #sources rows, the driver edge every quota config is) feeding
    the same single-window plan as ``mixture_sample``. Output adds
    the computed ``quota`` column so the oracle pins the quota
    arithmetic itself, not just the membership."""
    import math

    counts = docs.groupBy(strata_col).agg(F.count("*").alias("n")).collect()
    wts = {
        r[strata_col]: int(math.floor(math.sqrt(r["n"]) * MIXTURE_TEMP_SCALE))
        for r in counts
    }
    total = sum(wts.values())
    quotas = {s: (budget * w) // total for s, w in wts.items()}
    out = mixture_sample(docs, strata_col, quotas, id_col)
    qcol = F.lit(None).cast("long")
    for s, k in sorted(quotas.items()):
        qcol = F.when(F.col(strata_col) == s, F.lit(k)).otherwise(qcol)
    return out.withColumn("quota", qcol)


# ---------------------------------------------------------------------------
# DSIR — Data Selection via Importance Resampling (Xie et al.,
# NeurIPS 2023): select raw-corpus documents whose hashed n-gram
# feature distribution matches a small target domain. The classic
# "make my 100 TB web crawl look like Wikipedia" selector.

# Feature-hash bucket count. The paper uses 10k buckets; the registry
# uses a small power of two so every bucket is exercised at test SF.
# The bucket table is K rows — broadcastable at ANY corpus size, which
# is the whole point of hashing the n-gram space down.
DSIR_BUCKETS = 64
# Fixed-point scale for quantized log-probabilities — same contract as
# LM_LOGPROB_SCALE: one round() per BUCKET-TABLE entry (never per
# token), integer sums downstream, so per-doc scores are exact,
# associative, and cross-engine reproducible.
DSIR_LOG_SCALE = 10**6


def dsir_weights(
    docs: DataFrame,
    target_cond,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = DSIR_BUCKETS,
    scale: int = DSIR_LOG_SCALE,
) -> DataFrame:
    """Per-document DSIR importance weights: log p_target(doc) −
    log p_raw(doc) under add-one-smoothed bag-of-hashed-ngram models
    (unigrams + word bigrams hashed into ``n_buckets`` buckets with
    the portable md5 fragment).

    Returns (id_col, n_feats, logw_mu, lw_per_feat, selected) where
    logw_mu = Σ_feats [round(scale·ln p_b) − round(scale·ln q_b)]
    as BIGINT, lw_per_feat = logw_mu / n_feats (ONE final IEEE
    division — the repo's single-final-division contract), and
    selected = lw_per_feat ≥ 0 (doc looks more target than raw).
    The paper samples with Gumbel noise; the deterministic threshold
    form is the registry binding — a production draw would add the
    noise column and top-k per shard.

    Scale shape: ONE pass over the token stream into a
    (doc, bucket)-grain count rollup — Σ_feats lw ≡ Σ_b cnt_db·lw_b,
    so both the K-row importance table AND the per-doc score derive
    from the rollup (doc×K rows worst case, ≤ the token stream by
    construction; measured 23.4 s → the fused form at the 100×
    stack). The importance table is K rows regardless of corpus
    size; the target distribution trains on the ``target_cond``
    slice of the SAME frame."""
    # Round 12, session 5 (guide §4.2, the doc_bigram_terms fix): the
    # zip_with(slice, slice) bigram form re-evaluated split inside an
    # interpreted HOF (measured 3-4x the transform form at sf0.1). The
    # CASE guards single-token docs: sequence(1, 0) would DESCEND and
    # index out of bounds under ANSI; slice(__t, 1, 0) is the typed
    # empty array. Same unigram+bigram feature list, same order.
    bigrams = F.expr(
        "CASE WHEN size(__t) >= 2 THEN"
        " transform(sequence(1, size(__t) - 1),"
        " i -> concat(__t[i - 1], ' ', __t[i]))"
        " ELSE slice(__t, 1, 0) END"
    )
    feats = (
        docs.select(
            F.col(id_col),
            target_cond.cast("long").alias("tgt"),
            F.split(F.col(text_col), " ").alias("__t"),
        )
        .select(
            F.col(id_col),
            "tgt",
            F.explode(F.concat(F.col("__t"), bigrams)).alias("feat"),
        )
        .select(
            id_col,
            "tgt",
            (F.expr(md5_int_spark_sql("feat")) % n_buckets).alias("b"),
        )
        .groupBy(id_col, "b")
        .agg(
            F.count("*").alias("cnt"), F.first("tgt").alias("tgt")
        )
        # Round 12 (guide §2.4): the rollup feeds BOTH the bucket
        # totals (a driver action — tr/tt become plan literals) and
        # the returned scoring join; Spark shares no subplans across
        # actions, so without this persist the full-corpus explode +
        # md5 + (doc,b) shuffle ran twice. The rollup is ≤ docs×K
        # rows; query-duration cache only (bench/gate clearCache
        # between queries; caller-owned via _probe_persisted).
        .persist()
    )

    counts = feats.groupBy("b").agg(
        F.sum("cnt").alias("c_all"),
        F.sum(F.col("tgt") * F.col("cnt")).alias("c_tgt"),
    )
    dense = (
        docs.sparkSession.range(n_buckets)
        .withColumnRenamed("id", "b")
        .join(counts, "b", "left")
        .select(
            "b",
            F.coalesce("c_all", F.lit(0)).alias("c_all"),
            F.coalesce("c_tgt", F.lit(0)).alias("c_tgt"),
        )
    )
    tot = dense.agg(
        F.sum("c_all").alias("tr"), F.sum("c_tgt").alias("tt")
    ).head()
    if not tot["tt"]:
        feats.unpersist()
        raise ValueError(
            "dsir_weights: the target predicate matched no documents — "
            "an importance sampler cannot fit a target distribution on "
            "an empty slice (check target_cond against the corpus)"
        )
    denom_t = float(tot["tt"] + n_buckets)
    denom_r = float(tot["tr"] + n_buckets)
    lw = dense.select(
        "b",
        (
            F.round(
                F.lit(scale)
                * F.log((F.col("c_tgt").cast("double") + 1.0) / F.lit(denom_t))
            ).cast("long")
            - F.round(
                F.lit(scale)
                * F.log((F.col("c_all").cast("double") + 1.0) / F.lit(denom_r))
            ).cast("long")
        ).alias("lw"),
    )
    out = (
        feats.join(F.broadcast(lw), "b")
        .groupBy(id_col)
        .agg(
            F.sum("cnt").cast("long").alias("n_feats"),
            F.sum(F.col("lw") * F.col("cnt")).alias("logw_mu"),
        )
        .select(
            id_col,
            "n_feats",
            "logw_mu",
            (F.col("logw_mu").cast("double") / F.col("n_feats")).alias(
                "lw_per_feat"
            ),
            (
                F.col("logw_mu").cast("double") / F.col("n_feats") >= 0.0
            ).alias("selected"),
        )
    )
    out._probe_persisted = [feats]
    return out


# ---------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, Appendix A1) — the composite
# rule filter most public curation stacks (Gopher, RefinedWeb, Dolma)
# apply before any model-based scoring. Thresholds are the paper's
# shape scaled to the synthetic corpus's short documents.

GOPHER_MIN_WORDS = 20
GOPHER_MAX_WORDS = 100_000
GOPHER_WORD_LEN_LO = 3.0
GOPHER_WORD_LEN_HI = 10.0
GOPHER_MAX_SYMBOL_RATIO = 0.1
GOPHER_MIN_STOP_TYPES = 1  # distinct stopwords present (2-word list)
GOPHER_MAX_DOMINANCE = 0.2
GOPHER_MIN_DISTINCT_RATIO = 0.3


def gopher_rules(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """Per-document Gopher rule evaluation: one boolean per rule plus
    the conjunctive ``keep``. Every rule compares an exact integer or
    a single-final-division ratio against a literal threshold, so the
    verdicts are bit-reproducible cross-engine.

    Rules: word count in [min,max]; mean word length in [lo,hi];
    symbol-to-word ratio ≤ max; ≥ ``GOPHER_MIN_STOP_TYPES`` distinct
    stopwords present; modal-token dominance ≤ max; distinct-token
    ratio ≥ min.

    Shape: ONE pass over the token stream (the repetition aggregate
    supplies n_tokens, modal count, and distinct count; chars/symbols
    /stopword-presence ride the doc-grain projection) joined at doc
    grain — two shuffles total, both map-side combined."""
    rep = repetition_features(docs, id_col, text_col)
    t = F.split(F.col(text_col), " ")
    base = docs.select(
        F.col(id_col),
        F.length(F.regexp_replace(F.col(text_col), " ", ""))
        .cast("long")
        .alias("n_chars"),
        F.length(F.regexp_replace(F.col(text_col), "[a-zA-Z0-9 ]", ""))
        .cast("long")
        .alias("n_symbols"),
        F.size(
            F.array_intersect(F.array_distinct(t), F.array(*[F.lit(s) for s in STOPWORDS]))
        )
        .cast("long")
        .alias("n_stop_types"),
    )
    j = base.join(rep, id_col)
    mean_len = F.col("n_chars").cast("double") / F.col("n_tokens")
    sym_ratio = F.col("n_symbols").cast("double") / F.col("n_tokens")
    rules = {
        "ok_word_count": (F.col("n_tokens") >= GOPHER_MIN_WORDS)
        & (F.col("n_tokens") <= GOPHER_MAX_WORDS),
        "ok_word_len": (mean_len >= GOPHER_WORD_LEN_LO)
        & (mean_len <= GOPHER_WORD_LEN_HI),
        "ok_symbol_ratio": sym_ratio <= GOPHER_MAX_SYMBOL_RATIO,
        "ok_stopwords": F.col("n_stop_types") >= GOPHER_MIN_STOP_TYPES,
        "ok_dominance": F.col("top_token_dominance") <= GOPHER_MAX_DOMINANCE,
        "ok_distinct_ratio": F.col("distinct_token_ratio")
        >= GOPHER_MIN_DISTINCT_RATIO,
    }
    keep = None
    for c in rules.values():
        keep = c if keep is None else (keep & c)
    return j.select(
        id_col,
        F.col("n_tokens"),
        *[c.alias(n) for n, c in rules.items()],
        keep.alias("keep"),
    )


# --- BM25 sparse retrieval ------------------------------------------------

BM25_IDF_SCALE = 10_000  # idf quantized at the df-table grain
# k1 = 6/5 = 1.2, b = 3/4 = 0.75 (the textbook Robertson constants,
# kept as exact rationals so the saturation term is a BIGINT/BIGINT
# quotient — see bm25_topk's fixed-point contract)
BM25_K1_NUM, BM25_K1_DEN = 6, 5
BM25_B_NUM, BM25_B_DEN = 3, 4
RRF_K = 60  # the standard reciprocal-rank-fusion damping constant
RRF_SCALE = 1_000_000  # rrf contribution = RRF_SCALE // (RRF_K + rank)


def doc_bigram_terms(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, dl, term) exploded word-bigram stream — the term grain for
    sparse retrieval here. Bigrams (not unigrams) because a retrieval
    term must be selective: phrase-grain terms keep df ≪ N where a
    unigram vocabulary saturates (every term in most docs ranks
    nothing). dl = per-doc term count (n_tokens - 1). Array-native —
    no per-doc window anywhere.

    Round 12, session 5 (guide §4.2 — expression cost is real work):
    the previous ``zip_with(slice(t,1,n-1), slice(t,2,n-1), concat)``
    form materialized two array copies and re-evaluated ``split`` per
    argument inside an interpreted higher-order function — measured
    1.6–2.0 s for the corpus explode at sf0.1. The single
    ``transform(sequence(1, n-1), i -> t[i-1] || ' ' || t[i])`` builds
    the identical bigram list with one lambda over one split array:
    0.4–0.6 s, values bit-identical (same token pairs, same order)."""
    return (
        docs.select(
            F.col(id_col), F.split(F.col(text_col), " ").alias("__t")
        )
        .filter(F.size("__t") >= 2)
        .select(
            F.col(id_col),
            (F.size("__t") - 1).cast("long").alias("dl"),
            F.explode(
                F.expr(
                    "transform(sequence(1, size(__t) - 1),"
                    " i -> concat(__t[i - 1], ' ', __t[i]))"
                )
            ).alias("term"),
        )
    )


def bm25_topk(
    docs: DataFrame,
    query_mod: int = 50,
    k: int = 5,
    df_cap_num: int = 1,
    df_cap_den: int = 1,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Okapi BM25 top-k retrieval, query-by-document: every
    ``id % query_mod == 0`` document is a query; its distinct bigram
    terms (df-capped, see below) are matched against the corpus term
    table and candidates are ranked by the BM25 sum. Returns
    (q_id, doc_id, score_fp, rank), rank 1..k per query, the query
    doc itself excluded.

    FIXED-POINT CONTRACT (cross-engine bit-exactness, the
    lm_unigram_scores technique): idf is quantized ONCE at the
    df-table grain — idf_fp = round(SCALE·ln((N-df+0.5)/(df+0.5)+1)),
    one round per vocabulary entry. The tf-saturation factor
    tf·(k1+1) / (tf + k1·(1-b+b·dl/avgdl)) is carried as an EXACT
    BIGINT rational: with k1=6/5, b=3/4 and S=Σdl, multiplying
    through by 10·S gives num = 22·S·tf, den = 10·S·tf + 3·S +
    9·dl·N — both exactly-representable integers, so the double
    quotient num/den is correctly rounded IEEE division (identical in
    Spark and DuckDB), the single multiply by idf_fp is one IEEE op,
    and the per-term round lands on the same BIGINT in both engines.
    Per-(query,doc) scores are then INTEGER sums — associative and
    partition-order-independent.

    Shape at scale: ONE (doc,term) tf aggregate [shuffle 1, carries dl
    via first()], df/idf as a count(*) window over the term-keyed tf
    relation [shuffle 2 — the already-reduced posting grain, never the
    raw token stream], query-term pairs from the query docs' own tiny
    explode (→ broadcast). Candidate generation is the
    posting-list intersection tf ⋈ query_terms on term — bounded by
    Σ_t df(t) over query terms, NOT N·Q, because ``df_cap_num/den``
    drops head terms from queries (df ≤ cap·N): stop-term pruning,
    the standard IR bound (on zipfian text the head terms are
    stopwords that contribute rank noise anyway; this synthetic
    corpus's bigram vocabulary has max df ≈ N/10, so the registry
    entry's cap of 1/1 is inert there but the bound is structural).
    Final per-query top-k is a window partitioned by q_id — one task
    per query, each over its own candidate list.
    """
    # Round-12 shape, second pass (guide §3.2 broadcast semi-join
    # pre-filter + §2.4 fewer passes + §5 fewer driver actions): ONE
    # linear subtree. (1) The query docs' distinct terms — a bounded
    # vocabulary — semi-filter the single full-corpus explode (a term
    # outside every query doc can contribute nothing); (2) the
    # (doc, term) tf rollup happens ONCE, and df/idf ride it as a
    # count(*) window over the term partitioning (tf grain is distinct
    # (doc, term), so the partition count IS df — global per term, the
    # filter is term-level, never doc-level). The earlier form
    # evaluated the corpus explode twice (tf + a countDistinct df
    # pass) because Spark shares no subplans across a DAG and
    # persisting the rollup re-measured a WASH (the cache write costs
    # what a recompute does). (3) Corpus totals (n, s) attach as a
    # 1-row broadcast scalar instead of a driver head() action, so the
    # whole query is a single job. The candidate join broadcasts only
    # the (q_id, term) pairs; idf now rides the candidate side —
    # identical per-term value, same pairs, same integer sums. A
    # 100 TB deployment materializes the postings ONCE as a real
    # index instead — bm25_index/bm25_score_against_index territory.
    # Round 12, session 5 (guide §2.4): the query-doc explode was
    # evaluated TWICE — once for the semi-filter term set and once for
    # the (q_id, term) pairs (two subtrees, two broadcast builds over
    # the same tiny relation). Persist the distinct pair table
    # (query-vocabulary-sized, caller-released via _probe_persisted)
    # and derive the term set from it: one query-doc pass, and both
    # broadcasts build from the in-memory pairs.
    qbig = doc_bigram_terms(
        docs.filter(F.col(id_col) % query_mod == 0), id_col, text_col
    )
    qdist = (
        qbig.select(F.col(id_col).alias("q_id"), "term")
        .distinct()
        .persist()
    )
    qset = qdist.select("term").distinct()
    terms = doc_bigram_terms(docs, id_col, text_col).join(
        F.broadcast(qset), "term"
    )
    tf = terms.groupBy(id_col, "term").agg(
        F.count("*").cast("long").alias("tf"),
        F.first("dl").alias("dl"),
    )
    t = F.split(F.col(text_col), " ")
    tot = (
        docs.filter(F.size(t) >= 2)
        .select((F.size(t) - 1).cast("long").alias("dl"))
        .agg(F.count("*").cast("long").alias("n"), F.sum("dl").alias("s"))
    )
    from pyspark.sql import Window

    tfw = (
        tf.crossJoin(F.broadcast(tot))
        .withColumn(
            "df",
            F.count("*").over(Window.partitionBy("term")).cast("long"),
        )
        .filter(
            F.col("df") * df_cap_den <= F.col("n") * df_cap_num
        )
        .withColumn(
            "idf_fp",
            F.round(
                F.lit(BM25_IDF_SCALE)
                * F.log(
                    (F.col("n").cast("double") - F.col("df") + 0.5)
                    / (F.col("df") + 0.5)
                    + 1.0
                )
            ).cast("long"),
        )
    )
    num = F.lit(22) * F.col("s") * F.col("tf")
    den = (
        F.lit(10) * F.col("s") * F.col("tf")
        + F.lit(3) * F.col("s")
        + F.lit(9) * F.col("n") * F.col("dl")
    )
    contrib = F.round(
        F.col("idf_fp") * (num.cast("double") / den.cast("double"))
    ).cast("long")
    scored = (
        tfw.join(F.broadcast(qdist), "term")
        .filter(F.col(id_col) != F.col("q_id"))
        .select("q_id", id_col, contrib.alias("c"))
        .groupBy("q_id", id_col)
        .agg(F.sum("c").alias("score_fp"))
    )
    from pyspark.sql import Window

    w = Window.partitionBy("q_id").orderBy(
        F.desc("score_fp"), F.asc(id_col)
    )
    out = (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", id_col, "score_fp", "rank")
    )
    out._probe_persisted = [qdist]
    return out


# ---------------------------------------------------------------------------
# Trained quality classifier (Brown et al. 2020 §A "quality filtering";
# the GPT-3/LLaMA recipe): fit a classifier on "curated reference
# sources vs the rest", score the whole corpus, keep high scorers.
# Multinomial Naive Bayes over hashed unigram features is the
# engine-native form: training IS two count aggregates (a K-row
# class-conditional table + a 2-row prior), scoring IS the same
# broadcast-join/integer-sum shape as dsir_weights / the LM scorers —
# no gradient loop, no driver-side model state beyond K rows.

NB_BUCKETS = 128
# Same fixed-point contract as DSIR_LOG_SCALE / LM_LOGPROB_SCALE: one
# round() per BUCKET-TABLE entry, integer sums per doc — exact,
# associative, cross-engine reproducible.
NB_LOG_SCALE = 10**6


def _nb_tokens(
    labeled: DataFrame,
    id_col: str,
    text_col: str,
    n_buckets: int,
    *carry: str,
) -> DataFrame:
    """(carry..., b): the hashed-unigram token stream of ``labeled``
    — one row per token, bucketed. Callers filter the split BEFORE
    calling so the explode only ever touches the slice it needs (the
    round-12 rewrite: the old shared (doc, bucket) rollup exploded the
    FULL corpus once for training and once for scoring)."""
    return labeled.select(
        *carry,
        F.explode(F.split(F.col(text_col), " ")).alias("tok"),
    ).select(
        *carry,
        (F.expr(md5_int_spark_sql("tok")) % n_buckets).alias("b"),
    )


def _nb_model(
    labeled: DataFrame, id_col: str, text_col: str, n_buckets: int, scale: int
):
    """Fit multinomial NB on the TRAIN slice: returns (weights
    DataFrame (b, w) — n_buckets rows, broadcastable — and the integer
    prior margin).

    ONE driver action: class priors AND per-class token totals come
    from a single doc-grain aggregate (t_* = Σ size(split(text)) over
    the class' train docs — exactly the bucket-table column sums,
    since split() never yields NULL elements and a NULL text
    contributes 0 docs to both forms). The bucket weight table itself
    stays an unexecuted train-slice-only plan the caller broadcasts,
    so the token pass runs once, inside the final query."""
    train = labeled.filter(F.col("split") == "train")
    ntok = F.size(F.split(F.col(text_col), " "))
    stats = train.agg(
        F.sum("hq").alias("n_hq"),
        F.sum(1 - F.col("hq")).alias("n_lq"),
        F.sum(F.when(F.col("hq") == 1, ntok).otherwise(0)).alias("t_hq"),
        F.sum(F.when(F.col("hq") == 0, ntok).otherwise(0)).alias("t_lq"),
    ).head()
    if not stats["n_hq"] or not stats["n_lq"]:
        raise ValueError(
            "nb_quality_classifier: the train split has a single class "
            f"(n_hq={stats['n_hq']}, n_lq={stats['n_lq']}) — a two-class "
            "classifier cannot fit; check hq_cond against the corpus"
        )
    import math

    n_train = stats["n_hq"] + stats["n_lq"]
    prior_fp = int(
        round(scale * math.log((stats["n_hq"] + 1) / (n_train + 2)))
    ) - int(round(scale * math.log((stats["n_lq"] + 1) / (n_train + 2))))
    counts = _nb_tokens(train, id_col, text_col, n_buckets, "hq").groupBy(
        "b"
    ).agg(
        F.sum("hq").alias("c_hq"),
        F.sum(1 - F.col("hq")).alias("c_lq"),
    )
    denom_hq = float(stats["t_hq"] + n_buckets)
    denom_lq = float(stats["t_lq"] + n_buckets)
    dense = (
        labeled.sparkSession.range(n_buckets)
        .withColumnRenamed("id", "b")
        .join(counts, "b", "left")
        .select(
            "b",
            F.coalesce("c_hq", F.lit(0)).alias("c_hq"),
            F.coalesce("c_lq", F.lit(0)).alias("c_lq"),
        )
    )
    w = dense.select(
        "b",
        (
            F.round(
                F.lit(scale)
                * F.log((F.col("c_hq").cast("double") + 1.0) / F.lit(denom_hq))
            ).cast("long")
            - F.round(
                F.lit(scale)
                * F.log((F.col("c_lq").cast("double") + 1.0) / F.lit(denom_lq))
            ).cast("long")
        ).alias("w"),
    )
    return w, prior_fp


def nb_train_frozen(
    docs: DataFrame,
    hq_cond,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = NB_BUCKETS,
    scale: int = NB_LOG_SCALE,
) -> tuple[list, int]:
    """Train the NB model once on a REFERENCE corpus (same train-slice
    protocol as nb_quality_classifier) and freeze it: returns the
    driver-resident (bucket, weight) rows — n_buckets of them — and
    the integer prior, the shape a long-running ingestion gate
    re-broadcasts per micro-batch (streaming/quality_gate.py)."""
    from firefox_public_data_report_etl_spark.operators.text import (
        hash_split,
    )

    labeled = hash_split(
        docs.select(id_col, text_col, hq_cond.cast("long").alias("hq"))
    )
    w, prior_fp = _nb_model(labeled, id_col, text_col, n_buckets, scale)
    return [(r["b"], r["w"]) for r in w.collect()], prior_fp


def nb_quality_classifier(
    docs: DataFrame,
    hq_cond,
    id_col: str = "doc_id",
    text_col: str = "text",
    n_buckets: int = NB_BUCKETS,
    scale: int = NB_LOG_SCALE,
) -> DataFrame:
    """Train multinomial NB on the deterministic hash-split TRAIN
    slice (label = ``hq_cond``), score the held-out val/test docs.

    Per held-out doc: margin_fp = prior_fp + Σ_b cnt_db · w_b where
    w_b = round(scale·ln p(b|hq)) − round(scale·ln p(b|lq)) with
    add-one smoothing, prior_fp the same contract on doc-class
    frequencies. pred_hq = margin_fp ≥ 0; ``correct`` compares the
    prediction against the doc's actual label, so the result set IS
    the held-out evaluation every classifier-filter recipe reports.

    Scale shape: ONE corpus token pass total — the train slice is
    exploded only inside the broadcast weight build, the held-out
    slice only in the returned doc-grain scoring aggregate; the
    weight table is n_buckets rows broadcast. No window, no global
    sort, no driver model state beyond the K-row table.
    """
    from firefox_public_data_report_etl_spark.operators.text import (
        hash_split,
    )

    labeled = hash_split(docs.select(id_col, text_col, hq_cond.cast("long").alias("hq")))
    # Round-12 restructure (guide §2.3/§2.4): the old shared (doc,
    # bucket) rollup exploded the FULL corpus once for the model-fit
    # action and once for the returned scoring plan, each paying a
    # (doc, b)-grain shuffle. Now the model fit is one doc-grain
    # driver action plus a train-slice-only bucket aggregate inside
    # the broadcast build, and scoring explodes only the held-out
    # slice straight into a doc-grain aggregate — exactly one corpus
    # token pass total, one doc-keyed shuffle, same integer sums
    # (Σ_b w_b·cnt_db ≡ Σ_tokens w_b(tok)).
    w, prior_fp = _nb_model(labeled, id_col, text_col, n_buckets, scale)
    heldout = _nb_tokens(
        labeled.filter(F.col("split") != "train"),
        id_col,
        text_col,
        n_buckets,
        id_col,
        "hq",
        "split",
    )
    return (
        heldout.join(F.broadcast(w), "b")
        .groupBy(id_col)
        .agg(
            F.first("split").alias("split"),
            (F.first("hq") == 1).alias("is_hq"),
            F.count("*").cast("long").alias("n_feats"),
            (F.lit(prior_fp) + F.sum("w"))
            .cast("long")
            .alias("margin_fp"),
        )
        .select(
            id_col,
            "split",
            "is_hq",
            "n_feats",
            "margin_fp",
            (F.col("margin_fp") >= 0).alias("pred_hq"),
            ((F.col("margin_fp") >= 0) == F.col("is_hq")).alias("correct"),
        )
    )


# ---------------------------------------------------------------------------
# Trained multilingual language ID (round 10): the multi-class sibling
# of nb_quality_classifier — the heuristic marker-vote langid was the
# only quality signal without a trained scale path. Multinomial NB
# over hashed unigrams, one weight table row per (class, bucket),
# argmax with a deterministic (score DESC, class ASC) tie-break.

NB_LANGID_CLASSES = ("de", "en", "es", "fr", "zh")


def nb_langid_classifier(
    docs: DataFrame,
    classes: tuple[str, ...] = NB_LANGID_CLASSES,
    id_col: str = "doc_id",
    text_col: str = "text",
    lang_col: str = "lang",
    n_buckets: int = NB_BUCKETS,
    scale: int = NB_LOG_SCALE,
) -> DataFrame:
    """Train multi-class multinomial NB on the hash-split TRAIN slice
    (label = the corpus' ``lang_col``), score the held-out val/test
    docs: per class c, score_fp(d, c) = prior_c + Σ_b cnt_db · w_cb
    with w_cb = round(scale·ln((c_cb+1)/(tot_c+K))) and prior_c =
    round(scale·ln((n_c+1)/(n_train+L))) — add-one smoothing, one
    round() per model entry, integer sums per doc (the established
    NB/DSIR fixed-point contract). pred = argmax, ties broken by
    class name ascending; ``margin_fp`` is winner minus runner-up
    (the per-doc confidence every langid filter thresholds on).

    Scale shape: ONE corpus token pass total (train slice inside the
    broadcast weight build, held-out slice into one doc-grain
    aggregate); the model is K rows broadcast in wide (b, w_c...)
    form; the argmax/margin is an in-row sort of L structs. No
    window, no global sort, no driver model state beyond the K-row
    table."""
    labeled = hash_split(
        docs.select(id_col, text_col, lang_col).filter(
            F.col(lang_col).isin(*classes)
        ),
        id_col=id_col,
    )
    # Round-12 restructure, same shape as nb_quality_classifier: one
    # doc-grain driver action for priors + per-class token totals, a
    # train-slice-only bucket aggregate inside the broadcast build (a
    # WIDE (b, w_c...) table — no L-way union, no ×L join fan-out),
    # held-out tokens scored straight into ONE doc-grain aggregate,
    # and the argmax/margin computed by sorting the L (neg-score,
    # class) structs in-row — the (doc, cl)-grain shuffle and the
    # doc-keyed window are gone. Same integer sums; the (score DESC,
    # class ASC) tie-break is the array_sort order on (-score, class).
    train = labeled.filter(F.col("split") == "train")
    ntok = F.size(F.split(F.col(text_col), " "))
    stats = train.agg(
        *[
            F.count(F.when(F.col(lang_col) == c, True)).alias(f"n_{c}")
            for c in classes
        ],
        *[
            F.sum(F.when(F.col(lang_col) == c, ntok).otherwise(0)).alias(
                f"t_{c}"
            )
            for c in classes
        ],
    ).head()
    n_by_class = {c: stats[f"n_{c}"] for c in classes if stats[f"n_{c}"]}
    import math

    n_train = sum(n_by_class.values())
    if len(n_by_class) < 2:
        raise ValueError(
            "nb_langid_classifier: the train split has "
            f"{len(n_by_class)} class(es) — a classifier cannot fit"
        )
    prior_fp = {
        c: int(
            round(
                scale
                * math.log(
                    (n_by_class.get(c, 0) + 1) / (n_train + len(classes))
                )
            )
        )
        for c in classes
    }
    counts = _nb_tokens(train, id_col, text_col, n_buckets, lang_col).groupBy(
        "b"
    ).agg(
        *[
            F.sum(F.when(F.col(lang_col) == c, 1).otherwise(0)).alias(
                f"c_{c}"
            )
            for c in classes
        ]
    )
    dense = (
        docs.sparkSession.range(n_buckets)
        .withColumnRenamed("id", "b")
        .join(counts, "b", "left")
        .select(
            "b",
            *[
                F.coalesce(f"c_{c}", F.lit(0)).alias(f"c_{c}")
                for c in classes
            ],
        )
    )
    # wide weight table (b, w_c per class): n_buckets rows, broadcast
    wt = dense.select(
        "b",
        *[
            F.round(
                F.lit(scale)
                * F.log(
                    (F.col(f"c_{c}").cast("double") + 1.0)
                    / F.lit(float((stats[f"t_{c}"] or 0) + n_buckets))
                )
            )
            .cast("long")
            .alias(f"w_{c}")
            for c in classes
        ],
    )
    heldout = _nb_tokens(
        labeled.filter(F.col("split") != "train"),
        id_col,
        text_col,
        n_buckets,
        id_col,
        lang_col,
        "split",
    )
    scored = (
        heldout.join(F.broadcast(wt), "b")
        .groupBy(id_col)
        .agg(
            F.first("split").alias("split"),
            F.first(lang_col).alias(lang_col),
            *[
                F.sum(f"w_{c}").cast("long").alias(f"s_{c}")
                for c in classes
            ],
        )
    )
    # (-score, class) ascending == (score DESC, class ASC): winner at
    # [1], runner-up at [2]; margin = s1 - s2 = ns2 - ns1, exactly the
    # old window's row_number()/lead() pair.
    ranked = F.array_sort(
        F.array(
            *[
                F.struct(
                    (-(F.col(f"s_{c}") + F.lit(prior_fp[c])))
                    .cast("long")
                    .alias("ns"),
                    F.lit(c).alias("cl"),
                )
                for c in classes
            ]
        )
    )
    return scored.select(
        id_col,
        "split",
        F.col(lang_col).alias("labeled_lang"),
        F.element_at(ranked, 1)["cl"].alias("pred_lang"),
        (F.element_at(ranked, 2)["ns"] - F.element_at(ranked, 1)["ns"])
        .cast("long")
        .alias("margin_fp"),
        (F.element_at(ranked, 1)["cl"] == F.col(lang_col)).alias("correct"),
    )


# ---------------------------------------------------------------------------
# Hashed TF-IDF signed-random-projection document embeddings — the
# model-free text→vector bridge (Achlioptas 2003 database-friendly
# random projections; feature hashing per Weinberger et al. 2009):
# e_d(doc) = Σ_t tf(t)·idf_fp(t)·sign(t, d) with sign(t, d) ∈ {−1, +1}
# a hash bit, so the projection matrix is never materialized. Output
# satisfies the engine's quantized-embedding contract (id, q, norm) —
# the brute/LSH/IVF cosine stack consumes it unchanged, giving
# text→embed→retrieve end-to-end without an external model.

HASHPROJ_DIM = 16
# idf is the ONE log in the pipeline: fixed-point per TERM-TABLE entry
# (round(scale·ln(N/df))), integer products/sums everywhere after —
# the DSIR/LM/NB rounding contract, so embeddings are bit-identical
# cross-engine.
HASHPROJ_IDF_SCALE = 10**3


def hashproj_idf_table(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    scale: int = HASHPROJ_IDF_SCALE,
) -> DataFrame:
    """The corpus idf table (w, idf_fp) the hashproj space is built
    on — persist/freeze it so LATE-ARRIVING queries (a serving
    index's normal input) embed into the SAME vector space instead of
    a drifted one computed from the query batch. Vocabulary-grain."""
    tf = (
        docs.select(
            id_col, F.explode(F.split(F.col(text_col), " ")).alias("w")
        )
        .groupBy(id_col, "w")
        .agg(F.count("*").alias("tf"))
    )
    n_docs = docs.count()
    return tf.groupBy("w").agg(F.count("*").alias("df")).select(
        "w",
        F.round(
            F.lit(scale)
            * F.log(F.lit(float(n_docs)) / F.col("df").cast("double"))
        )
        .cast("long")
        .alias("idf_fp"),
    )


def hashproj_embeddings(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    dim: int = HASHPROJ_DIM,
    scale: int = HASHPROJ_IDF_SCALE,
    idf: DataFrame | None = None,
) -> DataFrame:
    """(id_col, q array<long>, norm long): signed-hash-projected
    TF-IDF embeddings, dim-ordered, with the exact squared norm —
    drop-in for operators.similarity.quantized output.

    Scale shape (round-12 rewrite): one token pass → (doc, term) tf
    rollup; the df/idf table is VOCABULARY-grain (shuffle join on
    term — too big to broadcast at corpus scale, AQE handles stopword
    skew) and now ALSO carries each term's ``dim`` projection signs
    as an array, so the md5 sign hash runs dim × |vocab| times
    instead of dim × |doc-term-pairs| (the old form re-hashed every
    term once per document containing it); the doc rollup is ONE
    groupBy with ``dim`` sum aggregates over ``element_at(signs, .)``
    — the old dim× posexplode fan-out of the (doc, term) stream and
    the second (doc, dm)-grain shuffle + collect_list/array_sort
    reassembly are gone entirely. Identical integer arithmetic
    (Σ tf·idf·sign per dim, sums commute), oracle unchanged. No
    window, no global sort, no driver state — N (corpus count) is
    the single scalar action.

    Pass a FROZEN ``idf`` table (hashproj_idf_table of the indexed
    corpus) to embed query batches into the corpus's vector space;
    terms absent from the frozen vocabulary drop out of the inner
    join — OOV contributes nothing, matching the zero-idf limit."""
    tf = (
        docs.select(
            id_col, F.explode(F.split(F.col(text_col), " ")).alias("w")
        )
        .groupBy(id_col, "w")
        .agg(F.count("*").alias("tf"))
    )
    if idf is None:
        idf = hashproj_idf_table(docs, id_col, text_col, scale)
    sign_sql = (
        "1 - 2 * ("
        + md5_int_spark_sql("concat(w, '#', cast(dm as string))")
        + " % 2)"
    )
    idf_signed = idf.select(
        "w",
        "idf_fp",
        F.expr(
            f"transform(sequence(0, {dim - 1}),"
            f" dm -> CAST({sign_sql} AS BIGINT))"
        ).alias("signs"),
    )
    sums = [
        F.sum(
            F.col("tf") * F.col("idf_fp") * F.element_at("signs", d + 1)
        ).alias(f"_v{d}")
        for d in range(dim)
    ]
    comp = tf.join(idf_signed, "w").groupBy(id_col).agg(*sums)
    norm = None
    for d in range(dim):
        sq = F.col(f"_v{d}") * F.col(f"_v{d}")
        norm = sq if norm is None else norm + sq
    return comp.select(
        id_col,
        F.array(*[F.col(f"_v{d}") for d in range(dim)]).alias("q"),
        norm.cast("long").alias("norm"),
    )


# ---------------------------------------------------------------------------
# Exact repeated-substring spans (Lee et al. 2022, "Deduplicating
# Training Data Makes Language Models Better"): the suffix-array
# result — every maximal token span of length ≥ k that occurs more
# than once ANYWHERE in the corpus — re-derived Spark-natively: a
# k-gram occurring twice is exactly a length-k repeated substring,
# and a maximal repeated span of length L ≥ k is exactly a maximal
# RUN of L−k+1 consecutive repeated k-grams, so island-merging the
# repeated k-gram positions reconstructs the suffix-array spans
# without any suffix array. Complements dedup_lines_c4 (line-grain,
# exact-line matches): this finds arbitrary-boundary repetition.

SUBSTR_GRAM = 10


def repeated_substring_spans(
    docs: DataFrame,
    k: int = SUBSTR_GRAM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, span_start, span_end, n_grams, span_tokens): maximal
    spans of ≥ k tokens whose every k-window also occurs elsewhere
    in the corpus (or again in the same document — self-repetition
    counts, as in the paper). Positions are 1-based token indexes.

    Scale shape: gram rows carry an 8-byte hash + position (never
    the gram text past the hash projection); one map-side-combined
    count by hash; one hash equi-join back; island merge is a
    per-document window (doc-partitioned — no global sort). The
    repeated-hash table is bounded by gram cardinality, and the
    count filter (≥ 2) cuts it to the duplicated mass before the
    join back."""
    d = docs.select(
        id_col, F.split(F.col(text_col), " ").alias("t")
    ).withColumn("n", F.size("t"))
    grams = (
        d.filter(F.col("n") >= k)
        .select(
            id_col,
            F.explode(
                F.expr(f"sequence(1, n - {k} + 1)")
            ).alias("pos"),
            "t",
        )
        .select(
            id_col,
            "pos",
            F.expr(
                md5_int_spark_sql(
                    f"concat_ws(' ', slice(t, pos, {k}))"
                )
            ).alias("h"),
        )
    )
    rep_h = (
        grams.groupBy("h")
        .agg(F.count("*").alias("c"))
        .filter(F.col("c") >= 2)
        .select("h")
    )
    rep = grams.join(rep_h, "h").select(id_col, "pos")
    w = Window.partitionBy(id_col).orderBy("pos")
    isl = rep.withColumn("grp", F.col("pos") - F.row_number().over(w))
    return (
        isl.groupBy(id_col, "grp")
        .agg(
            F.min("pos").cast("long").alias("span_start"),
            (F.max("pos") + k - 1).cast("long").alias("span_end"),
            F.count("*").cast("long").alias("n_grams"),
        )
        .select(
            id_col,
            "span_start",
            "span_end",
            "n_grams",
            (F.col("span_end") - F.col("span_start") + 1).alias(
                "span_tokens"
            ),
        )
    )


def substring_scrub(
    docs: DataFrame,
    k: int = SUBSTR_GRAM,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Repeated-substring REMOVAL with the paper's keep-first policy
    (Lee et al. 2022 §3): a k-gram occurrence is FOREIGN when an
    earlier occurrence exists — in a lower-id document, or earlier in
    the same document — and every token covered by a foreign gram
    window is dropped; the first occurrence keeps its text, so each
    duplicated span survives exactly once corpus-wide. Returns
    (id, text, n_tokens, n_dropped, scrubbed_text).

    Shape: the gram rollup carries (min doc, min pos within min doc)
    per hash — ONE aggregate, broadcast-size nothing; the foreign
    test is a projection after the hash join back; coverage expands
    each foreign gram to its k token positions (k× the foreign rows
    only, not the corpus); reassembly is a per-doc sort-free
    array_contains filter over the token array (positions collected
    per doc — bounded by doc length, the dedup_lines_c4 reassembly
    contract)."""
    d = docs.select(
        id_col, F.col(text_col).alias("_text"), F.split(F.col(text_col), " ").alias("t")
    ).withColumn("n", F.size("t"))
    grams = (
        d.filter(F.col("n") >= k)
        .select(
            id_col,
            F.explode(F.expr(f"sequence(1, n - {k} + 1)")).alias("pos"),
            "t",
        )
        .select(
            id_col,
            "pos",
            F.expr(
                md5_int_spark_sql(f"concat_ws(' ', slice(t, pos, {k}))")
            ).alias("h"),
        )
    )
    firsts = grams.groupBy("h").agg(
        F.min(F.struct(F.col(id_col).alias("d"), F.col("pos").alias("p"))).alias(
            "first_occ"
        )
    )
    foreign = (
        grams.join(firsts, "h")
        .filter(
            (F.col("first_occ.d") < F.col(id_col))
            | (
                (F.col("first_occ.d") == F.col(id_col))
                & (F.col("first_occ.p") < F.col("pos"))
            )
        )
        .select(id_col, "pos")
    )
    covered = (
        foreign.select(
            id_col,
            F.explode(
                F.sequence(F.col("pos"), F.col("pos") + F.lit(k - 1))
            ).alias("tp"),
        )
        .groupBy(id_col)
        .agg(F.collect_set("tp").alias("drop_pos"))
    )
    return (
        d.join(covered, id_col, "left")
        .select(
            id_col,
            F.col("_text").alias(text_col),
            F.col("n").cast("long").alias("n_tokens"),
            F.coalesce(F.size("drop_pos"), F.lit(0))
            .cast("long")
            .alias("n_dropped"),
            F.when(
                F.col("drop_pos").isNull(), F.col("_text")
            )
            .otherwise(
                F.expr(
                    "concat_ws(' ', filter(transform(t, (x, i) -> "
                    "IF(array_contains(drop_pos, i + 1), NULL, x)), "
                    "x -> x IS NOT NULL))"
                )
            )
            .alias("scrubbed_text"),
        )
    )


# ---------------------------------------------------------------------------
# Unigram-LM-style tokenizer (round 9, r8 verdict #4): the second
# tokenizer family real pipelines A/B against BPE — a SentencePiece-
# shaped vocabulary learner (Kudo 2018's pipeline shape: seed a
# large candidate vocabulary from frequent substrings, iterate
# segment → count → prune to a fixed point) with a greedy
# longest-match-first encoder (the WordPiece-style deterministic
# 1-best stand-in for Viterbi; hard-EM rounds, integer counts only,
# so the DuckDB twin replays the identical rounds bit-for-bit).
#
# Scale shape, same vocabulary trick as bpe_train: after one
# corpus-sized word count, every round runs over the DISTINCT-WORD
# table (vocabulary-cardinality, weighted by word count). The piece
# set is a tokenizer artifact (bounded like the BPE merge table) and
# rides in the segmentation stage's closure; per round the retained
# pieces are collected once — the iterative-algorithm driver edge,
# same class as bpe_train's per-round argmax.
# ---------------------------------------------------------------------------

UNIGRAM_MAX_PIECE = 4
UNIGRAM_ROUNDS = 3
# fractional thresholds (integer cross-multiply — SF-independent in
# FORM, exact in both engines): a seed substring must carry >=
# 1/SEED_DIV of the weighted substring mass; a piece survives a
# round if its segmentation usage carries >= 1/PRUNE_DIV of the
# corpus word mass. Single chars are always retained (coverage).
UNIGRAM_SEED_DIV = 400
UNIGRAM_PRUNE_DIV = 100
# the DuckDB oracle unrolls the greedy match this many steps (one
# per consumed char); corpus words are <= 8 chars (TESTDATA.md) —
# the Spark side has no such bound (its loop is per-word)
UNIGRAM_MAX_WORD = 8


def _greedy_pieces(word: str, pieces, max_piece: int) -> list[str]:
    """Greedy longest-match-first segmentation; single chars always
    match (full coverage even for chars outside the piece set)."""
    out, i = [], 0
    while i < len(word):
        for ln in range(min(max_piece, len(word) - i), 0, -1):
            if ln == 1 or word[i : i + ln] in pieces:
                out.append(word[i : i + ln])
                i += ln
                break
    return out


def segment_words_unigram(
    words: DataFrame, pieces, max_piece: int = UNIGRAM_MAX_PIECE
) -> DataFrame:
    """(w, sub_pos, piece): greedy longest-match segmentation of a
    distinct-word table against a piece set riding in the closure —
    Arrow-batched mapInPandas (per-word iteration is genuinely
    imperative; the input is vocabulary-cardinality, never corpus
    text)."""
    import pandas as pd

    pset = frozenset(pieces)

    def _seg(batches):
        for pdf in batches:
            rows = []
            for w in pdf["w"]:
                for sp, p in enumerate(_greedy_pieces(w, pset, max_piece)):
                    rows.append((w, sp, p))
            yield pd.DataFrame(rows, columns=["w", "sub_pos", "piece"])

    return words.select("w").mapInPandas(
        _seg, "w string, sub_pos long, piece string"
    )


def word_count_vocab(docs: DataFrame, text_col: str = "text") -> DataFrame:
    """(w, c): the corpus word-count table every tokenizer stage
    starts from. Exposed so a train→apply/usage composition can build
    it ONCE (persist query-scoped, caller-released) instead of each
    stage paying its own corpus pass (round 12, guide §2.4)."""
    return (
        docs.select(F.explode(F.split(F.col(text_col), " ")).alias("w"))
        .groupBy("w")
        .agg(F.count("*").alias("c"))
    )


def unigram_train(
    docs: DataFrame,
    text_col: str = "text",
    rounds: int = UNIGRAM_ROUNDS,
    max_piece: int = UNIGRAM_MAX_PIECE,
    fused: bool = True,
    vocab: DataFrame | None = None,
) -> list[str]:
    """Learn the unigram vocabulary: seed = substrings (length <=
    ``max_piece``) carrying >= 1/SEED_DIV of the weighted substring
    mass, then ``rounds`` hard-EM iterations — segment the distinct
    words greedily with the current vocabulary, count weighted piece
    usage, prune multi-char pieces below 1/PRUNE_DIV of the corpus
    word mass (single chars always survive). Runs every round even
    after the vocabulary stops changing, so the unrolled oracle is
    bit-equal by construction. Returns the sorted final piece list —
    the artifact a tokenizer ships.

    ``fused=True`` (default): seed + all EM rounds run in ONE Arrow
    task over the word-count table (same shape, cap, and loud raise
    as ``bpe_train(fused=True)``; reuses the exact ``_greedy_pieces``
    segmenter the distributed rounds use) — one job instead of
    3 + rounds driver actions. ``fused=False`` keeps the distributed
    per-round loop; identical piece lists by construction
    (tests/test_tokenizer_fused.py). ``vocab``: a prebuilt
    ``word_count_vocab`` frame (e.g. persisted and shared with the
    apply/usage stage) — built here when absent."""
    if vocab is None:
        vocab = word_count_vocab(docs, text_col)
    if fused:
        cap = _FUSED_VOCAB_CAP

        def _train(batches):
            import pandas as pd

            words: list[str] = []
            counts: list[int] = []
            for pdf in batches:
                words.extend(pdf["w"])
                counts.extend(int(c) for c in pdf["c"])
                if len(words) > cap:
                    raise ValueError(
                        "unigram_train(fused=True): word-type count "
                        f"exceeds _FUSED_VOCAB_CAP={cap}; rerun with "
                        "fused=False (distributed EM rounds)"
                    )
            mass: dict[str, int] = {}
            total = 0
            for w, c in zip(words, counts):
                n = len(w)
                for i in range(n):
                    for ln in range(1, min(max_piece, n - i) + 1):
                        p = w[i : i + ln]
                        mass[p] = mass.get(p, 0) + c
                        total += c
            pieces = sorted(
                p
                for p, v in mass.items()
                if len(p) == 1 or v * UNIGRAM_SEED_DIV >= total
            )
            word_total = sum(counts)
            chars = {p for p in pieces if len(p) == 1}
            for _ in range(rounds):
                pset = frozenset(pieces)
                usage: dict[str, int] = {}
                for w, c in zip(words, counts):
                    for p in _greedy_pieces(w, pset, max_piece):
                        usage[p] = usage.get(p, 0) + c
                kept = {
                    p
                    for p, u in usage.items()
                    if len(p) > 1 and u * UNIGRAM_PRUNE_DIV >= word_total
                }
                pieces = sorted(chars | kept)
            yield pd.DataFrame({"piece": pieces})

        return sorted(
            r["piece"]
            for r in vocab.repartition(1)
            .mapInPandas(_train, "piece string")
            .collect()
        )

    vocab = vocab.cache()
    subs = vocab.select(
        F.explode(
            F.expr(
                "flatten(transform(sequence(1, length(w)),"
                f" i -> transform(sequence(1, least({max_piece},"
                " length(w) - i + 1)), L -> substring(w, i, L))))"
            )
        ).alias("piece"),
        "c",
    )
    agg = subs.groupBy("piece").agg(F.sum("c").alias("cnt"))
    # Seed mass total and the seed filter in ONE action (round-12,
    # guide §2.4): the total rides the job as a 1-row broadcast scalar
    # attach (the repo's scalar-attach convention) instead of its own
    # driver action; Σ_pieces cnt ≡ Σ_subs c, so the value is the same
    # seed_total the two-action form computed.
    seed_rows = (
        agg.crossJoin(
            F.broadcast(agg.agg(F.sum("cnt").alias("_seed_total")))
        )
        .filter(
            (F.length("piece") == 1)
            | (F.col("cnt") * UNIGRAM_SEED_DIV >= F.col("_seed_total"))
        )
        .collect()
    )
    pieces = sorted(r["piece"] for r in seed_rows)
    word_total = vocab.agg(F.sum("c")).head()[0]
    chars = {p for p in pieces if len(p) == 1}
    for _ in range(rounds):
        seg = segment_words_unigram(vocab, pieces, max_piece)
        usage = (
            seg.join(vocab, "w")
            .groupBy("piece")
            .agg(F.sum("c").alias("usage"))
        )
        kept = usage.filter(
            (F.length("piece") > 1)
            & (F.col("usage") * UNIGRAM_PRUNE_DIV >= F.lit(word_total))
        ).collect()
        pieces = sorted(chars | {r["piece"] for r in kept})
    vocab.unpersist()
    return pieces


def unigram_vocab_usage(
    docs: DataFrame,
    pieces: list[str],
    text_col: str = "text",
    max_piece: int = UNIGRAM_MAX_PIECE,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """(piece, usage, piece_id): the final vocabulary with its
    weighted usage under the final segmentation (0 for retained-but-
    unused single chars) and the shipping id — dense index over the
    piece-sorted vocabulary (python/DuckDB code-point collation,
    identical over the ASCII testdata, same note as bpe_apply).
    ``vocab``: a prebuilt ``word_count_vocab`` frame shared with the
    trainer — built here when absent."""
    spark = docs.sparkSession
    if vocab is None:
        vocab = word_count_vocab(docs, text_col)
    usage = (
        segment_words_unigram(vocab, pieces, max_piece)
        .join(vocab, "w")
        .groupBy("piece")
        .agg(F.sum("c").alias("usage"))
    )
    ids = spark.createDataFrame(
        [(p, i) for i, p in enumerate(sorted(pieces))],
        "piece string, piece_id long",
    )
    return ids.join(usage, "piece", "left").select(
        "piece",
        F.coalesce("usage", F.lit(0)).cast("long").alias("usage"),
        "piece_id",
    )


def unigram_apply(
    docs: DataFrame,
    pieces: list[str],
    id_col: str = "doc_id",
    text_col: str = "text",
    max_piece: int = UNIGRAM_MAX_PIECE,
    vocab: DataFrame | None = None,
) -> DataFrame:
    """Encode the corpus with a learned unigram vocabulary — the
    apply half, same output grain as ``bpe_apply``: (doc_id,
    word_pos, sub_pos, piece, piece_id). Corpus-sized work is one
    posexplode + one (word → pieces) equi-join; segmentation runs
    once over the distinct-word table. ``vocab``: a prebuilt
    ``word_count_vocab`` frame shared with the trainer — its ``w``
    column replaces the distinct-word pass here, and it MUST cover
    the corpus word set (built from the same ``docs``/``text_col``,
    like ``max_piece`` must match the trained geometry): a word
    absent from ``vocab`` is silently dropped by the inner
    ``words ⋈ seg`` join, not raised (round-13 advisor note; every
    call site passes the trainer's own vocab)."""
    spark = docs.sparkSession
    words = docs.select(
        F.col(id_col),
        F.posexplode(F.split(F.col(text_col), " ")).alias("word_pos", "w"),
    )
    # max_piece MUST match the trained geometry (review fix: a
    # vocabulary trained with a larger lookahead would otherwise be
    # silently re-segmented with the default and its longer pieces
    # could never match)
    distinct_w = (
        vocab.select("w") if vocab is not None
        else words.select("w").distinct()
    )
    seg = segment_words_unigram(distinct_w, pieces, max_piece)
    ids = spark.createDataFrame(
        [(p, i) for i, p in enumerate(sorted(pieces))],
        "piece string, piece_id long",
    )
    return (
        words.join(seg, "w")
        .join(F.broadcast(ids), "piece")
        .select(
            id_col,
            F.col("word_pos").cast("long").alias("word_pos"),
            F.col("sub_pos").cast("long").alias("sub_pos"),
            "piece",
            "piece_id",
        )
    )


# ---------------------------------------------------------------------------
# Fill-in-the-middle transform (round 10). The standard code-LM data
# transform (Bavarian et al. 2022, "Efficient Training of Language
# Models to Fill in the Middle"): split each training document into
# (prefix, middle, suffix) at two random cut points and emit the
# reordered stream prefix ⊕ suffix ⊕ middle with sentinel markers, so
# an autoregressive model learns infilling. Deterministic engine
# form: cut points and the FIM/AR coin come from md5 of the doc id,
# so the whole transformed stream is a pure function of the corpus —
# recomputable bit-for-bit in SQL. PSM ordering; whitespace token
# grain (the repo's corpus token convention).

FIM_RATE_MOD = 2  # doc hash % 2 == 0 -> transform (50% FIM rate)
FIM_SENT_PRE, FIM_SENT_SUF, FIM_SENT_MID = "<PRE>", "<SUF>", "<MID>"


def fim_transform(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, out_idx, tok, segment): the FIM-transformed token stream.
    FIM docs emit ``<PRE> prefix <SUF> suffix <MID> middle`` (PSM —
    the sentinel positions let the trainer splice the attention mask
    without re-tokenizing); AR docs pass through as segment 'raw'.
    Cut points c1 ≤ c2 are uniform over [0, n] via independent md5
    draws; any of the three parts may be empty, as in the reference
    recipe.

    Scale shape: one token pass (scan-local posexplode) + a 3-row
    per-doc sentinel attach — output positions are PURE ARITHMETIC
    of (pos, c1, c2, n), so there is NO window, NO sort, NO shuffle
    beyond the scan itself; the stream lands partition-local in
    corpus order."""
    doc_s = f"cast({id_col} as string)"
    h = lambda tag: md5_int_spark_sql(f"concat({doc_s}, '#{tag}')")
    d = (
        docs.select(
            id_col, F.split(F.col(text_col), " ").alias("t")
        )
        .withColumn("n", F.size("t").cast("long"))
        .withColumn("is_fim", F.expr(f"{h('fim')} % {FIM_RATE_MOD} = 0"))
        .withColumn("c1", F.expr(f"{h('f1')} % (n + 1)"))
        .withColumn("c2", F.expr(f"c1 + {h('f2')} % (n - c1 + 1)"))
    )
    toks = d.select(
        id_col,
        "n",
        "is_fim",
        "c1",
        "c2",
        F.posexplode("t").alias("p0", "tok"),
    ).withColumn("pos", (F.col("p0") + 1).cast("long"))
    token_rows = toks.select(
        id_col,
        F.when(~F.col("is_fim") | (F.col("pos") <= F.col("c1")), F.col("pos"))
        .when(
            F.col("pos") > F.col("c2"),
            F.col("c1") + 1 + F.col("pos") - F.col("c2"),
        )
        .otherwise(F.col("n") - F.col("c2") + 2 + F.col("pos"))
        .alias("out_idx"),
        "tok",
        F.when(~F.col("is_fim"), "raw")
        .when(F.col("pos") <= F.col("c1"), "prefix")
        .when(F.col("pos") > F.col("c2"), "suffix")
        .otherwise("middle")
        .alias("segment"),
    )
    sent = (
        d.filter("is_fim")
        .select(
            id_col,
            F.explode(
                F.array(
                    F.struct(
                        F.lit(0).cast("long").alias("out_idx"),
                        F.lit(FIM_SENT_PRE).alias("tok"),
                    ),
                    F.struct(
                        (F.col("c1") + 1).alias("out_idx"),
                        F.lit(FIM_SENT_SUF).alias("tok"),
                    ),
                    F.struct(
                        (F.col("c1") + F.col("n") - F.col("c2") + 2).alias(
                            "out_idx"
                        ),
                        F.lit(FIM_SENT_MID).alias("tok"),
                    ),
                )
            ).alias("s"),
        )
        .select(
            id_col,
            F.col("s.out_idx").alias("out_idx"),
            F.col("s.tok").alias("tok"),
            F.lit("sentinel").alias("segment"),
        )
    )
    return token_rows.unionByName(sent)


# ---------------------------------------------------------------------------
# Span corruption (round 10). The T5 denoising objective's data prep
# (Raffel et al. 2020): mask contiguous token spans with numbered
# sentinels, emit the INPUT stream (unmasked tokens + sentinels in
# place of each span) and the TARGET stream (each sentinel followed
# by the tokens it hides). Deterministic engine form: spans live
# inside fixed 8-token blocks with md5-drawn selection/length/offset,
# so spans never cross blocks and the whole construction is exact
# arithmetic — no sequential greedy suppression, fully parallel, and
# recomputable bit-for-bit in SQL.

SC_BLOCK = 8  # block width; spans are block-local
SC_SEL_MOD = 5  # block hash % 5 == 0 -> corrupted (20% of blocks,
#                 ~expected 20% x mean span 2.5/8 ≈ 6% token mass)
SC_MAX_SPAN = 4


def span_corruption_streams(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "text"
) -> DataFrame:
    """(id, stream 'input'|'target', idx, tok): the denoising pair
    per document. Sentinels are numbered per doc in block order
    (<X0>, <X1>, …), matching the T5 convention.

    Scale shape (round 12): spans are block-local, so BOTH streams
    are per-document array constructions — selected blocks, span
    bounds, sentinel numbering, and each stream's token order are
    computed in-row (nested transform/filter over the token array)
    and exploded once. One scan, zero joins, zero shuffles; the old
    form paid two corpus explodes, two (doc, block) joins, and three
    doc-partitioned row_number windows for the same rows.

    Row-for-row equivalence with the window form (pinned by
    test_fim_span_corruption): the input ordering key was kept
    tokens at pos*2 and sentinels at lo*2-1 — i.e. block-major,
    sentinel exactly where the span starts, which is what the
    per-block concat(before-span, sentinel, after-span) emits; the
    target key was b*(BLOCK+1)+offset — block-major sentinel-then-
    span-tokens, which is what flatten over the span structs emits.
    sid = ordinal of the block among the doc's selected blocks =
    the filter-then-transform index."""
    doc_s = f"cast({id_col} as string)"

    def h(tag: str) -> str:
        return md5_int_spark_sql(
            f"concat({doc_s}, '#{tag}', cast(b as string))"
        )

    B = SC_BLOCK
    from firefox_public_data_report_etl_spark.operators.parallelism import (
        widen_partitions,
    )

    # The whole construction is narrow (zero shuffles), so it would
    # inherit the scan's split count — one task on a single-row-group
    # toy-SF file. Widen the PRE-expansion compact form (no-op at
    # real scale where the scan splits by itself).
    d = widen_partitions(
        docs.select(
            id_col, F.split(F.col(text_col), " ").alias("t")
        ).withColumn("n", F.size("t").cast("long"))
    )

    # Selected blocks -> (b, sid, lo, hi) structs, one filter +
    # three nested transforms so each md5 draw is evaluated once.
    spans_sql = f"""
      transform(
        transform(
          transform(
            filter(sequence(0L, (n + {B - 1}) div {B} - 1),
                   b -> {h('scb')} % {SC_SEL_MOD} = 0),
            (b, i) -> named_struct(
              'b', b, 'sid', cast(i as bigint),
              'n_in', least({B}, n - b * {B}),
              'hs', {h('scs')}, 'hl', {h('scl')})
          ),
          s -> named_struct(
            'b', s.b, 'sid', s.sid, 'n_in', s.n_in, 'hs', s.hs,
            'sp_len', 1 + s.hl % least({SC_MAX_SPAN}, s.n_in))
        ),
        s -> named_struct(
          'b', s.b, 'sid', s.sid,
          'lo', s.b * {B} + s.hs % (s.n_in - s.sp_len + 1) + 1,
          'hi', s.b * {B} + s.hs % (s.n_in - s.sp_len + 1) + s.sp_len)
      )
    """
    d = d.withColumn("spans", F.expr(spans_sql))

    # Input stream: per block, tokens outside the span with the
    # sentinel where the span starts (span lookup bound once per
    # block via the inner transform).
    inp_sql = f"""
      flatten(transform(
        transform(sequence(0L, (n + {B - 1}) div {B} - 1),
                  b -> named_struct('b', b,
                                    'sp', filter(spans, s -> s.b = b))),
        x -> CASE WHEN size(x.sp) = 0
             THEN slice(t, cast(x.b * {B} + 1 as int),
                        cast(least(n, x.b * {B} + {B}) - x.b * {B} as int))
             ELSE concat(
               slice(t, cast(x.b * {B} + 1 as int),
                     cast(x.sp[0].lo - (x.b * {B} + 1) as int)),
               array(concat('<X', cast(x.sp[0].sid as string), '>')),
               slice(t, cast(x.sp[0].hi + 1 as int),
                     cast(least(n, x.b * {B} + {B}) - x.sp[0].hi as int)))
             END))
    """
    tgt_sql = """
      flatten(transform(spans, s -> concat(
        array(concat('<X', cast(s.sid as string), '>')),
        slice(t, cast(s.lo as int), cast(s.hi - s.lo + 1 as int)))))
    """
    rows_sql = f"""
      concat(
        transform({inp_sql}, (x, i) -> named_struct(
          'stream', 'input', 'idx', cast(i as bigint), 'tok', x)),
        transform({tgt_sql}, (x, i) -> named_struct(
          'stream', 'target', 'idx', cast(i as bigint), 'tok', x))
      )
    """
    return (
        d.select(id_col, F.explode(F.expr(rows_sql)).alias("r"))
        .select(id_col, "r.stream", "r.idx", "r.tok")
    )
