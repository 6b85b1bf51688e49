"""Deduplication operators for large-scale training-data pipelines.

Beyond the reference's scope (its dedup surface is GROUP BY collapse,
A17); these are the operators a 100 TB text-corpus pipeline needs:

  - exact dedup: hash-groupBy, one shuffle on the content hash;
  - MinHash + LSH near-dup: shingle → minhash signature → banded
    bucket join → verify exact Jaccard on the candidate set only.
    The band join turns the O(n²) pair space into per-bucket joins —
    the only quadratic work left is within buckets and on the
    (tiny) candidate set;
  - SimHash signatures: per-token hash sign-aggregation; pair mining
    at scale reuses the same banding trick (pigeonhole: hamming ≤ k
    ⇒ some band of k+1 equal).

Every hash is the md5-prefix integer (functions.md5_int_sql) — Spark
computes it via the fast single-``conv`` form (md5_int_spark_sql), the
DuckDB oracle via the portable instr fragment; both yield identical
values, so signatures, LSH candidates and pairs match bit-for-bit.

Spark-first: everything below is built-in column expressions —
shingling is ``transform``/``sequence``/``element_at`` (codegen'd,
no Python in the row path), signatures are per-array ``array_min``
aggregates.

Cache lifecycle: the exact pair joins persist their candidate set
(``_decide_broadcast_pairs``) and hand it back on
``_probe_persisted`` for the caller to release. Long-lived sessions
running many corpora should ``spark.catalog.clearCache()`` between
runs (bench.py does).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from firefox_public_data_report_etl_spark.functions import (
    md5_int_spark_sql,
    minhash_perm_sql,
)

# Fixed universal-hash constants (a, b): a < 2^31 and h < 2^28 keep
# a*h + b inside int64. Shared by the Spark plan and the DuckDB oracle.
# Deterministic in k, so any (n_bands x rows_per_band) configuration
# derives the same prefix — the banding knob changes recall, never
# the hash family.


def make_perms(n: int) -> list[tuple[int, int]]:
    return [
        (
            (2 * k + 1) * 12582917 % 2147483629,
            (k * 15485863 + 32452843) % 2147483647,
        )
        for k in range(n)
    ]


N_BANDS = 4
ROWS_PER_BAND = 4


def _hash_int(col: str, bits: int = 28):
    """``bits``-wide md5-prefix hash of a string column, bit-identical
    in DuckDB (bits % 4 == 0, <= 60 so the nibble sum fits a BIGINT).
    28 bits keep the minhash universal-hash arithmetic (a*h + b,
    a < 2^31) inside int64. The one hash of every hashed
    shingle/gram/token row path in this module."""
    if bits % 4 or bits > 60:
        raise ValueError("md5-prefix hash needs bits % 4 == 0, <= 60")
    return F.expr(md5_int_spark_sql(col, nibbles=bits // 4))


# Word 3-gram shingles from a token array column `t` — same logic in
# both dialects (Spark subscripts are 0-based → element_at; DuckDB
# lists are 1-based).
SPARK_SHINGLES = (
    "transform(sequence(1, size(t)-2),"
    " i -> concat_ws(' ', element_at(t,i), element_at(t,i+1), element_at(t,i+2)))"
)
DUCK_SHINGLES = (
    "list_transform(range(1, len(t)-1), i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])"
)


def shingle_rows(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, h): one row per DISTINCT 28-bit hash of a word-3-gram per
    document — the exploded form of ``gram_hash_arrays``.

    Hash-then-distinct: all downstream set operations (sizes, pair
    intersections, minhash) run on the 28-bit int, so shuffles and
    joins move 8-byte keys instead of shingle strings — the difference
    between shuffling the corpus and shuffling fingerprints at 100 TB.
    Jaccard is measured over the DISTINCT hashed shingle space (two
    grams colliding in 28 bits count once), identically in this row
    form, the array form (``array_distinct`` over the hash array),
    and the DuckDB oracle (DISTINCT in the sh CTE) — so a collision
    can never make the engines diverge.

    Implementation note (measured, round 5): the hash runs in a
    codegen'd Project AFTER the explode — hashing inside a
    ``transform`` lambda is interpreted expression eval, ~12x slower
    for the md5 parity fragment (0.44 s vs 5.4 s over sf0.1). The
    hash-level dedup is therefore a ``dropDuplicates`` — one
    fingerprint-sized (16-byte rows) exchange, which every consumer
    re-shuffles right after anyway. The array form keeps its hashes
    inside ``transform`` instead: staying narrow matters more there
    (the arrays feed the band join directly), and its callers widen
    the scan so the lambda cost parallelizes.
    """
    t = docs.select(
        id_col, F.split(F.col(text_col), " ").alias("t")
    ).filter(F.size("t") >= 3)
    raw = t.select(
        id_col, F.explode(F.array_distinct(F.expr(SPARK_SHINGLES))).alias("g")
    )
    return raw.select(
        id_col, _hash_int("g").alias("h")
    ).dropDuplicates([id_col, "h"])


def _band_expr(band: int, rows_per_band: int = ROWS_PER_BAND):
    """Combine ``rows_per_band`` signature values into one band key
    (Horner, base 31 — max ~2^46 at 4 rows, safe in int64)."""
    cols = [
        F.col(f"mh{band * rows_per_band + r}") for r in range(rows_per_band)
    ]
    out = cols[0]
    for c in cols[1:]:
        out = out * 31 + c
    return out


# Auto-broadcast ceiling for the candidate-pair table: 2M (da, db)
# rows ≈ 32 MB of long-pairs plus row overhead — comfortably inside
# default driver/broadcast budgets, yet far above any sane post-LSH
# candidate count (candidates ≈ dup pairs, not corpus pairs). A
# dup-heavy corpus that exceeds it falls back to the shuffle join
# automatically instead of OOMing the driver.
MAX_BROADCAST_PAIRS = 2_000_000


def _decide_broadcast_pairs(pairs: DataFrame) -> tuple[DataFrame, bool]:
    """Size-gate the candidate broadcast of an exact pair verify: the
    candidate set is persisted, counted, and broadcast only when it
    holds at most ``MAX_BROADCAST_PAIRS`` rows; a dup-heavy corpus
    takes the shuffle join instead (same results). The SAME
    materialization then feeds the verify join (post-filter
    candidates are fingerprint-sized; the module docstring covers
    cache lifecycle)."""
    pairs = pairs.persist()
    return pairs, pairs.count() <= MAX_BROADCAST_PAIRS


def all_pairs_jaccard(sh: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """(da, db, jaccard) for every pair sharing ≥1 shingle — the
    brute-force O(n²-ish) baseline (join on shingle, group by pair).
    Use the LSH path at scale."""
    sizes = sh.groupBy(id_col).agg(F.count("*").alias("n"))
    sa = sh.select(F.col(id_col).alias("da"), "h")
    sb = sh.select(F.col(id_col).alias("db"), "h")
    inter = (
        sa.join(sb, "h")
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(F.count("*").alias("inter"))
    )
    na = sizes.select(F.col(id_col).alias("da"), F.col("n").alias("na"))
    nb = sizes.select(F.col(id_col).alias("db"), F.col("n").alias("nb"))
    return (
        inter.join(na, "da")
        .join(nb, "db")
        .select(
            "da",
            "db",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jaccard"),
        )
    )


def _rarest_first_prefix(
    hs: DataFrame, threshold: float, id_col: str = "doc_id"
) -> DataFrame:
    """(id, n, pre): each set's first ``n - ceil(t*n) + 1`` tokens
    under the global rarest-first total order (document frequency
    asc, h asc) as a per-doc ARRAY — the shared candidate-generation
    core of ``prefix_filter_pairs`` and ``containment_pairs``, over
    ``gram_hash_arrays`` output.

    Round-12 form (guide §2.3/§2.4): df comes from one explode +
    vocabulary-grain aggregate; the per-doc rank-and-cut is an
    in-row ``array_sort`` over (df, h) structs after the df join is
    re-grouped to doc grain — the sort each WindowExec task did over
    its (doc, chunk) slice now happens inside the row, and only the
    prefix SLICE survives. Same (df asc, h asc) total order, same
    ``n - ceil(t*n) + 1`` cut, so the selected token set is
    byte-identical to the old row-window form."""
    ex = hs.select(id_col, "n", F.explode("hs").alias("h"))
    freq = ex.groupBy("h").agg(F.count("*").alias("df"))
    k = (
        F.col("n") - F.ceil(F.lit(float(threshold)) * F.col("n")) + 1
    ).cast("int")
    return (
        ex.join(freq, "h")
        .groupBy(id_col)
        .agg(
            F.first("n").alias("n"),
            F.array_sort(F.collect_list(F.struct("df", "h"))).alias("_o"),
        )
        .select(
            id_col,
            "n",
            F.transform(
                F.slice("_o", F.lit(1), k), lambda s: s["h"]
            ).alias("pre"),
        )
    )


def prefix_filter_pairs(
    hs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT set-similarity join via prefix filtering (PPJoin-style;
    Chaudhuri et al. SSJoin / Bayardo et al. All-Pairs / Xiao et al.
    PPJoin — public literature): returns exactly the pairs with
    Jaccard ≥ ``threshold`` — byte-identical to ``all_pairs_jaccard``
    post-filter — WITHOUT the all-pairs shingle join.

    Principle: under any global total order on tokens, two sets with
    Jaccard ≥ t must share a token within their first
    ``n - ceil(t*n) + 1`` tokens (each set using its own size n).
    Proof of the both-prefix form: |A∩B| ≥ t·|A∪B| ≥ t·max(na,nb), so
    the O-smallest common element c_min cannot sit in either suffix —
    if c_min were among A's last ceil(t·na)-1 elements, every common
    element (all ≥ c_min in O) would fit there too, contradicting
    |A∩B| ≥ ceil(t·na). So c_min is in BOTH prefixes, and joining
    prefixes on the token loses no true pair. The verify step then
    computes exact Jaccard on candidates only, so false positives
    drop out — output equals brute force exactly, which is why the
    registry query reuses the brute-force oracle verbatim.

    Ordering by ascending document frequency (rarest first, h as the
    tie-break total order) makes prefixes land on RARE tokens, so the
    candidate join's per-token blocks stay small — frequency ordering
    changes cost, never correctness.

    Scale: three shuffles — (1) df count + re-join on ``h``; (2) one
    per-doc window (rank + size in a single partitioning) on the id;
    (3) the prefix self-join on ``h``, whose fan-out is bounded by
    rare-token block sizes rather than corpus size — then the shared
    size-gated verify join. Exact where MinHash-LSH is probabilistic:
    this is the path for contracts that forbid missed duplicates
    (contamination scrubs, licensing takedowns).

    Cost is strongly THRESHOLD-dependent: the prefix keeps
    ``n - ceil(t*n) + 1`` of each set's n tokens — ~half the corpus at
    t = 0.5 (the registry form: measured ~13x the banded path at
    sf0.1, slopes in SCALING.md), ~10% at t = 0.9 where PPJoin-family
    joins are typically run. Pick MinHash-LSH for throughput at loose
    thresholds; pick this for exactness or tight thresholds.

    ARRAY-NATIVE since round 12 (the minhash_lsh_pairs_arr
    convention, guide §2.3/§2.4): input is ``gram_hash_arrays``
    output (id, hs, n) — persisted for the query's duration (three
    consumers: prefix build + both verify sides; released via the
    caller-owned ``_probe_persisted`` convention). Candidates come
    from exploding only the prefix SLICE; the verify is a per-row
    ``array_intersect`` on the size-gated candidate pairs — the old
    double posting-list join + pair groupBy (a candidate×set-size
    row explosion: ~16M intermediate rows at sf0.1/t=0.5 for 310k
    candidates) and the separate size join are gone. Jaccard is the
    same distinct-hash intersect / union, so results are
    byte-identical (test_prefix_filter_equals_brute_force pins it
    against the all-pairs baseline at two thresholds)."""
    hs = hs.persist()
    prefix = _rarest_first_prefix(hs, threshold, id_col)
    # posexplode: ``i`` is the token's 0-based rank in the doc's FULL
    # rarest-first order (the prefix IS the first k of that order), so
    # the positional filter below reads it straight off the row.
    pr = prefix.select(
        id_col, "n", F.posexplode("pre").alias("i", "h")
    )
    pa = pr.select(
        F.col(id_col).alias("da"), "h", F.col("n").alias("na"),
        F.col("i").alias("ia"),
    )
    pb = pr.select(
        F.col(id_col).alias("db"), "h", F.col("n").alias("nb"),
        F.col("i").alias("ib"),
    )
    # PPJoin LENGTH filter: J ≥ t forces t·max(na,nb) ≤ |A∩B| ≤
    # min(na,nb), so size-incompatible pairs are pruned INSIDE the
    # token join, before the distinct and the verify — lossless by
    # the same inequality the verify would apply anyway.
    #
    # PPJoin POSITIONAL filter (Xiao et al. 2008 §3.2): for a TRUE
    # pair, its order-smallest common token c_min sits in both
    # prefixes (the prefix theorem above), and every common token is
    # ≥ c_min in both sorted orders, so |A∩B| ≤ min(na−ia, nb−ib) at
    # c_min's positions. J ≥ t needs |A∩B| ≥ t(na+nb)/(1+t); a row
    # failing that bound cannot be a pair's first common token, and a
    # true pair always survives on its c_min row — lossless before
    # the distinct. The 1e-9 slack makes the float comparison
    # conservative (a borderline row is KEPT; the exact verify
    # decides). Measured sf0.1 (interleaved A/B, identical outputs):
    # distinct-input join rows 329k → 132k at t=0.5, 10.1k → 3.4k at
    # t=0.9; wall ~25% off the t=0.5 query, flat at t=0.9.
    t = float(threshold)
    cand = (
        pa.join(pb, "h")
        .filter(
            (F.col("da") < F.col("db"))
            & (F.lit(t) * F.col("na") <= F.col("nb"))
            & (F.lit(t) * F.col("nb") <= F.col("na"))
            & (
                F.lit(1.0 + t)
                * F.least(
                    F.col("na") - F.col("ia"), F.col("nb") - F.col("ib")
                )
                >= F.lit(t) * (F.col("na") + F.col("nb")) - F.lit(1e-9)
            )
        )
        .select("da", "db")
        .distinct()
    )
    cand, bc = _decide_broadcast_pairs(cand)
    p = F.broadcast(cand) if bc else cand
    ja = hs.select(
        F.col(id_col).alias("da"), F.col("hs").alias("ha"),
        F.col("n").alias("na"),
    )
    jb = hs.select(
        F.col(id_col).alias("db"), F.col("hs").alias("hb"),
        F.col("n").alias("nb"),
    )
    inter = F.expr("CAST(size(array_intersect(ha, hb)) AS BIGINT)")
    out = (
        p.join(ja, "da")
        .join(jb, "db")
        .withColumn("inter", inter)
        .select(
            "da",
            "db",
            (
                F.col("inter").cast("double")
                / (F.col("na") + F.col("nb") - F.col("inter"))
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )
    out._probe_persisted = [hs, cand]
    return out


def containment_pairs(
    hs: DataFrame,
    threshold: float,
    id_col: str = "doc_id",
) -> DataFrame:
    """EXACT directed containment join: (da, db, containment) for every
    ordered pair with |A∩B| / |A| ≥ ``threshold`` — finds documents
    that are near-SUBSETS of others (excerpts, quotes, truncated
    mirrors), which symmetric Jaccard structurally misses: a 100-line
    doc fully contained in a 10,000-line doc has containment 1.0 but
    Jaccard ≈ 0.01.

    One-sided prefix theorem: C(A,B) ≥ t ⟹ |A∩B| ≥ ceil(t·|A|), so if
    NO token of A's rarest-first prefix (length n_a − ceil(t·n_a) + 1)
    is in B, all common tokens fit in A's suffix of ceil(t·n_a) − 1
    tokens — contradiction. Only the CONTAINED side is prefix-pruned;
    the container side must stay fully indexed (it is unconstrained
    by t), so candidates are A-prefix ⋈ B-all on the token.

    Scale: the join's fan-out is Σ_{h ∈ prefixes} df(h) — prefixes
    favor RARE tokens by construction, so hot stopword-grams never
    enter the candidate join from the prefix side. A production
    deployment additionally caps df on the indexed side (a token in
    half the corpus can't discriminate containment) — same knob as
    the boilerplate scorer. Verify is exact inter/|A| on candidates
    only; one final IEEE division, so engines hash-match."""
    # No length filter here, deliberately (measured): pruning
    # containers shorter than t·|A| needs set sizes on the FULL
    # indexed side — an extra shuffle join of the whole shingle
    # table that cost +39% at the sf1 stack while pruning nothing on
    # near-uniform doc sizes. The prefix join (where n rides the
    # prefix rows for free) keeps its filter; see
    # prefix_filter_pairs.
    #
    # ARRAY-NATIVE since round 12, same shape as prefix_filter_pairs:
    # ``gram_hash_arrays`` input persisted for the query's duration
    # (prefix build + container-side explode + both verify sides),
    # candidates from the prefix-slice × full-token-row join, verify
    # a per-row array_intersect over the size-gated candidate set —
    # the old double posting join + pair groupBy and the separate
    # |A| aggregation are gone (|A| rides the da-side array row).
    hs = hs.persist()
    prefix = _rarest_first_prefix(hs, threshold, id_col)
    pa = prefix.select(
        F.col(id_col).alias("da"), F.explode("pre").alias("h")
    )
    full = hs.select(
        F.col(id_col).alias("db"), F.explode("hs").alias("h")
    )
    cand = (
        pa.join(full, "h")
        .filter(F.col("da") != F.col("db"))
        .select("da", "db")
        .distinct()
    )
    cand, bc = _decide_broadcast_pairs(cand)
    p = F.broadcast(cand) if bc else cand
    ja = hs.select(
        F.col(id_col).alias("da"), F.col("hs").alias("ha"),
        F.col("n").alias("na"),
    )
    jb = hs.select(F.col(id_col).alias("db"), F.col("hs").alias("hb"))
    inter = F.expr("CAST(size(array_intersect(ha, hb)) AS BIGINT)")
    out = (
        p.join(ja, "da")
        .join(jb, "db")
        .withColumn("inter", inter)
        .select(
            "da",
            "db",
            (F.col("inter").cast("double") / F.col("na")).alias(
                "containment"
            ),
        )
        .filter(F.col("containment") >= threshold)
    )
    out._probe_persisted = [hs, cand]
    return out


SIMHASH_BITS = 28


def simhash_signatures(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
) -> DataFrame:
    """(id, simhash): ``bits``-wide SimHash over tokens (with
    multiplicity). Bit b is set iff the +1/−1 vote of token-hash bit
    b is positive. Near-dup mining at scale: band the bits into k+1
    chunks and join on chunk equality (pigeonhole covers hamming ≤ k).

    Width is the banding capacity knob: band-bucket count is
    2^(bits/(k+1)), so the default 28 (text_profile's fingerprint
    column) saturates buckets at corpus scale while 60
    (`dedup_simhash`, the widest md5-prefix hash that fits a BIGINT)
    keeps them sparse. Both are DuckDB-parity.
    """
    h_expr = _hash_int("w", bits=bits)
    toks = docs.select(
        id_col, F.explode(F.split(F.col(text_col), " ")).alias("w")
    )
    h = toks.withColumn("h", h_expr)
    votes = [
        F.sum(
            F.when(F.expr(f"shiftright(h, {b}) & 1") == 1, 1).otherwise(-1)
        ).alias(f"v{b}")
        for b in range(bits)
    ]
    g = h.groupBy(id_col).agg(*votes)
    sim = None
    for b in range(bits):
        term = F.when(F.col(f"v{b}") > 0, F.lit(1 << b)).otherwise(F.lit(0))
        sim = term if sim is None else sim + term
    return g.select(id_col, sim.cast("long").alias("simhash"))


def simhash_pairs(
    docs: DataFrame,
    max_hamming: int = 3,
    id_col: str = "doc_id",
    text_col: str = "text",
    bits: int = SIMHASH_BITS,
    n_blocks: int | None = None,
) -> DataFrame:
    """(da, db, hamming): near-duplicate pairs at SimHash Hamming
    distance ≤ ``max_hamming``, mined via banded blocking — the
    Charikar-fingerprint sibling of MinHash+LSH (reference computes no
    fingerprints; this is an LLM-pipeline extension; simhash semantics
    per ``simhash_signatures``).

    Pigeonhole blocking: split the 28-bit signature into
    ``max_hamming + 1`` contiguous bands. Two signatures within
    Hamming ``k`` differ in at most ``k`` bits, so at least one of the
    ``k+1`` bands is bit-identical — the band-equality self-join finds
    EVERY qualifying pair (exact recall, unlike probabilistic MinHash
    banding), and ``bit_count(xor)`` verifies candidates.

    Scale: one signature pass (token explode + per-bit vote
    aggregate, all codegen), then a self-equi-join on (table, key)
    — never an all-pairs product. The blocking is the Manku/Jain/
    Sarma combination scheme: split the signature into ``n_blocks``
    equal blocks; any pair within Hamming ``k`` differs in at most
    ``k`` blocks, so it agrees exactly on SOME choice of
    ``n_blocks − k`` blocks — one blocking table per
    C(n_blocks, n_blocks−k) combination, keyed by those blocks'
    concatenated value. ``n_blocks = k+1`` (the default) is the
    classic pigeonhole banding: k+1 tables of 1-block
    (bits/(k+1)-wide) keys. RAISING n_blocks widens the key —
    e.g. bits=60, k=3, n_blocks=6 gives C(6,3)=20 tables of 30-bit
    keys, shrinking expected bucket load from n/2^15 to n/2^30 at
    5× the explode fan-out — the knob to turn when the corpus
    outgrows the band key space. Every config is EXACT-recall; the
    distinct on (da, db) collapses multi-table hits before the
    verify expression.
    """
    sig = simhash_signatures(docs, id_col, text_col, bits=bits)
    return hamming_band_pairs(
        sig,
        id_col=id_col,
        sig_col="simhash",
        bits=bits,
        max_hamming=max_hamming,
        n_blocks=n_blocks,
    )


def hamming_band_pairs(
    sigs: DataFrame,
    *,
    id_col: str,
    sig_col: str,
    bits: int,
    max_hamming: int,
    n_blocks: int | None = None,
) -> DataFrame:
    """(da, db, hamming): ALL pairs of rows whose bit signatures are
    within Hamming ``max_hamming``, mined from any (id, signature)
    table by the Manku/Jain/Sarma block-combination scheme (exact
    recall; semantics and the n_blocks knob per ``simhash_pairs``,
    which delegates here). Shared by text SimHash, the perceptual
    image dHash, and the audio energy-delta fingerprint — one banding
    implementation, three signature families.

    Scale: signature-table explode (C(n_blocks, n_blocks-k) rows per
    input row) + one self-equi-join on (table, key) — never an
    all-pairs product; candidate dedup via distinct before the
    bit_count verify.
    """
    bands = hamming_band_rows(
        sigs,
        id_col=id_col,
        sig_col=sig_col,
        bits=bits,
        max_hamming=max_hamming,
        n_blocks=n_blocks,
    )
    return hamming_pairs_from_band_rows(
        bands, id_col=id_col, sig_col=sig_col, max_hamming=max_hamming
    )


def hamming_pairs_from_band_rows(
    bands: DataFrame,
    *,
    id_col: str,
    sig_col: str,
    max_hamming: int,
) -> DataFrame:
    """The self-join + verify half of ``hamming_band_pairs``, split
    out so callers that ALREADY hold band rows (the persisted-index
    probe caches the batch's — review fix: the media gate previously
    re-banded the batch per trigger) can pair without re-exploding."""
    return _banded_pair_join(
        bands, bands, id_col=id_col, sig_col=sig_col,
        max_hamming=max_hamming, out_left="da", out_right="db",
        ordered=True,
    )


def _banded_pair_join(
    left_bands: DataFrame,
    right_bands: DataFrame,
    *,
    id_col: str,
    sig_col: str,
    max_hamming: int,
    out_left: str,
    out_right: str,
    ordered: bool,
) -> DataFrame:
    """The ONE candidate-join + bit_count-verify body behind every
    Hamming pairing (self-join, cross-join, and the persisted probe
    mirror this shape): join band rows on (table, key), optionally
    order the pair to dedup the symmetric self-join, distinct, then
    the exact verify (review fix: the cross form had re-implemented
    this verbatim)."""
    left = left_bands.select(
        F.col(id_col).alias(out_left), F.col(sig_col).alias("sa"), "b", "v"
    )
    right = right_bands.select(
        F.col(id_col).alias(out_right), F.col(sig_col).alias("sb"), "b", "v"
    )
    cand = left.join(right, ["b", "v"])
    if ordered:
        cand = cand.filter(F.col(out_left) < F.col(out_right))
    cand = cand.select(out_left, out_right, "sa", "sb").distinct()
    return (
        cand.withColumn(
            "hamming",
            F.bit_count(F.col("sa").bitwiseXOR(F.col("sb"))).cast("long"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .select(out_left, out_right, "hamming")
    )


def hamming_band_rows(
    sigs: DataFrame,
    *,
    id_col: str,
    sig_col: str,
    bits: int,
    max_hamming: int,
    n_blocks: int | None = None,
) -> DataFrame:
    """(id, sig, b, v): the Manku block-combination banding rows of a
    signature table — table index ``b``, packed key ``v`` — the ONE
    banding definition shared by the in-memory pair join
    (``hamming_band_pairs``) and the persisted signature index
    (operators/hamming_index.py), so the index and a live batch can
    never band differently. Validates the (bits, max_hamming,
    n_blocks) geometry here, on every path."""
    from itertools import combinations

    if n_blocks is None:
        n_blocks = max_hamming + 1
    if n_blocks <= max_hamming:
        raise ValueError(
            f"n_blocks={n_blocks} must exceed max_hamming={max_hamming}"
        )
    if bits % n_blocks:
        raise ValueError(f"n_blocks={n_blocks} must divide bits={bits}")
    block_bits = bits // n_blocks
    mask = (1 << block_bits) - 1
    keep = n_blocks - max_hamming
    if keep * block_bits > 60:
        # the packed key is a sum of shifted BIGINTs; past 60 bits it
        # can overflow int64 at runtime (ANSI ArithmeticException) —
        # reject at call time with the fix spelled out
        raise ValueError(
            f"packed key is {keep}x{block_bits}={keep * block_bits} bits"
            " (> 60): raise n_blocks or max_hamming so"
            " (n_blocks - max_hamming) * (bits / n_blocks) <= 60"
        )

    def block(i):
        return f"(shiftright({sig_col}, {i * block_bits}) & {mask})"

    tables = []
    for t, combo in enumerate(combinations(range(n_blocks), keep)):
        # key = the chosen blocks' values packed side by side; with
        # keep·block_bits ≤ 60 this stays one BIGINT expression
        key = " + ".join(
            f"{block(i)} * {1 << (j * block_bits)}"
            for j, i in enumerate(combo)
        )
        tables.append(
            F.struct(
                F.lit(t).alias("b"), F.expr(f"({key})").alias("v")
            )
        )
    return sigs.select(
        F.col(id_col),
        F.col(sig_col),
        F.explode(F.array(*tables)).alias("bb"),
    ).select(
        id_col, sig_col, F.col("bb.b").alias("b"), F.col("bb.v").alias("v")
    )


def hamming_cross_pairs(
    base_sigs: DataFrame,
    batch_sigs: DataFrame,
    *,
    id_col: str,
    sig_col: str,
    bits: int,
    max_hamming: int,
    n_blocks: int | None = None,
) -> DataFrame:
    """(base_id, batch_id, hamming): banded pairs BETWEEN a base
    signature table and a batch table — the incremental form: the
    base-base pair space is never generated (same asymmetry as
    ``cross_pairs_against_bands`` for MinHash). Exact recall by the
    pigeonhole theorem, like every Hamming path here; the persisted
    index probe (operators/hamming_index.py) is the storage-backed
    equivalent and is pinned equal to this twin by test."""
    kw = dict(
        id_col=id_col, sig_col=sig_col, bits=bits,
        max_hamming=max_hamming, n_blocks=n_blocks,
    )
    return _banded_pair_join(
        hamming_band_rows(base_sigs, **kw),
        hamming_band_rows(batch_sigs, **kw),
        id_col=id_col,
        sig_col=sig_col,
        max_hamming=max_hamming,
        out_left="base_id",
        out_right="batch_id",
        ordered=False,
    )


def gram_hash_arrays(
    docs: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """(id, hs, n): the per-doc DISTINCT hashed word-3-gram set as an
    int array, plus its size — the array-native base of the dedup
    pipeline (``shingle_rows`` yields the same distinct (id, hash)
    set in row form). Entirely narrow: the text never leaves its row;
    downstream shuffles move 8-byte-int arrays.

    The outer ``array_distinct`` dedups at the HASH level: two
    distinct grams colliding in the 28-bit space count once, so
    ``n``, ``array_intersect`` verifies, and the row-join oracle all
    measure the same distinct-hash Jaccard."""
    h = md5_int_spark_sql("g")
    t = docs.select(
        id_col, F.split(F.col(text_col), " ").alias("t")
    ).filter(F.size("t") >= 3)
    return t.select(
        id_col,
        F.expr(
            f"array_distinct(transform(array_distinct({SPARK_SHINGLES}), g -> {h}))"
        ).alias("hs"),
    ).withColumn("n", F.size("hs").cast("long"))


def minhash_band_rows(
    hs_df: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """(id, hs, n, bi, bv): one row per (doc, LSH band) over
    ``gram_hash_arrays`` output — the array-native banding step shared
    by the batch pipeline (``minhash_lsh_pairs_arr``) and the
    incremental signature index (operators.incremental). Signatures
    are per-array ``array_min`` of each permutation (narrow — no
    shuffle); each doc's gram-hash array rides its n_bands band rows
    so downstream candidate verification needs no re-join against a
    shingle table. Factored out so the persisted index and the live
    batch can NEVER band differently: both call this one function
    with the same constants."""
    perms = make_perms(n_bands * rows_per_band)
    sig_exprs = [
        F.expr(
            f"array_min(transform(hs, h -> {minhash_perm_sql('h', a, b)}))"
        ).alias(f"mh{k}")
        for k, (a, b) in enumerate(perms)
    ]
    sigs = hs_df.select(id_col, "hs", "n", *sig_exprs)
    return sigs.select(
        id_col,
        "hs",
        "n",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("bi"),
                        _band_expr(i, rows_per_band).alias("bv"),
                    )
                    for i in range(n_bands)
                ]
            )
        ).alias("band"),
    ).select(id_col, "hs", "n", "band.bi", "band.bv")


def minhash_lsh_pairs_arr(
    hs_df: DataFrame,
    id_col: str = "doc_id",
    n_bands: int = N_BANDS,
    rows_per_band: int = ROWS_PER_BAND,
) -> DataFrame:
    """(da, db, jaccard): the MinHash-LSH near-dup pipeline over
    ``gram_hash_arrays`` output, ARRAY-NATIVE end to end (signatures
    via per-array ``array_min`` of each permutation; 4×4 banded
    buckets; exact hashed-shingle Jaccard via ``array_intersect`` on
    candidates), byte-identical to the row-join DuckDB oracle, in TWO
    shuffles total (the retired row-form pipeline took five):

      1. the banded self-join (each doc's array rides its 4 band
         rows — no separate signature aggregation shuffle, no shingle
         table to re-join);
      2. the candidate-grain dedup (a pair matching in several bands
         collapses with ``first``).

    Measured 45% faster at sf0.1 (0.93 s vs 1.67 s, interleaved
    best-of-5); the win is structural (three fewer shuffles + no cache
    materialization), so it survives scale. Trade-off: band-join
    shuffle bytes are ~2× the row form's signature shuffle (arrays
    replicated once per band); both are fingerprint-sized, orders
    below the corpus text.

    ``n_bands``/``rows_per_band`` are the RECALL knob: candidate
    probability at Jaccard J is 1 - (1 - J^rows)^bands. The 4x4
    default gives ~0.88 recall at J = 0.8; 8 bands x 4 rows gives
    ~0.98 at ~2x band-join volume (measured curves: SCALING.md
    round-5 recall table)."""
    bands = minhash_band_rows(hs_df, id_col, n_bands, rows_per_band)
    a = bands.select(
        F.col(id_col).alias("da"),
        F.col("hs").alias("ha"),
        F.col("n").alias("na"),
        "bi",
        "bv",
    )
    b = bands.select(
        F.col(id_col).alias("db"),
        F.col("hs").alias("hb"),
        F.col("n").alias("nb"),
        "bi",
        "bv",
    )
    cand = (
        a.join(b, ["bi", "bv"])
        .filter(F.col("da") < F.col("db"))
        .groupBy("da", "db")
        .agg(
            F.first("ha").alias("ha"),
            F.first("hb").alias("hb"),
            F.first("na").alias("na"),
            F.first("nb").alias("nb"),
        )
    )
    withi = cand.withColumn(
        "inter", F.expr("CAST(size(array_intersect(ha, hb)) AS BIGINT)")
    )
    return withi.select(
        "da",
        "db",
        (
            F.col("inter").cast("double")
            / (F.col("na") + F.col("nb") - F.col("inter"))
        ).alias("jaccard"),
    )
