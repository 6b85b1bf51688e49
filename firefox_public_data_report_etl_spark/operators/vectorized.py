"""Vectorized (Arrow) pandas UDFs — the sanctioned Python escape hatch.

Rule of thumb enforced across this engine: built-in column expressions
first (whole-stage codegen, zero Python); when Python is genuinely
needed, Arrow-batched ``@pandas_udf`` (10-100x over row-at-a-time
Python UDFs); never ``F.udf``.

``cosine_to_query`` is the demonstration case: numpy does the
batch-matrix work per Arrow batch. The expression-based quantized form
in operators.similarity remains the oracle-checked path; tests pin the
two against each other.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import Column, functions as F
from pyspark.sql.functions import pandas_udf
from pyspark.sql.types import DoubleType

from firefox_public_data_report_etl_spark.operators.labeled_index import (
    LabeledIndex,
    bucket_filter,
    read_labeled,
)


def _int_matmul_exact(a, b_t):
    """a @ b_t.T with exact int64 results, BLAS-fast where provably
    safe: numpy's int64 matmul has NO BLAS kernel (it runs a generic
    loop ~20-50× slower than dgemm), but float64 dgemm over integer
    inputs is EXACT whenever every product and every partial sum is
    an integer below 2^53 — each partial sum is then itself an
    exactly-representable integer, so accumulation never rounds. All
    of this engine's quantized vectors (|component| ≤ ~1000, dims ≤
    64 → |dot| ≤ 6.4e7) sit far below the bound; the guard checks the
    actual inputs and falls back to the generic int64 loop if a
    caller ever exceeds it, so exactness is structural, not assumed.
    Measured: the 48-Gop sf1 caption truth sweep 75 s → ~2 s."""
    k = a.shape[1] if a.ndim == 2 else len(a)
    ma = int(np.abs(a).max(initial=0))
    mb = int(np.abs(b_t).max(initial=0))
    if ma * mb * max(k, 1) < (1 << 53):
        return np.rint(
            a.astype(np.float64) @ b_t.T.astype(np.float64)
        ).astype(np.int64)
    return a @ b_t.T


_MM_CHUNK_ELEMS = 1 << 22  # ≈32 MB of int64 per (batch × query-slice)
# temporary: the score kernels below materialize several b×|Q| arrays
# (dots, den, mag, sfp, keep) per Arrow batch — with an eval-sized |Q|
# (15k at the sf1 stack) that is ~1.3 GB of temporaries PER WORKER,
# and 32 concurrent workers turned the scan into allocation churn
# (measured 90 s for a 3 s compute). Slicing the query dimension caps
# every temporary at ~32 MB; results are per-column independent, so
# the outputs are bit-identical.


def _q_slices(n_rows: int, n_q: int):
    step = max(1, _MM_CHUNK_ELEMS // max(1, n_rows))
    for j0 in range(0, n_q, step):
        yield j0, min(n_q, j0 + step)


def cosine_topk_matmul(
    queries, candidates, k: int, id_col: str = "vec_id"
):
    """Brute-force cosine top-k as ONE integer matrix product per Arrow
    batch: candidates stream through ``mapInPandas`` while the (small
    by definition) query matrix rides in the task closure — candidates
    never shuffle, exactly like the expression form in
    operators.similarity, but the 64-wide dot products run in numpy
    instead of per-pair Catalyst array expressions (~3x faster at
    sf0.1; the gap widens with |Q|).

    Inputs are ``quantized`` outputs, and the dot products are int64
    matmul — bit-identical to the expression form and the DuckDB
    oracle (the single final FP division is shared).
    """
    from pyspark.sql import DataFrame, Window

    qrows = queries.select(id_col, "q", "norm").collect()
    q_ids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    q_mat = np.asarray([r[1] for r in qrows], dtype=np.int64)
    q_norm = np.asarray([r[2] for r in qrows], dtype=np.int64)

    def _score(batches):
        for pdf in batches:
            c_mat = np.stack(pdf["q"].map(lambda v: np.asarray(v, dtype=np.int64)))
            dots = _int_matmul_exact(c_mat, q_mat)  # (batch, nq) exact int64
            n_ids = pdf[id_col].to_numpy(dtype=np.int64)
            n_norms = pdf["norm"].to_numpy(dtype=np.int64)
            # Per-batch SUPERSET pre-selection (the emit-everything
            # form shipped |C|·|Q| rows through Arrow + shuffle just
            # to window-rank them; measured 70x row cut at sf0.1,
            # bit-identical result): any global top-k row for query j
            # has cos >= this batch's k-th largest non-self cos for j,
            # so keeping cos >= kth (ties INCLUDED — a superset, never
            # a tiebreak decision) provably preserves the final window
            # top-k. Self-pairs are masked to -inf BEFORE the kth so
            # they can't evict a real candidate, and dropped here.
            cos = dots / np.sqrt(
                n_norms[:, None].astype(np.float64)
                * q_norm[None, :].astype(np.float64)
            )
            self_mask = n_ids[:, None] == q_ids[None, :]
            cos_sel = np.where(self_mask, -np.inf, cos)
            if len(pdf) > k:
                kth = np.partition(cos_sel, len(pdf) - k, axis=0)[
                    len(pdf) - k
                ]
                keep = (cos_sel >= kth[None, :]) & ~self_mask
            else:
                keep = ~self_mask
            ci, qj = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "q_id": q_ids[qj],
                    "n_id": n_ids[ci],
                    "dot": dots[ci, qj],
                    "na": q_norm[qj],
                    "nb": n_norms[ci],
                }
            )

    scored = candidates.mapInPandas(
        _score, "q_id long, n_id long, dot long, na long, nb long"
    )
    scored = scored.withColumn(
        "cos",
        F.col("dot").cast("double")
        / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")),
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "cos")
    )


def cosine_topk_matmul_f32(
    queries, candidates, k: int, id_col: str = "vec_id", emb_col: str = "embedding"
):
    """Production float32 brute-force cosine top-k: same shape as
    ``cosine_topk_matmul`` (query matrix in the closure, candidates
    stream through ``mapInPandas``, never shuffle) but over the RAW
    float embeddings — no quantization pass, float32 matmul (half the
    memory bandwidth of the int64 parity path, and BLAS sgemm where
    numpy is linked against one).

    Float32 accumulation order makes results engine-specific, so this
    path has no DuckDB oracle; test_production_paths pins its top-k
    pair set against the quantized parity path instead (quantization
    error is 1e-3 per component — rank flips only on near-ties).
    """
    from pyspark.sql import Window

    qrows = queries.select(id_col, emb_col).collect()
    q_ids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    q_mat = np.asarray([r[1] for r in qrows], dtype=np.float32)
    q_norm = np.linalg.norm(q_mat, axis=1)

    def _score(batches):
        for pdf in batches:
            c_mat = np.stack(
                pdf[emb_col].map(lambda v: np.asarray(v, dtype=np.float32))
            )
            c_norm = np.linalg.norm(c_mat, axis=1)
            n_ids = pdf[id_col].to_numpy(dtype=np.int64)
            cos = (
                (c_mat @ q_mat.T) / (c_norm[:, None] * q_norm[None, :])
            ).astype(np.float64)
            # same superset pre-selection as the quantized form: the
            # emitted cos IS the window's sort key, so keeping every
            # row with cos >= the batch's k-th largest non-self value
            # per query preserves the final top-k exactly
            self_mask = n_ids[:, None] == q_ids[None, :]
            cos_sel = np.where(self_mask, -np.inf, cos)
            if len(pdf) > k:
                kth = np.partition(cos_sel, len(pdf) - k, axis=0)[
                    len(pdf) - k
                ]
                keep = (cos_sel >= kth[None, :]) & ~self_mask
            else:
                keep = ~self_mask
            ci, qj = np.nonzero(keep)
            yield pd.DataFrame(
                {
                    "q_id": q_ids[qj],
                    "n_id": n_ids[ci],
                    "cos": cos[ci, qj],
                }
            )

    scored = candidates.mapInPandas(
        _score, "q_id long, n_id long, cos double"
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "cos")
    )


def pair_dots_matmul(
    queries,
    candidates,
    q_id: str = "q_id",
    q_vec: str = "qv",
    c_id: str = "c_id",
    c_vec: str = "cv",
):
    """ALL-PAIRS exact int64 dot products as one numpy matmul per
    Arrow batch (round-11 verdict #1): the (small by contract) query
    matrix rides in the task closure while candidates stream through
    ``mapInPandas`` — candidates never shuffle, and the per-pair
    interpreted ``F.aggregate(F.zip_with(...))`` HOF that made the
    caption-retrieval eval 7× slower than the same-shape
    ``cosine_topk_matmul`` is replaced by ``c_mat @ q_mat.T``.

    Unlike ``cosine_topk_matmul`` this emits EVERY (query, candidate)
    pair — callers that need exact global ranks (retrieval evals
    reporting where the truth row landed) can't pre-prune — plus each
    candidate's self-norm ``c_norm`` so the caller doesn't pay an
    interpreted per-row 64-element norm aggregate either. All values
    are exact int64, so any downstream fixed-point scoring stays
    bit-identical to the expression form and the DuckDB oracle."""
    qrows = queries.select(q_id, q_vec).collect()
    q_ids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    q_mat = (
        np.asarray([r[1] for r in qrows], dtype=np.int64)
        if qrows
        else np.zeros((0, 1), dtype=np.int64)
    )

    def _dots(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(q_ids) == 0:
                continue
            c_mat = np.stack(
                pdf[c_vec].map(lambda v: np.asarray(v, dtype=np.int64))
            )
            c_norms = np.einsum("ij,ij->i", c_mat, c_mat)
            c_ids = pdf[c_id].to_numpy(dtype=np.int64)
            for j0, j1 in _q_slices(len(pdf), len(q_ids)):
                dots = _int_matmul_exact(c_mat, q_mat[j0:j1])
                nq = j1 - j0
                yield pd.DataFrame(
                    {
                        "q_id": np.repeat(
                            q_ids[None, j0:j1], len(pdf), axis=0
                        ).ravel(),
                        "c_id": np.repeat(c_ids, nq),
                        "dot": dots.ravel(),
                        "c_norm": np.repeat(c_norms, nq),
                    }
                )

    return candidates.mapInPandas(
        _dots, "q_id long, c_id long, dot long, c_norm long"
    )


# brute-baseline closure bound: 200k vectors × 64 int64 ≈ 100 MB in
# the task closure — past this the labeled quadratic baseline must
# refuse loudly and point at its banded scale path (the same refusal
# convention as part_entity_resolution's ER_MAX_BLOCK guard)
_BRUTE_CLOSURE_MAX = 200_000


def cosine_threshold_pairs_matmul(
    quantized_emb, threshold: float, id_col: str = "vec_id"
):
    """All id-ordered pairs with cosine >= threshold — the brute
    near-dup BASELINE shape (dedup_embedding_cosine) with its
    per-pair interpreted `aggregate(zip_with(...))` dot replaced by
    one numpy int64 matmul per Arrow batch (measured 20.8 s → ~1 s at
    sf0.1; same scale-killer class the round-11 caption fix removed).

    The corpus matrix rides in the task closure (this is the labeled
    quadratic baseline — at corpus sizes where an N×64 int64 matrix
    doesn't fit a task closure, the banded scale path `ann_lsh` is
    the operator to run, exactly as before); candidates stream
    through and each batch emits only its surviving (da < db) pairs.
    numpy prefilters at threshold − 1e-12 (identical elementwise IEEE
    ops, so this is belt-and-braces) and the EXACT Catalyst cosine +
    filter run after, so emitted values and the DuckDB oracle are
    bit-unchanged."""
    # Refuse BEFORE collecting: counting limit(MAX+1) is a cheap
    # distributed pass, so the loud refusal actually prevents the
    # driver-memory blowup it exists to avert (round-11 ADVICE — the
    # old post-collect check OOM'd first on a corpus far past bound).
    probe = quantized_emb.limit(_BRUTE_CLOSURE_MAX + 1).count()
    if probe > _BRUTE_CLOSURE_MAX:
        raise ValueError(
            f"cosine_threshold_pairs_matmul: corpus has >"
            f" {_BRUTE_CLOSURE_MAX} vectors, past the brute-baseline"
            " closure bound — this is the labeled quadratic"
            " baseline; run the banded scale path (ann_lsh /"
            " operators.similarity.sign_bucket prefilter) instead."
        )
    rows = quantized_emb.select(id_col, "q", "norm").collect()
    ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    mat = (
        np.asarray([r[1] for r in rows], dtype=np.int64)
        if rows
        else np.zeros((0, 1), dtype=np.int64)
    )
    norms = np.asarray([r[2] for r in rows], dtype=np.int64)

    def _pairs(batches):
        for pdf in batches:
            if len(pdf) == 0 or len(ids) == 0:
                continue
            c_mat = np.stack(
                pdf["q"].map(lambda v: np.asarray(v, dtype=np.int64))
            )
            c_ids = pdf[id_col].to_numpy(dtype=np.int64)
            c_norms = pdf["norm"].to_numpy(dtype=np.int64)
            for j0, j1 in _q_slices(len(pdf), len(ids)):
                dots = _int_matmul_exact(c_mat, mat[j0:j1])
                cos = dots / np.sqrt(
                    c_norms[:, None].astype(np.float64)
                    * norms[None, j0:j1].astype(np.float64)
                )
                keep = (cos >= threshold - 1e-12) & (
                    c_ids[:, None] < ids[None, j0:j1]
                )
                ci, qj = np.nonzero(keep)
                yield pd.DataFrame(
                    {
                        "da": c_ids[ci],
                        "db": ids[j0 + qj],
                        "dot": dots[ci, qj],
                        "na": c_norms[ci],
                        "nb": norms[j0 + qj],
                    }
                )

    scored = quantized_emb.mapInPandas(
        _pairs, "da long, db long, dot long, na long, nb long"
    )
    return (
        scored.withColumn(
            "cos",
            F.col("dot").cast("double")
            / F.sqrt(
                F.col("na").cast("double") * F.col("nb").cast("double")
            ),
        )
        .filter(F.col("cos") >= threshold)
        .select("da", "db", "cos")
    )


def cell_pair_dots_matmul(q_cells, c_cells):
    """(q_id, c_id, dot, c_norm) for every (query, candidate) pair
    SHARING A CELL — the IVF probe's within-cell scorer as one numpy
    int64 matmul per (Arrow batch × cell) instead of a per-pair
    interpreted `aggregate(zip_with(...))` HOF on the cell join
    (measured 80 s → seconds at the sf1 stack for the caption probe;
    the third instance of the same scale-killer class this round).

    ``q_cells`` (q_id, qv, cell) is the probing side — eval-sized ×
    nprobe by contract, collected and grouped by cell in the task
    closure; ``c_cells`` (c_id, cv, cell) streams. Pair volume is
    unchanged (that is IVF's own guarantee: Σ probed-cell sizes, not
    |Q|·N); only the per-pair arithmetic moves to the matmul. Exact
    int64 dots + candidate self-norms, so downstream fixed-point
    scoring in Catalyst is bit-identical to the join form (pinned by
    test)."""
    qrows = q_cells.select("q_id", "qv", "cell").collect()
    by_cell: dict = {}
    for r in qrows:
        by_cell.setdefault(int(r[2]), []).append(r)
    closure = {
        cell: (
            np.asarray([r[0] for r in rows], dtype=np.int64),
            np.asarray([r[1] for r in rows], dtype=np.int64),
        )
        for cell, rows in by_cell.items()
    }

    def _dots(batches):
        for pdf in batches:
            if len(pdf) == 0 or not closure:
                continue
            out = []
            for cell, idx in pdf.groupby("cell").indices.items():
                qc = closure.get(int(cell))
                if qc is None:
                    continue
                q_ids, q_mat = qc
                sub = pdf.iloc[idx]
                c_mat = np.stack(
                    sub["cv"].map(lambda v: np.asarray(v, dtype=np.int64))
                )
                c_ids = sub["c_id"].to_numpy(dtype=np.int64)
                dots = _int_matmul_exact(c_mat, q_mat)
                c_norms = np.einsum("ij,ij->i", c_mat, c_mat)
                nq = len(q_ids)
                out.append(
                    pd.DataFrame(
                        {
                            "q_id": np.repeat(
                                q_ids[None, :], len(sub), axis=0
                            ).ravel(),
                            "c_id": np.repeat(c_ids, nq),
                            "dot": dots.ravel(),
                            "c_norm": np.repeat(c_norms, nq),
                        }
                    )
                )
            if out:
                yield pd.concat(out, ignore_index=True)

    return c_cells.mapInPandas(
        _dots, "q_id long, c_id long, dot long, c_norm long"
    )


def fixedpoint_topk_superset(queries, candidates, k: int, scale: int):
    """Per-Arrow-batch top-k SUPERSET under the signed fixed-point
    cos² metric — the `cosine_topk_matmul` pre-selection argument
    applied to the caption family's integer score: any row in the
    GLOBAL top-k for query j is necessarily within the top-k of its
    own batch (k rows beating it in its batch would beat it
    globally), so keeping each batch's k best rows per query (ties at
    the boundary INCLUDED — a superset, never a tiebreak decision)
    provably preserves the exact global top-k that the caller's
    Catalyst window computes. Per-batch supersets are reduced ONCE
    MORE to a per-PARTITION superset before emitting: with an
    eval-sized |Q| the per-batch emission is k·|Q| PER ARROW BATCH
    regardless of batch size, so many small batches exploded the
    emitted relation n_batches× (measured at the sf1 caption harness);
    the partition reduce caps it at ~k·|Q| (+ boundary ties) per
    partition. All values exact int64 so downstream scoring is
    bit-identical."""
    qrows = queries.select("q_id", "qv").collect()
    q_ids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    q_mat = (
        np.asarray([r[1] for r in qrows], dtype=np.int64)
        if qrows
        else np.zeros((0, 1), dtype=np.int64)
    )
    q_norm = np.einsum("ij,ij->i", q_mat, q_mat)

    def _select(batches):
        acc: list = []
        for pdf in batches:
            if len(pdf) == 0 or len(q_ids) == 0:
                continue
            c_mat = np.stack(
                pdf["cv"].map(lambda v: np.asarray(v, dtype=np.int64))
            )
            c_ids = pdf["c_id"].to_numpy(dtype=np.int64)
            na = np.einsum("ij,ij->i", c_mat, c_mat)
            for j0, j1 in _q_slices(len(pdf), len(q_ids)):
                dots = _int_matmul_exact(c_mat, q_mat[j0:j1])
                den = na[:, None] * q_norm[None, j0:j1]
                mag = (dots * dots * scale) // np.where(den == 0, 1, den)
                sfp = np.where(den == 0, 0, np.where(dots >= 0, mag, -mag))
                if len(pdf) > k:
                    kth = np.partition(sfp, len(pdf) - k, axis=0)[
                        len(pdf) - k
                    ]
                    keep = sfp >= kth[None, :]
                else:
                    keep = np.ones_like(sfp, dtype=bool)
                ci, qj = np.nonzero(keep)
                acc.append(
                    (
                        qj.astype(np.int64) + j0,
                        c_ids[ci],
                        dots[ci, qj],
                        na[ci],
                        sfp[ci, qj],
                    )
                )
        if not acc:
            return
        qj = np.concatenate([a[0] for a in acc])
        c_id = np.concatenate([a[1] for a in acc])
        dot = np.concatenate([a[2] for a in acc])
        c_norm = np.concatenate([a[3] for a in acc])
        sfp = np.concatenate([a[4] for a in acc])
        # per-query partition-level top-k, kth-value ties INCLUDED —
        # still a superset of the global top-k, decided by the exact
        # integer score only (never a tie-break)
        order = np.lexsort((-sfp, qj))
        qs, ss = qj[order], sfp[order]
        starts = np.r_[0, 1 + np.nonzero(np.diff(qs))[0]]
        sizes = np.diff(np.r_[starts, len(qs)])
        group_of = np.repeat(np.arange(len(starts)), sizes)
        pos = np.arange(len(qs)) - starts[group_of]
        kth_val = ss[starts + np.minimum(k, sizes) - 1][group_of]
        sel = order[(pos < k) | (ss >= kth_val)]
        yield pd.DataFrame(
            {
                "q_id": q_ids[qj[sel]],
                "c_id": c_id[sel],
                "dot": dot[sel],
                "c_norm": c_norm[sel],
            }
        )

    return candidates.mapInPandas(
        _select, "q_id long, c_id long, dot long, c_norm long"
    )


def retrieval_rank_eval_matmul(queries, candidates, scale: int):
    """Exact retrieval-rank eval WITHOUT materializing the |Q|×|C|
    pair relation (round-11 verdict #1): for each query (with a
    designated truth candidate) report the truth row's exact global
    rank under (signed fixed-point cos² DESC, candidate id ASC) and
    the global top-1 — the same outputs as scoring every pair and
    window-ranking it, but each Arrow batch of candidates reduces to
    ONE row per query (rank = 1 + Σ batch counts beating the truth
    score; top-1 = max over batch winners), so nothing pair-sized is
    ever emitted, shuffled, or sorted.

    Arithmetic is exact int64 end-to-end and replays the Catalyst/
    DuckDB fixed-point rule bit-identically:
    ``sfp = 0 if na*nb == 0 else sign(dot) * ((dot*dot*scale) DIV
    (na*nb))`` — all operands non-negative at the division, so
    numpy floor-div == Spark DIV == DuckDB //. Tests pin this equal
    to the window-over-`pair_dots_matmul` form.

    Inputs: ``queries`` (q_id, qv, truth_id) — small by contract,
    collected into the task closure; ``candidates`` (c_id, cv) —
    PERSISTED here because the truth vectors are collected from the
    same relation before the streaming pass (one compute of an
    expensive upstream, e.g. the image decode).
    Output: (q_id, truth_id, truth_rank, top1_id, top1_is_truth);
    truth_rank = 0 when the truth candidate does not exist."""
    cands = candidates.persist()
    qrows = queries.select("q_id", "qv", "truth_id").collect()
    if not qrows:
        cands.unpersist()
        return queries.sparkSession.createDataFrame(
            [],
            "q_id long, truth_id long, truth_rank long,"
            " top1_id long, top1_is_truth boolean",
        )
    q_ids = np.asarray([r[0] for r in qrows], dtype=np.int64)
    q_mat = np.asarray([r[1] for r in qrows], dtype=np.int64)
    truth_ids = np.asarray([r[2] for r in qrows], dtype=np.int64)
    q_norm = np.einsum("ij,ij->i", q_mat, q_mat)

    t_rows = {
        r[0]: np.asarray(r[1], dtype=np.int64)
        for r in cands.filter(
            F.col("c_id").isin([int(t) for t in set(truth_ids.tolist())])
        ).collect()
    }
    has_truth = np.asarray([t in t_rows for t in truth_ids.tolist()])
    t_sfp = np.zeros(len(q_ids), dtype=np.int64)
    for j, t in enumerate(truth_ids.tolist()):
        if t in t_rows:
            dot = int(t_rows[t] @ q_mat[j])
            den = int(t_rows[t] @ t_rows[t]) * int(q_norm[j])
            if den != 0:
                mag = (dot * dot * scale) // den
                t_sfp[j] = mag if dot >= 0 else -mag
    id_max = np.iinfo(np.int64).max

    def _reduce(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            c_mat = np.stack(
                pdf["cv"].map(lambda v: np.asarray(v, dtype=np.int64))
            )
            c_ids = pdf["c_id"].to_numpy(dtype=np.int64)
            na = np.einsum("ij,ij->i", c_mat, c_mat)
            cnt = np.empty(len(q_ids), dtype=np.int64)
            top_sfp = np.empty(len(q_ids), dtype=np.int64)
            top_img = np.empty(len(q_ids), dtype=np.int64)
            for j0, j1 in _q_slices(len(pdf), len(q_ids)):
                dots = _int_matmul_exact(c_mat, q_mat[j0:j1])
                den = na[:, None] * q_norm[None, j0:j1]
                mag = (dots * dots * scale) // np.where(den == 0, 1, den)
                sfp = np.where(den == 0, 0, np.where(dots >= 0, mag, -mag))
                beats = (sfp > t_sfp[None, j0:j1]) | (
                    (sfp == t_sfp[None, j0:j1])
                    & (c_ids[:, None] < truth_ids[None, j0:j1])
                )
                cnt[j0:j1] = np.where(
                    has_truth[j0:j1], beats.sum(axis=0), 0
                )
                top_sfp[j0:j1] = sfp.max(axis=0)
                top_img[j0:j1] = np.where(
                    sfp == top_sfp[None, j0:j1], c_ids[:, None], id_max
                ).min(axis=0)
            yield pd.DataFrame(
                {
                    "q_id": q_ids,
                    "cnt": cnt,
                    "top1_sfp": top_sfp,
                    "top1_id": top_img,
                }
            )

    partial = cands.mapInPandas(
        _reduce, "q_id long, cnt long, top1_sfp long, top1_id long"
    )
    meta = queries.sparkSession.createDataFrame(
        [
            (int(q), int(t), bool(p))
            for q, t, p in zip(q_ids.tolist(), truth_ids.tolist(), has_truth.tolist())
        ],
        "q_id long, truth_id long, has_truth boolean",
    )
    agg = partial.groupBy("q_id").agg(
        F.sum("cnt").alias("cnt"),
        F.max(
            F.struct(F.col("top1_sfp"), (-F.col("top1_id")).alias("neg_id"))
        ).alias("t1"),
    )
    out = (
        agg.join(F.broadcast(meta), "q_id")
        .select(
            "q_id",
            "truth_id",
            F.when(F.col("has_truth"), F.col("cnt") + 1)
            .otherwise(F.lit(0))
            .cast("long")
            .alias("truth_rank"),
            (-F.col("t1.neg_id")).alias("top1_id"),
            (-F.col("t1.neg_id") == F.col("truth_id")).alias("top1_is_truth"),
        )
    )
    # the cached candidate relation is part of the returned plan's
    # lineage (the streaming reduce re-reads it), so it cannot be
    # unpersisted here. Caller-owned lifecycle, the incremental-probe
    # convention: unpersist via this attribute after materializing,
    # or let session teardown / clearCache collect it.
    out._probe_persisted = [cands]
    return out


def ivf_assign(vectors, centroids, id_col: str = "vec_id", nprobe: int = 1):
    """IVF coarse quantizer: assign every vector to its ``nprobe``
    nearest centroids by exact quantized cosine (ties → lowest
    centroid id).

    One integer matmul per Arrow batch against the (small by
    definition) centroid matrix riding in the closure — vectors never
    shuffle for assignment. Returns (id, cell) rows, ``nprobe`` per
    vector (fewer if there are fewer centroids); index vectors use
    nprobe=1, query vectors probe nprobe>1 cells for recall.

    Determinism note: per-pair cosines are elementwise FP (int64 dot,
    one divide, one sqrt — no accumulation), so numpy and any SQL
    engine agree bit-for-bit; the stable argsort on -cos takes equal
    scores in ascending centroid-id order (c_mat rows are id-sorted),
    which equals the lowest-centroid-id tie-break.
    """
    crows = sorted(
        centroids.select(id_col, "q", "norm").collect(), key=lambda r: r[0]
    )
    c_ids = np.asarray([r[0] for r in crows], dtype=np.int64)
    c_mat = np.asarray([r[1] for r in crows], dtype=np.int64)
    c_norm = np.asarray([r[2] for r in crows], dtype=np.float64)
    p = min(nprobe, len(c_ids))

    def _assign(batches):
        for pdf in batches:
            v_mat = np.stack(pdf["q"].map(lambda v: np.asarray(v, dtype=np.int64)))
            v_norm = pdf["norm"].to_numpy(dtype=np.float64)
            cos = _int_matmul_exact(v_mat, c_mat) / np.sqrt(
                v_norm[:, None] * c_norm[None, :]
            )
            nearest = np.argsort(-cos, axis=1, kind="stable")[:, :p]
            yield pd.DataFrame(
                {
                    id_col: np.repeat(pdf[id_col].to_numpy(dtype=np.int64), p),
                    "cell": c_ids[nearest].ravel(),
                }
            )

    return vectors.mapInPandas(_assign, f"{id_col} long, cell long")


def cosine_topk_ivf(
    quantized_emb,
    k: int,
    query_mod: int,
    centroid_mod: int | None = None,
    id_col: str = "vec_id",
    nprobe: int = 1,
    centroids=None,
):
    """IVF ANN: deterministic centroid subset (id % centroid_mod == 1),
    cell assignment via ``ivf_assign``, then exact cosine rank over
    the ``nprobe`` cells nearest to each query.

    The scale path for corpus-sized candidate sets: candidates
    partition by cell (one shuffle on an 8-byte key), each query
    scores only the cells it probes — nprobe·N/num_centroids work
    instead of N. nprobe=1 is the oracle-checked baseline; nprobe>1
    unions the next-nearest cells for recall (a planted-near-copy
    recall test pins nprobe=2 above nprobe=1). Each candidate lives
    in exactly one cell and a query's probed cells are distinct, so
    the probe union is duplicate-free by construction — no DISTINCT
    pass needed before ranking.

    ``centroids`` overrides the mod-derived codebook with an explicit
    (id, q, norm) DataFrame — e.g. a ``kmeans_lloyd``-refined one
    (train+search composition); exactly one of ``centroid_mod`` /
    ``centroids`` must be given.
    """
    if (centroids is None) == (centroid_mod is None):
        raise ValueError("pass exactly one of centroid_mod / centroids")
    if centroids is None:
        centroids = quantized_emb.filter(F.col(id_col) % centroid_mod == 1)
    cells = ivf_assign(quantized_emb, centroids, id_col)
    with_cell = quantized_emb.join(cells, id_col)
    qvecs = quantized_emb.filter(F.col(id_col) % query_mod == 0)
    qcells = (
        cells.join(qvecs.select(id_col), id_col)
        if nprobe == 1
        else ivf_assign(qvecs, centroids, id_col, nprobe=nprobe)
    )
    q = qvecs.join(qcells, id_col).select(
        F.col(id_col).alias("q_id"),
        F.col("q").alias("qa"),
        F.col("norm").alias("na"),
        "cell",
    )
    c = with_cell.select(
        F.col(id_col).alias("n_id"),
        F.col("q").alias("qb"),
        F.col("norm").alias("nb"),
        "cell",
    )
    return score_probed_cells(c, q, k)


def score_probed_cells(c, q, k: int, exclude_self: bool = True):
    """Rank candidates against queries within shared cells: exact
    int64 cosine (zip_with dot, one divide), per-query top-k via
    window. `c` = (n_id, qb, nb, cell) candidates, `q` = (q_id, qa,
    na, cell) queries (broadcast — query sets are small by contract).
    Shared by the in-memory IVF search and the persisted-index
    serving path. ``exclude_self`` drops q_id == n_id matches — ONLY
    correct when queries are rows of the candidate corpus (the
    in-memory path); an external query id space must pass False or a
    colliding corpus id silently vanishes from that query's top-k."""
    from pyspark.sql import Window

    scored = c.join(F.broadcast(q), "cell")
    if exclude_self:
        scored = scored.filter(F.col("q_id") != F.col("n_id"))
    scored = (
        scored
        .withColumn(
            "dot",
            F.expr("aggregate(zip_with(qa, qb, (x, y) -> x * y), 0L, (s, v) -> s + v)"),
        )
        .withColumn(
            "cos",
            F.col("dot").cast("double")
            / F.sqrt(F.col("na").cast("double") * F.col("nb").cast("double")),
        )
    )
    w = Window.partitionBy("q_id").orderBy(F.desc("cos"), F.asc("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("long"))
        .filter(F.col("rank") <= k)
        .select("q_id", "n_id", "rank", "cos")
    )


IVF_INDEX = LabeledIndex({"vectors": ("cell",)})


def build_ivf_index(
    quantized_emb, centroids, path: str, id_col: str = "vec_id"
) -> None:
    """Persist an IVF serving index under label 0 of the labeled-index
    lifecycle (operators/labeled_index.py): vectors partitioned by
    (bl, cell), plus the centroid codebook as a side table. At serving
    time a query's probed cells become a partition filter, so the scan
    plans only nprobe directories per label and the candidate cut
    happens before any vector IO (same storage-layout trick as the
    Z-order operator, applied to ANN). The codebook is FROZEN at build
    time: appends assign against it (that is the IVF model);
    refreshing the codebook is a rebuild."""
    cells = ivf_assign(quantized_emb, centroids, id_col)
    IVF_INDEX.write(path, {"vectors": quantized_emb.join(cells, id_col)}, 0)
    centroids.write.mode("overwrite").parquet(f"{path}/centroids")


def search_ivf_index(
    spark,
    path: str,
    queries,
    k: int,
    nprobe: int = 2,
    id_col: str = "vec_id",
    exclude_self: bool = False,
    exclude_label: int | None = None,
    centroids=None,
):
    """ANN search against a `build_ivf_index` layout. Queries are
    assigned to their nprobe cells against the STORED codebook; the
    assignment (≤ n_queries·nprobe rows, small by contract) is
    collected ONCE and reused as both the literal partition filter —
    `.explain` shows the PartitionFilters cut, asserted in tests —
    and the query-side join input, so the assignment matmul runs a
    single time per search. ``exclude_self`` defaults False: a
    serving index is usually probed by an EXTERNAL id space, where
    dropping q_id == n_id would silently hide a corpus vector that
    happens to share a query's id; pass True when the queries are
    rows of the indexed corpus (dedup-style search).

    ``exclude_label``: skip one ``bl`` batch-partition (another
    partition-pruned literal). The streaming embedding gate passes
    its OWN label — on checkpoint replay the crashed attempt's
    append is already in the index, and without the exclusion the
    batch would match its own vectors and drop every row (same
    replay contract as ``probe_minhash_index``).

    ``centroids``: pass the already-read codebook DataFrame to skip
    the parquet read (per-trigger callers that also need it for
    within-batch blocking read it once — review fix); it must BE the
    stored codebook, or the probe's cells diverge from the layout."""
    if centroids is None:
        centroids = spark.read.parquet(f"{path}/centroids")
    assign = ivf_assign(queries, centroids, id_col, nprobe=nprobe).collect()
    probed = {r["cell"] for r in assign}
    qcells = spark.createDataFrame(
        [(r[id_col], r["cell"]) for r in assign],
        f"{id_col} long, cell long",
    )
    vectors = read_labeled(
        spark, path, "vectors", bucket_filter({None: probed}, "cell"),
        exclude_label,
    )
    q = queries.join(qcells, id_col).select(
        F.col(id_col).alias("q_id"),
        F.col("q").alias("qa"),
        F.col("norm").alias("na"),
        "cell",
    )
    c = vectors.select(
        F.col(id_col).alias("n_id"),
        F.col("q").alias("qb"),
        F.col("norm").alias("nb"),
        "cell",
    )
    return score_probed_cells(c, q, k, exclude_self=exclude_self)


def geometric_mean_udaf() -> Column:
    """Grouped-agg pandas UDAF (Arrow series → scalar): geometric mean.

    The UDAF form of the escape hatch — for aggregates Catalyst can't
    express directly. This one CAN be expressed as exp(avg(ln(x)))
    (the test pins both forms against each other), which is exactly
    the point: the pinned pair documents when to stay JVM-side and
    what the Python form must match when it is needed."""

    @pandas_udf(DoubleType())
    def _gmean(v: pd.Series) -> float:
        a = v.to_numpy(dtype=np.float64)
        return float(np.exp(np.mean(np.log(a))))

    return _gmean


def cosine_to_query(query_vec: list[float]) -> Column:
    """Returns a column function: embedding array<float> → cosine
    similarity to the fixed query vector, computed vectorized per
    Arrow batch (one matrix-vector product per batch, not per row)."""
    q = np.asarray(query_vec, dtype=np.float64)
    qn = float(np.linalg.norm(q))

    @pandas_udf(DoubleType())
    def _cos(embs: pd.Series) -> pd.Series:
        m = np.stack(embs.map(lambda e: np.asarray(e, dtype=np.float64)))
        dots = m @ q
        norms = np.linalg.norm(m, axis=1)
        return pd.Series(dots / (norms * qn))

    return _cos


def l2_assign(vecs, cent_rows, id_col: str = "vec_id"):
    """Assign every quantized vector to its nearest centroid by exact
    int64 squared-L2 (tie → lowest centroid id): ONE mapInPandas
    matmul against the collected (cid, pos, c) codebook rows — the
    k-means inner loop, exposed so non-iterative consumers (diversity
    sampling, cell stats) reuse the vectors-never-shuffle assignment.
    Returns (id_col, cid)."""
    if not cent_rows:
        raise ValueError("l2_assign: empty centroid set")
    by_cid: dict[int, dict[int, int]] = {}
    for r in cent_rows:
        by_cid.setdefault(r["cid"], {})[r["pos"]] = r["c"]
    c_ids = np.asarray(sorted(by_cid), dtype=np.int64)
    c_mat = np.asarray(
        [[by_cid[cid][p] for p in sorted(by_cid[cid])] for cid in c_ids],
        dtype=np.int64,
    )
    c_sq = np.einsum("ij,ij->i", c_mat, c_mat)

    def _assign(batches, _ids=c_ids, _mat=c_mat, _sq=c_sq):
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(
                pdf["q"].map(lambda a: np.asarray(a, dtype=np.int64))
            )
            # argmin ||v-c||^2 == argmin(-2 v.c + ||c||^2): int64
            # exact; np.argmin returns the FIRST minimum, i.e. the
            # lowest centroid id on ties (c_ids sorted) — O(k), no
            # full-row sort needed for top-1
            scores = -2 * _int_matmul_exact(v, _mat) + _sq[None, :]
            nearest = np.argmin(scores, axis=1)
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(dtype=np.int64),
                    "cid": _ids[nearest],
                }
            )

    return vecs.select(id_col, "q").mapInPandas(
        _assign, f"{id_col} long, cid long"
    )


def kmeans_lloyd(
    quantized_emb,
    init_mod: int,
    iters: int,
    id_col: str = "vec_id",
):
    """Integer-exact Lloyd k-means refinement — the iterative-algorithm
    pattern (like operators.graph.connected_components) applied to the
    IVF codebook: deterministic seed centroids (``vec_id % init_mod ==
    1``), then ``iters`` rounds of (assign to argmin squared-L2
    centroid, tie -> lowest centroid id) + (centroid = element-wise
    floor(sum/count)). Everything is int64 — quantized components,
    squared distances, sums, and a sign-safe floor division
    ``(s - ((s % n + n) % n)) div n`` — so numpy, Spark SQL, and the
    DuckDB oracle agree bit-for-bit with NO floating-point anywhere in
    the loop, which is what makes an iterative algorithm oracle-
    checkable at all. A centroid that loses every member drops out (k
    shrinks), identically in both engines.

    Scale: per round, assignment is one mapInPandas matmul against the
    collected codebook (k*d int64s in the task closure — vectors never
    shuffle to assign) and the update is one (cid, pos)-keyed aggregate
    with map-side partial sums. Driver round-trips = ``iters`` codebook
    collects, same as any k-means. Returns (cid, pos, c, n) at
    codebook grain.
    """
    comp = quantized_emb.select(
        id_col, F.posexplode("q").alias("pos", "v")
    ).cache()
    cent = comp.filter(F.col(id_col) % init_mod == 1).select(
        F.col(id_col).alias("cid"),
        F.col("pos").cast("long").alias("pos"),
        F.col("v").alias("c"),
        F.lit(1).cast("long").alias("n"),
    )
    vecs = quantized_emb.select(id_col, "q")
    for _ in range(iters):
        rows = cent.select("cid", "pos", "c").collect()
        if not rows:
            raise ValueError(
                f"init_mod={init_mod} selected no seed centroids "
                f"(no {id_col} satisfies {id_col} % {init_mod} == 1)"
            )
        assign = l2_assign(vecs, rows, id_col)
        upd = (
            comp.join(assign, id_col)
            .groupBy("cid", "pos")
            .agg(
                F.sum("v").cast("long").alias("s"),
                F.count("*").cast("long").alias("n"),
            )
        )
        cent = upd.select(
            "cid",
            F.col("pos").cast("long").alias("pos"),
            F.expr("(s - ((s % n + n) % n)) div n").cast("long").alias("c"),
            "n",
        )
    return cent


def _subspaces(df, n_sub: int, sub_dim: int, id_col: str, out_id: str):
    """(out_id, m, sv): one row per (vector, subspace) with the
    sub_dim-component sub-vector — the ONE subspace-layout definition
    shared by PQ encoding and the per-query ADC lookup table, so the
    two can never slice differently (a layout change — e.g. padding
    for non-divisible dims — reaches both at once or every ADC
    distance silently corrupts)."""
    return df.select(
        F.col(id_col).alias(out_id),
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(m).alias("m"),
                        F.slice("q", m * sub_dim + 1, sub_dim).alias("sv"),
                    )
                    for m in range(n_sub)
                ]
            )
        ).alias("s"),
    ).select(out_id, F.col("s.m").alias("m"), F.col("s.sv").alias("sv"))


def pq_encode(
    quantized_emb,
    codebook_mod: int,
    n_sub: int,
    sub_dim: int,
    id_col: str = "vec_id",
):
    """Product-quantization encoding (Jégou et al. 2011, the public
    PQ method FAISS popularized): split each quantized vector into
    ``n_sub`` subspaces of ``sub_dim`` components, pick deterministic
    per-subspace codebooks (the sub-vectors of ``id % codebook_mod ==
    1`` rows — the same seed family as the coarse IVF quantizer), and
    assign every (vector, subspace) to its nearest centroid by exact
    integer squared-L2 (ties → lowest centroid id). Returns
    (codes, cents): codes = (id, m, code) — the n_sub-byte compressed
    representation that is PQ's entire point (memory: n_sub codes vs
    sub_dim·n_sub ints per vector); cents = (cid, m, cv) the codebook
    side-table.

    Shape: one explode to (id, m, sub-vector) rows (narrow), one
    join against the (k·n_sub)-row codebook, one min(struct)
    aggregate — the argmin combines MAP-SIDE, so assignment is the
    same N·k·n_sub cost class as IVF coarse assignment and never a
    window sort."""
    subs = _subspaces(quantized_emb, n_sub, sub_dim, id_col, id_col)
    cents = subs.filter(F.col(id_col) % codebook_mod == 1).select(
        F.col(id_col).alias("cid"), "m", F.col("sv").alias("cv")
    )
    d = subs.join(F.broadcast(cents), "m").withColumn(
        "d2",
        F.expr(
            "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)),"
            " 0L, (s, v) -> s + v)"
        ),
    )
    codes = (
        d.groupBy(id_col, "m")
        .agg(F.min(F.struct("d2", "cid")).alias("f"))
        .select(id_col, "m", F.col("f.cid").alias("code"))
    )
    return codes, cents


def pq_residual_vectors(
    quantized_emb, coarse_mod: int, id_col: str = "vec_id"
):
    """Residual encoding input (round 8 — the FAISS IVFPQ DEFAULT the
    no-residual variant's docstrings point at): each vector becomes
    its element-wise integer difference from its coarse cell
    centroid. Integer subtract keeps the whole chain oracle-exact.

    MEASURED, not assumed (tools/pq_recall.py, both regimes): on the
    UNIFORM testdata embeddings residuals HURT recall at every
    codebook size (0.042 vs 0.217 ADC@3 at the registry codebook) —
    a uniform vector's nearest coarse seed is unrelated, so the
    residual distribution is ~2x the variance of the inputs. On a
    CLUSTERED corpus (the regime the technique is for) residuals tie
    or win once the codebook has capacity (0.233 vs 0.192 at ~100
    centroids/subspace; re-ranked 0.575 vs 0.508 at ~200) and still
    lose below that. Deploy residuals only when the embedding space
    is verifiably clustered AND the codebook is sized to the noise
    scale; the flip condition is the finding.

    Returns (residuals, cells): residuals = (id, q, cell) with ``q``
    the residual array, cells = the ORIGINAL-space assignment —
    callers must pass it through to ``pq_adc_topk(cells=...)`` so
    candidate generation never re-assigns in residual space.

    Shape: one assignment pass (the ivf_assign matmul — vectors
    never shuffle) + a broadcast centroid-vector join + one
    zip_with projection; nothing new at corpus grain."""
    coarse = quantized_emb.filter(F.col(id_col) % coarse_mod == 1)
    cells = ivf_assign(quantized_emb, coarse, id_col)
    cvecs = coarse.select(
        F.col(id_col).alias("cell"), F.col("q").alias("_cq")
    )
    res = (
        quantized_emb.join(cells, id_col)
        .join(F.broadcast(cvecs), "cell")
        .select(
            id_col,
            F.expr("zip_with(q, _cq, (x, y) -> x - y)").alias("q"),
            "cell",
        )
    )
    return res, cells


def pq_adc_topk(
    quantized_emb,
    codes,
    cents,
    k: int,
    query_mod: int,
    coarse_mod: int,
    n_sub: int,
    sub_dim: int,
    id_col: str = "vec_id",
    lut_vectors=None,
    cells=None,
):
    """IVF+PQ search with asymmetric distance computation (ADC) — the
    deployable FAISS ``IVFPQ`` shape (no-residual variant, noted):
    queries go exact, database vectors exist only as PQ codes. Per
    query: build the (n_sub × k)-entry lookup table of exact integer
    L2 between the query's sub-vectors and every centroid, restrict
    candidates to the query's coarse IVF cell (``ivf_assign``, the
    measured partition shape), and score each candidate as the SUM of
    table lookups selected by its codes — integer-exact end to end,
    so ranks, distances, and the top-k binding to true L2 are all
    oracle-hashable.

    Output: (q_id, n_id, rank, adc_d2, exact_d2) — exact_d2 joins
    full vectors for the K returned rows only (the standard re-rank
    edge), binding the compressed-domain ranking to ground truth in
    the value hash.

    Shape: LUT is |Q|·k·n_sub rows (tiny — queries are sampled, k is
    the codebook); candidate scoring joins cell-mates' codes to the
    LUT on (q_id-broadcastable keys) and SUMS — map-side combinable;
    never all-pairs. At 100 TB the codes table is the only
    corpus-sized relation touched per query, at n_sub bytes/vector —
    the memory story that lets a 100 TB corpus's index fit a
    cluster's RAM.

    ``lut_vectors`` / ``cells`` (round 8, residual variant): the
    residual composition passes codes/cents trained on
    (vector − cell centroid) residuals, the residual table as
    ``lut_vectors`` (the query side of the ADC table must live in
    the same space as the codebook), and the ORIGINAL-space cell
    assignment as ``cells`` (residuals must never re-assign coarse
    cells). ``exact_d2`` stays in the original space either way —
    the re-rank binding is space-independent ground truth."""
    from pyspark.sql import Window

    queries = quantized_emb.filter(F.col(id_col) % query_mod == 0)
    if cells is None:
        coarse = quantized_emb.filter(F.col(id_col) % coarse_mod == 1)
        cells = ivf_assign(quantized_emb, coarse, id_col)
    qcells = cells.join(
        queries.select(id_col), id_col
    ).select(F.col(id_col).alias("q_id"), "cell")

    lut_src = (
        lut_vectors if lut_vectors is not None else quantized_emb
    ).filter(F.col(id_col) % query_mod == 0)
    qsubs = _subspaces(lut_src, n_sub, sub_dim, id_col, "q_id")
    lut = qsubs.join(F.broadcast(cents), "m").select(
        "q_id",
        "m",
        F.col("cid").alias("code"),
        F.expr(
            "aggregate(zip_with(sv, cv, (x, y) -> (x - y) * (x - y)),"
            " 0L, (s, v) -> s + v)"
        ).alias("ld2"),
    )
    cand = codes.join(
        cells.select(F.col(id_col).alias("n_id"), "cell"),
        codes[id_col] == F.col("n_id"),
    ).select("n_id", "m", "code", "cell")
    pairs = cand.join(F.broadcast(qcells), "cell").filter(
        F.col("n_id") != F.col("q_id")
    )
    adc = (
        pairs.join(F.broadcast(lut), ["q_id", "m", "code"])
        .groupBy("q_id", "n_id")
        .agg(F.sum("ld2").alias("adc_d2"))
    )
    w = Window.partitionBy("q_id").orderBy(F.asc("adc_d2"), F.asc("n_id"))
    topk = adc.withColumn(
        "rank", F.row_number().over(w).cast("long")
    ).filter(F.col("rank") <= k)
    qa = queries.select(F.col(id_col).alias("q_id"), F.col("q").alias("qa"))
    nb = quantized_emb.select(
        F.col(id_col).alias("n_id"), F.col("q").alias("qb")
    )
    return (
        topk.join(qa, "q_id")
        .join(nb, "n_id")
        .select(
            "q_id",
            "n_id",
            "rank",
            "adc_d2",
            F.expr(
                "aggregate(zip_with(qa, qb, (x, y) -> (x - y) * (x - y)),"
                " 0L, (s, v) -> s + v)"
            ).alias("exact_d2"),
        )
    )


def scatter_matrix(embq, dim: int):
    """(i, j, s): the exact int64 Gram/scatter matrix Σ q qᵀ of a
    quantized embedding table, computed distributedly — each Arrow
    batch contributes one local ``Bᵀ B`` matmul (numpy int64, exact)
    and only the d×d partials shuffle, never the vectors. The d²-row
    result is driver-collectable by construction (d=64 → 4096 rows),
    the same "reduce to a fixed-size sketch" shape as the k-means
    centroid updates.

    Overflow headroom: |q| ≤ 1e3 (QUANT scale) → |q_i·q_j| ≤ 1e6, so
    int64 holds the sum for up to ~9e12 rows; past that, widen the
    partials to per-partition decimals before the final sum.
    """
    import pandas as _pd

    def _partials(batches):
        acc = np.zeros((dim, dim), dtype=np.int64)
        seen = False
        n_rows = 0
        for pdf in batches:
            if len(pdf) == 0:
                continue
            B = np.stack(
                pdf["q"].map(lambda v: np.asarray(v, dtype=np.int64))
            )
            acc += B.T @ B
            seen = True
            # loud overflow guard for the documented ~9e12-row
            # headroom (|q|<=1e3 -> per-row |q_i*q_j| <= 1e6): a
            # silent int64 wraparound would corrupt the eigenvector
            n_rows += len(pdf)
            if n_rows > 9_000_000_000_000 or np.abs(acc).max() > (
                (1 << 62)
            ):
                raise OverflowError(
                    "scatter_matrix int64 headroom exceeded"
                    f" ({n_rows} rows in partition); widen partials"
                    " to per-partition decimals before the final sum"
                )
        if seen:
            ii, jj = np.meshgrid(
                np.arange(dim, dtype=np.int32),
                np.arange(dim, dtype=np.int32),
                indexing="ij",
            )
            yield _pd.DataFrame(
                {"i": ii.ravel(), "j": jj.ravel(), "s": acc.ravel()}
            )

    partials = embq.select("q").mapInPandas(
        _partials, schema="i int, j int, s long"
    )
    # the cross-partition sum aggregates in DECIMAL(38,0) and casts
    # back with a loud guard (review fix: per-partition headroom
    # checks cannot bound the FINAL sum — P clean partials can still
    # overflow int64 together, and the default non-ANSI long sum
    # would wrap silently)
    return (
        partials.groupBy("i", "j")
        .agg(F.sum(F.col("s").cast("decimal(38,0)")).alias("sd"))
        .select(
            "i",
            "j",
            F.expr(
                "CASE WHEN abs(sd) <= 9223372036854775807"
                " THEN CAST(sd AS LONG)"
                " ELSE raise_error('scatter_matrix int64 overflow in"
                " cross-partition sum; widen consumers to decimal')"
                " END"
            ).alias("s"),
        )
    )


def power_iteration_fixed(
    scatter_rows, dim: int, n_iter: int, scale: int = 1000
) -> list[int]:
    """Dominant eigenvector of a d×d scatter matrix in fixed-point
    integer arithmetic: ``n_iter`` synchronous rounds of ``v ← trunc(
    S·v · scale / max|S·v|)`` starting from the all-ones vector.
    Driver-side pure-python ints (arbitrary precision — no overflow at
    any corpus size); the DuckDB oracle unrolls the identical rounds
    over HUGEINT, so the result is bit-equal by construction even
    before convergence. The scatter matrix is PSD (a Gram matrix), so
    power iteration converges at the λ2/λ1 rate and the all-ones start
    is only degenerate if exactly orthogonal to the top eigenvector —
    tests pin convergence against numpy's eigh on the test corpus.
    """
    S = {(r["i"], r["j"]): int(r["s"]) for r in scatter_rows}
    v = [scale] * dim
    for _ in range(n_iter):
        w = [
            sum(S.get((i, j), 0) * v[j] for j in range(dim))
            for i in range(dim)
        ]
        m = max(abs(x) for x in w)
        if m == 0:  # zero matrix — keep the start vector
            return v
        v = [
            (x * scale) // m if x >= 0 else -(((-x) * scale) // m)
            for x in w
        ]
    return v


def knn_kth_d2_matmul(embq, k: int, id_col: str = "vec_id"):
    """(id, knn_d2): exact int64 squared-L2 distance from each vector
    to its k-th nearest OTHER vector, as one integer matrix product
    per Arrow batch — the same matmul device as ``cosine_topk_matmul``
    (the full matrix rides in the task closure, rows stream through
    ``mapInPandas``, nothing shuffles). 3 orders of magnitude faster
    than the per-pair Catalyst array-aggregate form (0.9 s vs 34 s at
    sf0.1, measured) and bit-identical: the k-th smallest d2 VALUE is
    a multiset statistic, so no tiebreak enters the result.

    Baseline-class device by construction: the closure holds all N
    vectors (like the brute-force cosine ground truth); the scale
    path approximates the k-NN distance inside IVF cells.
    """
    rows = embq.select(id_col, "q", "norm").collect()
    if len(rows) <= k:
        # with N <= k vectors there is no k-th OTHER neighbor for any
        # row (the oracle emits nothing); np.partition would raise and
        # the self-distance sentinel would leak as a fake k-th value —
        # refuse loudly instead of returning silently-wrong rows
        raise ValueError(
            f"knn_kth_d2_matmul needs more than k={k} vectors, got"
            f" {len(rows)}"
        )
    ids = np.asarray([r[0] for r in rows], dtype=np.int64)
    M = np.asarray([r[1] for r in rows], dtype=np.int64)
    norms = np.asarray([r[2] for r in rows], dtype=np.int64)

    def _kth(batches):
        import pandas as _pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            A = np.stack(pdf["q"].map(lambda v: np.asarray(v, dtype=np.int64)))
            na = pdf["norm"].to_numpy(dtype=np.int64)
            a_ids = pdf[id_col].to_numpy(dtype=np.int64)
            D2 = na[:, None] + norms[None, :] - 2 * _int_matmul_exact(A, M)
            # exclude self-distance: push own column past any real d2
            self_mask = a_ids[:, None] == ids[None, :]
            D2[self_mask] = np.iinfo(np.int64).max
            kth = np.partition(D2, k - 1, axis=1)[:, k - 1]
            yield _pd.DataFrame({id_col: a_ids, "knn_d2": kth})

    return embq.select(id_col, "q", "norm").mapInPandas(
        _kth, schema=f"{id_col} long, knn_d2 long"
    )
