"""Scale-safe global enumeration and deterministic training order.

Two primitives every training-data exporter needs and naive Spark
gets wrong at 100 TB:

- ``assign_contiguous_ids``: dense 0..N-1 row ids in a total order
  WITHOUT the single-task global window (``row_number() OVER (ORDER
  BY ...)`` with no PARTITION BY executes as ONE WindowExec task — the
  exact straggler class tests/test_scale_class_completeness.py exists
  to catch). The scale-safe shape is the classic two-pass device:
  range-repartition on the order keys, count each partition (ONE tiny
  collect — one row per partition, never data), broadcast the running
  offsets back as a literal map, and number rows with a window
  partitioned BY the range partition — so every window task is
  bounded by N / num_partitions, the same knob as
  spark.sql.shuffle.partitions.

- ``epoch_shuffle_key``: a deterministic per-epoch pseudo-shuffle key
  from integer arithmetic that both Spark and any ANSI engine
  evaluate bit-identically (two rounds of multiply-add-mod with all
  intermediates < 2^63 — no xxhash64, which the oracle engine lacks;
  no rand(), which is not replayable). Sorting by (key, id) within a
  hash-assigned shard gives each epoch a different, reproducible
  visitation order — the "global shuffle" a training run needs,
  executed as an embarrassingly parallel per-shard sort instead of a
  global one.

The reference has no enumeration surface (its exports are
report-grain, firefox_public_data_report_etl/main.py); these exist
for the training-export extension (plans/loader.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window, functions as F

# LCG-family constants (Numerical Recipes / C99 rand): quality is
# irrelevant here beyond "decorrelates adjacent ids across epochs";
# what matters is exact cross-engine arithmetic, pinned by tests and
# the registry oracle.
_MIX_A = 1103515245
_MIX_C = 1013904223
_EPOCH_STRIDE = 12345
_MIX_B = 48271
_MOD = 2147483647  # 2^31 - 1; keeps every product < 2^63


def assign_contiguous_ids(
    df: DataFrame,
    order_cols: list[str],
    id_name: str = "row_id",
    num_partitions: int = 32,
) -> DataFrame:
    """Dense 0-based ids in the total order of ``order_cols``.

    ``order_cols`` must be a unique key (ties would make the numbering
    depend on which side of a range boundary a row sampled into).
    ``num_partitions`` is the scale knob: each window task holds
    ~N/num_partitions rows — raise it with corpus size exactly like
    shuffle partitions. One driver-side collect of num_partitions
    count rows; no global single-task stage anywhere in the plan.

    localCheckpoint pins the range-partition assignment between the
    two passes (count, then number) so ``spark_partition_id()`` is
    read from the SAME materialized layout both times.
    """
    cols = [F.col(c) for c in order_cols]
    part = (
        df.repartitionByRange(num_partitions, *cols)
        .withColumn("_pid", F.spark_partition_id())
        .localCheckpoint()
    )
    counts = {
        r["_pid"]: r["n"]
        for r in part.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for pid in range(num_partitions):
        offsets[pid] = acc
        acc += counts.get(pid, 0)
    off_map = F.create_map(
        *[F.lit(v) for kv in offsets.items() for v in kv]
    )
    w = Window.partitionBy("_pid").orderBy(*cols)
    return (
        part.withColumn(
            id_name,
            (
                F.row_number().over(w).cast("long")
                - F.lit(1)
                + off_map[F.col("_pid")].cast("long")
            ),
        )
        .drop("_pid")
    )


def assign_contiguous_ids_ranged(
    df: DataFrame,
    order_col: str,
    id_name: str = "row_id",
    num_partitions: int = 32,
    rel_err: float = 0.001,
) -> DataFrame:
    """Checkpoint-free twin of ``assign_contiguous_ids`` for a
    NUMERIC unique key — the preferred 100 TB form.

    The generic form must ``localCheckpoint`` because
    ``spark_partition_id()`` after repartitionByRange is a property of
    a materialized layout; that is a full-width write of the dataset
    to executor disks. Here the partition id is instead a PURE
    FUNCTION of the key — count of approxQuantile boundaries below it
    (one ``F.aggregate`` over a literal array, JVM-side, linear in
    num_partitions) — so nothing needs pinning: the plan is three
    scans of the pruned key column (quantiles, per-range counts, the
    numbering pass), which parquet column pruning makes far cheaper
    than materializing every column once.

    Boundary skew is harmless for correctness: duplicated quantiles
    collapse (ranges merely unbalance, the window stays partitioned);
    exact balance isn't the contract, bounded tasks are. Keys must be
    unique; beyond 2^53 the double-typed boundaries lose exactness —
    use the generic form there.
    """
    probs = [i / num_partitions for i in range(1, num_partitions)]
    bounds = sorted(set(df.stat.approxQuantile(order_col, probs, rel_err)))
    if bounds:
        arr = F.array(*[F.lit(b) for b in bounds])
        pid = F.aggregate(
            arr,
            F.lit(0),
            lambda acc, b: acc
            + F.when(F.col(order_col) > b, 1).otherwise(0),
        )
    else:
        pid = F.lit(0)
    keyed = df.withColumn("_pid", pid)
    counts = {
        r["_pid"]: r["n"]
        for r in keyed.groupBy("_pid").agg(F.count("*").alias("n")).collect()
    }
    offsets: dict[int, int] = {}
    acc = 0
    for p in range(len(bounds) + 1):
        offsets[p] = acc
        acc += counts.get(p, 0)
    off_map = F.create_map(*[F.lit(v) for kv in offsets.items() for v in kv])
    w = Window.partitionBy("_pid").orderBy(order_col)
    return (
        keyed.withColumn(
            id_name,
            (
                F.row_number().over(w).cast("long")
                - F.lit(1)
                + off_map[F.col("_pid")].cast("long")
            ),
        )
        .drop("_pid")
    )


def write_training_shards(
    order: DataFrame,
    payload: DataFrame,
    id_col: str,
    path: str,
) -> None:
    """Materialize a training epoch as one parquet file per
    (epoch, shard_id) directory with rows IN VISITATION ORDER — the
    layout a sequential reader mmaps without any further sort.

    repartition(epoch, shard_id) maps each shard to exactly one write
    task (so one file per directory, pinned by the read-back test) and
    sortWithinPartitions orders rows inside the file by pos; parquet
    preserves within-file row order, so a plain file read replays the
    epoch order. At 100 TB the shard count (not this writer) bounds
    file size — n_shards = corpus_rows / shard_rows upstream.
    """
    (
        order.join(payload, id_col)
        .repartition("epoch", "shard_id")
        .sortWithinPartitions("epoch", "shard_id", "pos")
        .write.mode("overwrite")
        .partitionBy("epoch", "shard_id")
        .parquet(path)
    )


def epoch_shuffle_key(id_col, epoch_col):
    """Deterministic per-epoch shuffle key: two multiply-add-mod
    rounds over an integer id. The id is reduced mod 2^31-1 FIRST, so
    every intermediate stays < 2^62 for ANY int64 id — Spark's
    non-ANSI multiply would silently wrap where DuckDB errors, so the
    pre-reduction is what keeps the expression engine-exact at 100 TB
    id ranges, not just test ones. Ids congruent mod 2^31-1 share a
    key; the (key, id) sort tiebreak keeps the order a valid
    permutation regardless."""
    h1 = (
        (id_col.cast("long") % F.lit(_MOD)) * F.lit(_MIX_A)
        + epoch_col.cast("long") * F.lit(_EPOCH_STRIDE)
        + F.lit(_MIX_C)
    ) % F.lit(_MOD)
    return (h1 * F.lit(_MIX_B)) % F.lit(_MOD)


def epoch_training_order(
    df: DataFrame,
    id_col: str,
    n_epochs: int,
    n_shards: int,
) -> DataFrame:
    """(epoch, shard_id, <id>, pos): for each epoch, a reproducible
    pseudo-random visitation order, sharded for parallel readers.

    shard_id = key % n_shards hash-assigns rows to shards (different
    assignment per epoch — shard boundaries reshuffle too, as a real
    dataloader's do); pos numbers rows within (epoch, shard) by
    (key, id) — the window is PARTITIONED by shard, so at 100 TB you
    pick n_shards = corpus_rows / target_shard_rows and every sort
    task stays file-sized. n_shards is therefore corpus-proportional
    by construction (like BUCKET_PARTS in operators/hamming_index.py);
    the registry binds a fixed value only so the oracle is a static
    SQL string.

    Epoch-coverage invariant (pinned by tests/test_loader_order.py):
    every epoch visits every row exactly once — the key is a pure
    function of (id, epoch), never sampled.
    """
    epochs = F.explode(
        F.sequence(F.lit(0), F.lit(n_epochs - 1))
    ).alias("epoch")
    keyed = df.select(F.col(id_col), epochs).withColumn(
        "_k", epoch_shuffle_key(F.col(id_col), F.col("epoch"))
    )
    keyed = keyed.withColumn(
        "shard_id", (F.col("_k") % F.lit(n_shards)).cast("long")
    )
    w = Window.partitionBy("epoch", "shard_id").orderBy("_k", id_col)
    return (
        keyed.withColumn(
            "pos", F.row_number().over(w).cast("long") - F.lit(1)
        )
        .select(
            F.col("epoch").cast("long").alias("epoch"),
            "shard_id",
            id_col,
            "pos",
        )
    )


def resume_suffix(
    order: DataFrame, checkpoint: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Exactly the UNSEEN suffix of the deterministic epoch order
    (round-11 verdict #7): rows whose ``pos`` is at or past the
    checkpointed cursor of their (epoch, shard_id); shards without a
    checkpoint row resume from 0. Because the order is a pure
    function of (id, epoch) — never sampled — prefix ∪ suffix is the
    whole epoch and the two partition it exactly (property-pinned),
    so a trainer that replays from the last committed checkpoint
    re-reads nothing it consumed and skips nothing it didn't.

    Scale: one broadcast left join on (epoch, shard_id) — the
    checkpoint is shards-sized by construction."""
    cp = checkpoint.select("epoch", "shard_id", "cursor")
    return (
        order.join(F.broadcast(cp), ["epoch", "shard_id"], "left")
        .filter(F.col("pos") >= F.coalesce(F.col("cursor"), F.lit(0)))
        .drop("cursor")
    )


def write_loader_checkpoint(
    spark, store: str, batch_label: int, cursors: DataFrame
) -> None:
    """Persist one epoch-checkpoint slice under its own ``bl`` label,
    commit-last (``streaming/gate.py``): cursor rows land FIRST, the
    one-row meta marker LAST, so a crash between the two leaves a
    half-written slice that ``read_loader_checkpoint`` never sees.
    ``cursors``: (epoch, shard_id, cursor, prefix_checksum)."""
    from firefox_public_data_report_etl_spark.streaming.gate import (
        write_label_slice,
    )

    write_label_slice(
        cursors.select("epoch", "shard_id", "cursor", "prefix_checksum"),
        f"{store}/cursors",
        batch_label,
    )
    write_label_slice(
        spark.createDataFrame(
            [(int(batch_label), True)], "bl long, committed boolean"
        ),
        f"{store}/meta",
        batch_label,
    )


LOADER_CP_SCHEMA = (
    "epoch long, shard_id long, cursor long, prefix_checksum long"
)


def read_loader_checkpoint(spark, store: str) -> DataFrame:
    """Cursor rows of the NEWEST COMMITTED checkpoint (marker
    present) — a half-written newer slice (crash window) is
    invisible and the previous checkpoint stays authoritative; an
    empty store reads as an empty typed frame (resume-from-zero)."""
    from firefox_public_data_report_etl_spark.streaming.gate import (
        read_committed,
    )

    return read_committed(
        spark,
        store,
        "meta",
        "bl long, committed boolean",
        data_dir="cursors",
        committed=lambda meta: meta.agg(F.max("bl").alias("bl")),
        schema=LOADER_CP_SCHEMA + ", bl long",
    )
