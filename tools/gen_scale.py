#!/usr/bin/env python
"""Generate a self-scaled events/documents dataset for the scaling
curve (SCALING.md): REPLICAS stacked copies of the sf0.1 tables with
disjoint id spaces, so row volume scales by REPLICAS while every
per-key cardinality ratio (events per user, docs per near-dup group,
weeks covered) stays fixed — the same way TPC-H scales by adding
customers, not by lengthening history.

Documents in replica k > 0 additionally get every 3rd token replaced
with a replica-unique token. Word-3-gram shingles die at every
replaced position, so cross-replica Jaccard collapses to ~0 — without
this, each document would form a 10-clone clique across replicas and
the near-dup pair count would scale quadratically instead of linearly,
corrupting the slope the measurement is trying to read. Near-dup pairs
WITHIN a replica keep high overlap (both members lose the same
positions), so the planted structure scales 1:1.

Usage: python tools/gen_scale.py [out_dir] [replicas]
Defaults: .scale/sf1 (gitignored), 10.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SRC = "/root/testdata/sf0.1"


def main() -> None:
    out = sys.argv[1] if len(sys.argv) > 1 else ".scale/sf1"
    replicas = int(sys.argv[2]) if len(sys.argv) > 2 else 10

    from pyspark.sql import functions as F

    from firefox_public_data_report_etl_spark.session import TIERED_C2, get_spark
    from firefox_public_data_report_etl_spark.sources import load_table

    spark = get_spark(app_name="gen-scale", extra_conf=TIERED_C2)
    os.makedirs(out, exist_ok=True)

    ev = load_table(spark, SRC, "events")
    parts = []
    for k in range(replicas):
        parts.append(
            ev.select(
                (F.col("event_id") + F.lit(k * 10**9)).alias("event_id"),
                "ts",
                (F.col("user_id") + F.lit(k * 10**7)).alias("user_id"),
                "event_type",
                "value",
                "props",
            )
        )
    stacked = parts[0]
    for p in parts[1:]:
        stacked = stacked.unionByName(p)
    stacked.repartition(32).write.mode("overwrite").parquet(f"{out}/events.parquet")

    docs = load_table(spark, SRC, "documents")
    parts = []
    for k in range(replicas):
        if k == 0:
            mutated = F.col("text")
        else:
            mutated = F.array_join(
                F.expr(
                    "transform(split(text, ' '), (t, i) -> "
                    f"IF(i % 3 = 0, concat('r{k}p', i), t))"
                ),
                " ",
            )
        parts.append(
            docs.select(
                (F.col("doc_id") + F.lit(k * 10**7)).alias("doc_id"),
                mutated.alias("text"),
                "lang",
                "source",
                F.length(mutated).cast("long").alias("n_chars"),
            )
        )
    stacked = parts[0]
    for p in parts[1:]:
        stacked = stacked.unionByName(p)
    stacked.repartition(8).write.mode("overwrite").parquet(f"{out}/documents.parquet")

    # orders + lineitem + customer + part + embeddings: disjoint key
    # spaces per replica with FOREIGN KEYS REMAPPED to the same replica
    # (o_custkey→stacked customer, l_partkey→stacked part), so every
    # per-key cardinality ratio — orders per customer, lineitems per
    # part, vectors per query — stays fixed while row volume scales.
    # region/nation/supplier are copied unchanged: true fixed dims
    # (customers-per-nation growing with SF matches how real dims lag
    # facts, and both stay broadcast-sized at any replica count).
    orders = load_table(spark, SRC, "orders")
    stacked = None
    for k in range(replicas):
        p = orders.select(
            (F.col("o_orderkey") + F.lit(k * 10**9)).alias("o_orderkey"),
            (F.col("o_custkey") + F.lit(k * 10**6)).alias("o_custkey"),
            "o_orderstatus",
            "o_totalprice",
            "o_orderdate",
            "o_orderpriority",
        )
        stacked = p if stacked is None else stacked.unionByName(p)
    stacked.repartition(32).write.mode("overwrite").parquet(
        f"{out}/orders.parquet"
    )

    li = load_table(spark, SRC, "lineitem")
    stacked = None
    for k in range(replicas):
        p = li.withColumn(
            "l_orderkey", F.col("l_orderkey") + F.lit(k * 10**9)
        ).withColumn("l_partkey", F.col("l_partkey") + F.lit(k * 10**7))
        stacked = p if stacked is None else stacked.unionByName(p)
    stacked.repartition(32).write.mode("overwrite").parquet(
        f"{out}/lineitem.parquet"
    )

    cust = load_table(spark, SRC, "customer")
    stacked = None
    for k in range(replicas):
        p = cust.withColumn(
            "c_custkey", F.col("c_custkey") + F.lit(k * 10**6)
        )
        stacked = p if stacked is None else stacked.unionByName(p)
    stacked.repartition(8).write.mode("overwrite").parquet(
        f"{out}/customer.parquet"
    )

    part = load_table(spark, SRC, "part")
    stacked = None
    for k in range(replicas):
        p = part.withColumn(
            "p_partkey", F.col("p_partkey") + F.lit(k * 10**7)
        )
        stacked = p if stacked is None else stacked.unionByName(p)
    stacked.repartition(8).write.mode("overwrite").parquet(
        f"{out}/part.parquet"
    )

    emb = load_table(spark, SRC, "embeddings")
    stacked = None
    for k in range(replicas):
        p = emb.withColumn("vec_id", F.col("vec_id") + F.lit(k * 10**7))
        stacked = p if stacked is None else stacked.unionByName(p)
    stacked.repartition(8).write.mode("overwrite").parquet(
        f"{out}/embeddings.parquet"
    )

    for t in ("region", "nation", "supplier"):
        load_table(spark, SRC, t).write.mode("overwrite").parquet(
            f"{out}/{t}.parquet"
        )

    for t in (
        "events", "documents", "orders", "lineitem",
        "customer", "part", "embeddings",
    ):
        n = spark.read.parquet(f"{out}/{t}.parquet").count()
        print(f"{t}: {n} rows -> {out}/{t}.parquet")
    spark.stop()


if __name__ == "__main__":
    main()
