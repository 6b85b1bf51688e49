"""Classic relational plans over the TPC-H-ish testdata tables.

These cover the reference's plain relational surface (scans F1-F13,
equi joins J1/J6-J8, aggregates A2/A8/A14, top-K A13/O5) on the tables
where they bench meaningfully at sf0.1+, and serve as the headline
bench queries.

Determinism contract with the DuckDB oracle: every double measure is
aggregated as exact integers (cents / basis points) and only divided
once at the end — see functions.cents. DuckDB SUM(BIGINT) returns
HUGEINT, so oracle sums are CAST back to BIGINT; DuckDB year() /
row_number() return BIGINT, so Spark casts its INT results up.

Scale notes per query are inline; the dims (nation/region) are
broadcast explicitly, lineitem/orders joins shuffle on their keys and
rely on AQE for skew/coalesce.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from firefox_public_data_report_etl_spark.functions import cents
from firefox_public_data_report_etl_spark.operators import top_k_per_group
from firefox_public_data_report_etl_spark.sources import load_table


def _pct(col) -> F.Column:
    """0.07 → 7: exact integer percent for a 2-decimal fraction (same
    arithmetic round-half-away form as ``functions.cents``)."""
    return cents(col)


def pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: one wide aggregate over the biggest table.

    Scale: single scan, partial aggregation map-side, 6-group output —
    the shuffle moves only partial aggregates. Filter pushes to parquet.
    """
    li = load_table(
        spark, sf_dir, "lineitem", prune=("l_shipdate", None, "1998-09-02")
    ).filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
    li = li.select(
        "l_returnflag",
        "l_linestatus",
        F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("qty"),
        cents(F.col("l_extendedprice")).alias("price_c"),
        _pct(F.col("l_discount")).alias("disc_p"),
        _pct(F.col("l_tax")).alias("tax_p"),
    )
    g = li.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("qty").alias("sum_qty"),
        F.sum("price_c").alias("sum_base_cents"),
        F.sum(F.col("price_c") * (100 - F.col("disc_p"))).alias("_disc4"),
        F.sum(
            F.col("price_c") * (100 - F.col("disc_p")) * (100 + F.col("tax_p"))
        ).alias("_charge6"),
        F.sum("disc_p").alias("_disc_sum"),
        F.count("*").alias("count_order"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_cents",
        (F.col("_disc4").cast("double") / 10000).alias("sum_disc_price"),
        (F.col("_charge6").cast("double") / 1000000).alias("sum_charge"),
        (F.col("sum_qty").cast("double") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_cents").cast("double") / 100 / F.col("count_order")).alias(
            "avg_price"
        ),
        (F.col("_disc_sum").cast("double") / 100 / F.col("count_order")).alias(
            "avg_disc"
        ),
        "count_order",
    )


PRICING_SUMMARY_ORACLE = """
WITH li AS (
  SELECT l_returnflag, l_linestatus,
         CAST(round(l_quantity) AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
         CAST(round(l_discount * 100) AS BIGINT) AS disc_p,
         CAST(round(l_tax * 100) AS BIGINT) AS tax_p
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
), g AS (
  SELECT l_returnflag, l_linestatus,
         CAST(sum(qty) AS BIGINT) AS sum_qty,
         CAST(sum(price_c) AS BIGINT) AS sum_base_cents,
         CAST(sum(price_c * (100 - disc_p)) AS BIGINT) AS _disc4,
         CAST(sum(price_c * (100 - disc_p) * (100 + tax_p)) AS BIGINT) AS _charge6,
         CAST(sum(disc_p) AS BIGINT) AS _disc_sum,
         count(*) AS count_order
  FROM li GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus, sum_qty, sum_base_cents,
       CAST(_disc4 AS DOUBLE) / 10000 AS sum_disc_price,
       CAST(_charge6 AS DOUBLE) / 1000000 AS sum_charge,
       CAST(sum_qty AS DOUBLE) / count_order AS avg_qty,
       CAST(sum_base_cents AS DOUBLE) / 100 / count_order AS avg_price,
       CAST(_disc_sum AS DOUBLE) / 100 / count_order AS avg_disc,
       count_order
FROM g
"""


def _pricing_decimal_agg(li: DataFrame) -> DataFrame:
    """Decimal-exact Q1 aggregation over raw lineitem columns —
    extracted so tests can feed synthetic overflow rows."""
    d = li.select(
        "l_returnflag",
        "l_linestatus",
        F.col("l_quantity").cast("decimal(20,2)").alias("qty"),
        F.col("l_extendedprice").cast("decimal(20,2)").alias("price"),
        F.col("l_discount").cast("decimal(4,2)").alias("disc"),
        F.col("l_tax").cast("decimal(4,2)").alias("tax"),
    )
    g = d.groupBy("l_returnflag", "l_linestatus").agg(
        F.sum("qty").alias("sum_qty_d"),
        F.sum("price").alias("sum_base_d"),
        F.sum(F.col("price") * (F.lit(1).cast("decimal(4,2)") - F.col("disc"))).alias(
            "disc_price_d"
        ),
        F.sum(
            F.col("price")
            * (F.lit(1).cast("decimal(4,2)") - F.col("disc"))
            * (F.lit(1).cast("decimal(4,2)") + F.col("tax"))
        ).alias("charge_d"),
        F.sum("disc").alias("disc_sum_d"),
        F.count("*").alias("count_order"),
    )
    return g.select(
        "l_returnflag",
        "l_linestatus",
        F.col("sum_qty_d").cast("double").alias("sum_qty"),
        F.col("sum_base_d").cast("double").alias("sum_base_price"),
        F.col("disc_price_d").cast("double").alias("sum_disc_price"),
        F.col("charge_d").cast("double").alias("sum_charge"),
        (F.col("sum_qty_d").cast("double") / F.col("count_order")).alias("avg_qty"),
        (F.col("sum_base_d").cast("double") / F.col("count_order")).alias(
            "avg_price"
        ),
        (F.col("disc_sum_d").cast("double") / F.col("count_order")).alias(
            "avg_disc"
        ),
        "count_order",
    )


def pricing_summary_decimal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 with DECIMAL arithmetic instead of int64 micro-units — the
    extreme-SF guard documented in SCALING.md: the cents/percent int64
    form is the fast path (one 8-byte word per measure) but its
    6-decimal charge units overflow int64 near 9.2e18, i.e. a ~9e12
    dollar group at full charge precision. The decimal form keeps the
    same exact-arithmetic contract with ~1e20 headroom on the widest
    product ((20,2)x(4,2)x(4,2) -> DECIMAL(30,6), summed into
    DECIMAL(38,6)): sums are exact decimals, cast to double only at
    the output edge, averages divided as double in both engines.
    test_operators pins (a) value agreement with pricing_summary at
    testdata SF (test_pricing_decimal_agrees_with_int64_form; the two
    quantity semantics — round vs exact decimal sum — coincide there
    because l_quantity is integral) and (b) a synthetic overflow row
    the int64 path silently CLAMPS on flowing through this path
    exactly (test_pricing_decimal_survives_int64_overflow).

    Scale: identical plan shape to pricing_summary — one scan, map-
    side partial aggregation, 6-group output; decimal measures are
    16-byte instead of 8-byte words, which is the entire cost of the
    headroom (measured in BENCH as a non-headline extra).
    """
    li = load_table(
        spark, sf_dir, "lineitem", prune=("l_shipdate", None, "1998-09-02")
    ).filter(F.col("l_shipdate") <= F.lit("1998-09-01"))
    return _pricing_decimal_agg(li)


PRICING_DECIMAL_ORACLE = """
WITH d AS (
  SELECT l_returnflag, l_linestatus,
         CAST(l_quantity AS DECIMAL(20,2)) AS qty,
         CAST(l_extendedprice AS DECIMAL(20,2)) AS price,
         CAST(l_discount AS DECIMAL(4,2)) AS disc,
         CAST(l_tax AS DECIMAL(4,2)) AS tax
  FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-01'
), g AS (
  SELECT l_returnflag, l_linestatus,
         sum(qty) AS sum_qty_d,
         sum(price) AS sum_base_d,
         sum(price * (CAST(1 AS DECIMAL(4,2)) - disc)) AS disc_price_d,
         sum(price * (CAST(1 AS DECIMAL(4,2)) - disc)
                   * (CAST(1 AS DECIMAL(4,2)) + tax)) AS charge_d,
         sum(disc) AS disc_sum_d,
         count(*) AS count_order
  FROM d GROUP BY l_returnflag, l_linestatus
)
SELECT l_returnflag, l_linestatus,
       CAST(sum_qty_d AS DOUBLE) AS sum_qty,
       CAST(sum_base_d AS DOUBLE) AS sum_base_price,
       CAST(disc_price_d AS DOUBLE) AS sum_disc_price,
       CAST(charge_d AS DOUBLE) AS sum_charge,
       CAST(sum_qty_d AS DOUBLE) / count_order AS avg_qty,
       CAST(sum_base_d AS DOUBLE) / count_order AS avg_price,
       CAST(disc_sum_d AS DOUBLE) / count_order AS avg_disc,
       count_order
FROM g
"""


def regional_revenue(
    spark: SparkSession, sf_dir: str, runtime_filter: str | None = None
) -> DataFrame:
    """TPC-H Q5 shape: selective dim filter drives the fact joins.

    Join ORDER is the scale story: the ``r_name IN (...)`` cut (~40% of
    customers) is applied FIRST — region⋈nation (tiny) broadcast into
    customer, the filtered customer broadcast/shuffle-joined into
    orders — so by the time lineitem (the 4×-bigger fact) joins, the
    build side is already pruned to ~40% of orders. The old shape
    (lineitem⋈orders first, dims last) shuffled 100% of both facts and
    then discarded 60% of the rows; at 100 TB that unfiltered
    fact-fact shuffle is the whole query cost.

    ``runtime_filter="bloom"`` additionally prunes the lineitem SCAN
    with an explicit bloom built from the filtered order keys
    (operators/runtime_filter.py) — Spark's own ``InjectRuntimeFilter``
    cannot see this selectivity because it arrives through a join, not
    a filter-over-scan on the creation side. Off by default: at bench
    scale (sf0.1) the bloom's extra keys-plan materialization costs
    more than the ~60% scan cut saves; at 100 TB the trade inverts
    (the bloom is a fixed num_bits/8 bytes while the scan saving grows
    with the data). test_plan_quality proves the probe lands below the
    fact-fact join and preserves results exactly.
    """
    # Join-then-aggregate (no order-grain pre-agg): the pre-agg's
    # groupBy(orderkey) shuffles the same row volume the join shuffle
    # would move anyway — it only adds a stage. Map-side partial
    # aggregation inside the FINAL groupBy still combines before that
    # shuffle, so the scale path loses nothing.
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        (
            cents(F.col("l_extendedprice")) * (100 - _pct(F.col("l_discount")))
        ).alias("rev4"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_regionkey", "n_name"
    )
    reg = load_table(spark, sf_dir, "region").filter(
        F.col("r_name").isin("ASIA", "EUROPE")
    )
    dim = nat.join(reg, nat.n_regionkey == reg.r_regionkey).select(
        "n_nationkey", "n_name", "r_name"
    )
    cust_f = cust.join(F.broadcast(dim), cust.c_nationkey == dim.n_nationkey).select(
        "c_custkey", "n_name", "r_name"
    )
    # shuffle_hash, build side cust_f: the filtered customer keys are
    # small per-partition at any scale (no sort of orders needed); the
    # static planner otherwise broadcasts ORDERS (BuildLeft) and
    # streams tiny customer through one task.
    ord_f = orders.join(
        cust_f.hint("shuffle_hash"), orders.o_custkey == cust_f.c_custkey
    ).select("o_orderkey", "o_year", "n_name", "r_name")
    if runtime_filter == "bloom":
        from firefox_public_data_report_etl_spark.operators.runtime_filter import (
            bloom_prune,
        )

        li = bloom_prune(li, "l_orderkey", ord_f, "o_orderkey")
    elif runtime_filter == "semi":
        from firefox_public_data_report_etl_spark.operators.runtime_filter import (
            semi_prune,
        )

        li = semi_prune(li, "l_orderkey", ord_f, "o_orderkey")
    # shuffle_hash on the fact join, build side ord_f: at toy SFs the
    # static planner would otherwise BROADCAST lineitem's 3-column scan
    # (one single-threaded build chain — wrong at every scale), and
    # sort-merge pays two fact-sized sorts the hash join skips (~15%
    # at sf0.1, measured against the merge hint). Scale-safe build:
    # ord_f is the ~40% filtered orders side, orderkey-unique, so with
    # AQE's advisory partition sizing each per-partition hash table is
    # bounded (~64 MB) and the probe side (≤7 lineitems per key) has
    # no hot keys. ord_f's shuffle carries only the filtered orders;
    # lineitem shuffles once, nothing re-shuffles.
    df = li.join(ord_f.hint("shuffle_hash"), li.l_orderkey == ord_f.o_orderkey)
    return (
        df.groupBy("r_name", "n_name", "o_year")
        .agg(F.sum("rev4").alias("rev4"))
        .select(
            "r_name",
            "n_name",
            "o_year",
            (F.col("rev4").cast("double") / 10000).alias("revenue"),
        )
    )


REGIONAL_REVENUE_ORACLE = """
SELECT r_name, n_name, CAST(year(o_orderdate) AS BIGINT) AS o_year,
       CAST(CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                     * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT)
            AS DOUBLE) / 10000 AS revenue
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN nation   ON c_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE r_name IN ('ASIA', 'EUROPE')
GROUP BY r_name, n_name, o_year
"""


def late_ship_priority(
    spark: SparkSession, sf_dir: str, strategy: str = "agg"
) -> DataFrame:
    """TPC-H Q4 shape: EXISTS over a correlated inequality (an operator
    the reference never needs but a complete engine must have).

    Two strategies, agreement-tested:

    - ``"agg"`` (default): the inequality EXISTS is rewritten as a
      per-key running extreme — ``EXISTS(l: l_shipdate > X)`` is
      exactly ``MAX(l_shipdate) > X`` — so lineitem collapses to one
      row per orderkey WITH map-side partial aggregation BEFORE any
      join. At 100 TB this shuffles ~4× fewer rows than a semi join
      (which must move every qualifying lineitem pair), and the
      equi-join that follows runs on already-aggregated data. ~20%
      faster at sf0.1 too (measured, interleaved best-of-5).
    - ``"semi"``: the literal left-semi join with the non-equi
      condition — the canonical EXISTS plan; kept as the operator
      showcase and correctness cross-check.

    Both scans carry the DERIVED predicate l_shipdate > 1996-03-01
    (implied by o_orderdate >= 1996-01-01 plus the +60-day condition) —
    Catalyst cannot infer it through the non-equi/aggregated
    relationship, and stating it lets the parquet scan row-group-prune
    the probe side before the shuffle.
    """
    orders = load_table(
        spark, sf_dir, "orders", prune=("o_orderdate", "1996-01-01", "1997-01-01")
    ).filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01"))
        & (F.col("o_orderdate") < F.lit("1997-01-01"))
    )
    li = load_table(
        spark, sf_dir, "lineitem", prune=("l_shipdate", "1996-03-01", None)
    ).filter(F.col("l_shipdate") > F.lit("1996-03-01"))
    if strategy == "semi":
        cond = (li.l_orderkey == orders.o_orderkey) & (
            li.l_shipdate > orders.o_orderdate + F.expr("interval 60 days")
        )
        matched = orders.join(li, cond, "left_semi")
    else:
        li_max = li.groupBy("l_orderkey").agg(
            F.max("l_shipdate").alias("max_ship")
        )
        matched = orders.join(
            li_max, orders.o_orderkey == li_max.l_orderkey
        ).filter(
            F.col("max_ship") > F.col("o_orderdate") + F.expr("interval 60 days")
        )
    return matched.groupBy("o_orderpriority").agg(
        F.count("*").alias("order_count")
    )


LATE_SHIP_PRIORITY_ORACLE = """
SELECT o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
  AND EXISTS (SELECT 1 FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o_orderpriority
"""


def top_customers_per_nation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13/O5: per-group top-K via window row_number with deterministic
    tie-break (revenue desc, custkey asc) — the reference's
    ``ARRAY_AGG(... ORDER BY ratio DESC LIMIT 10)`` in flat form.

    Scale: pre-aggregate revenue per customer BEFORE ranking (shrinks
    the window input from orders-sized to customers-sized), window
    shuffles on the 25-key nation partitioning.
    """
    orders = load_table(spark, sf_dir, "orders").select(
        "o_custkey", cents(F.col("o_totalprice")).alias("total_c")
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_name", "c_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    rev = (
        orders.groupBy("o_custkey")
        .agg(F.sum("total_c").alias("rev_cents"))
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nat), cust.c_nationkey == nat.n_nationkey)
    )
    top = top_k_per_group(
        rev,
        ["n_name"],
        [F.desc("rev_cents"), F.asc("c_custkey")],
        k=3,
    )
    return top.select(
        "n_name", "c_name", "rev_cents", F.col("rank").cast("long").alias("rank")
    )


TOP_CUSTOMERS_ORACLE = """
WITH rev AS (
  SELECT n_name, c_name, c_custkey,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT) AS rev_cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY n_name, c_name, c_custkey
), ranked AS (
  SELECT n_name, c_name, rev_cents,
         CAST(row_number() OVER (PARTITION BY n_name
                                 ORDER BY rev_cents DESC, c_custkey) AS BIGINT) AS rank
  FROM rev
)
SELECT n_name, c_name, rev_cents, rank FROM ranked WHERE rank <= 3
"""


def parts_never_ordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NOT EXISTS → left-anti join: parts with no lineitem at all,
    counted per brand (the anti-join shape absent from the reference
    but required for engine completeness).

    Scale: anti join shuffles on partkey only; the probe side is
    column-pruned to the join key.
    """
    part = load_table(spark, sf_dir, "part")
    li = load_table(spark, sf_dir, "lineitem").select("l_partkey")
    return (
        part.join(li, part.p_partkey == li.l_partkey, "left_anti")
        .groupBy("p_brand")
        .agg(F.count("*").alias("unsold_parts"))
    )


PARTS_NEVER_ORDERED_ORACLE = """
SELECT p_brand, count(*) AS unsold_parts
FROM part p
WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_partkey = p.p_partkey)
GROUP BY p_brand
"""


# TPC-H Q17 shape: revenue of line items below half their part's
# average quantity (exact cross-multiplication, no float average).
# The Spark side is fused into plans/shapes.py kpi_snapshot, whose
# oracle embeds this SQL.
SMALL_QTY_REVENUE_ORACLE = """
WITH li AS (
  SELECT l_partkey,
         CAST(round(l_quantity) AS BIGINT) AS qty,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c
  FROM lineitem
), per_part AS (
  SELECT l_partkey, CAST(sum(qty) AS BIGINT) AS qty_sum, count(*) AS qty_n
  FROM li GROUP BY l_partkey
)
SELECT count(*) AS n_items,
       CAST(CAST(sum(price_c) AS BIGINT) AS DOUBLE) / 100 AS revenue
FROM li JOIN per_part USING (l_partkey)
WHERE qty * qty_n * 2 < qty_sum
"""


def lineitem_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over (returnflag, linestatus): all four grouping levels in
    one pass (Expand + single shuffle — the same physical shape as
    GROUPING SETS in `hardware_dims_grouping_sets`, at the 2^k
    extreme). grouping_id disambiguates rolled-up NULLs from data
    NULLs, matching the oracle's GROUPING() arithmetic.

    Also carries the TPC-H Q12 shape as cube measures: lineitem joins
    orders' priority class and counts high- vs low-priority lines per
    cell — the (linestatus, gid=2) rollup rows ARE Q12's answer, so
    the two-way conditional-count operator rides the same single
    Expand shuffle instead of its own registry entry."""
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.col("o_orderpriority").isin("1-URGENT", "2-HIGH").alias("is_high"),
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_returnflag", "l_linestatus", "l_quantity",
        cents(F.col("l_extendedprice")).alias("price_cents"),
    )
    j = li.join(orders, li.l_orderkey == orders.o_orderkey)
    return (
        j.cube("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").cast("long").alias("sum_qty"),
            F.sum("price_cents").alias("sum_price_cents"),
            F.count("*").alias("n"),
            F.count(F.when(F.col("is_high"), True)).alias("high_line_count"),
            F.count(F.when(~F.col("is_high"), True)).alias("low_line_count"),
            F.grouping_id().cast("long").alias("gid"),
        )
    )


LINEITEM_CUBE_ORACLE = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(l_quantity) AS BIGINT) AS sum_qty,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS BIGINT)
         AS sum_price_cents,
       CAST(count(*) AS BIGINT) AS n,
       count(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH') THEN 1 END)
         AS high_line_count,
       count(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH') THEN 1 END)
         AS low_line_count,
       CAST(2 * grouping(l_returnflag) + grouping(l_linestatus) AS BIGINT) AS gid
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
GROUP BY CUBE (l_returnflag, l_linestatus)
"""


def big_order_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18 shape: IN-subquery over a grouped HAVING — orders
    whose total quantity exceeds 300, with their customers.

    Spark-first: the subquery is a semi-joinable aggregate, not a
    correlated rewrite — lineitem aggregates to order grain once
    (map-side combine), the HAVING filter collapses it to the tiny
    qualifying set, and THAT is broadcast back against orders; the
    customer join shuffles only qualifying orders. At 100 TB the
    qualifying set stays broadcast-sized by construction (HAVING cuts
    to the extreme tail)."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey", F.floor(F.col("l_quantity") + F.lit(0.5)).cast("long").alias("qty")
    )
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum("qty").alias("total_qty"))
        .filter(F.col("total_qty") > 300)
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_mktsegment")
    return (
        orders.join(F.broadcast(big), orders.o_orderkey == big.l_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .select(
            "c_custkey",
            "c_mktsegment",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "total_qty",
        )
    )


BIG_ORDER_CUSTOMERS_ORACLE = """
SELECT c_custkey, c_mktsegment, o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(total_qty AS BIGINT) AS total_qty
FROM orders
JOIN (SELECT l_orderkey, CAST(sum(CAST(round(l_quantity) AS BIGINT)) AS BIGINT) AS total_qty
      FROM lineitem GROUP BY l_orderkey
      HAVING sum(CAST(round(l_quantity) AS BIGINT)) > 300) big
  ON o_orderkey = big.l_orderkey
JOIN customer ON o_custkey = c_custkey
"""


def brand_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: distinct-supplier counts per brand with a
    NOT-IN exclusion subquery (suppliers in bad standing), joined with
    the per-brand NOT-LIKE blocklist profile (A10/F10 — the 12-pattern
    addon-blocklist analog from plans/hardware.py) so both per-brand
    exclusion shapes share one registry entry at one grain.

    Spark-first: NOT IN over a non-nullable key is a left-anti join;
    the exclusion set (negative-balance suppliers) is tiny and
    broadcast. The part join is shuffle-on-partkey; the final distinct
    count is two-phase (partial per partition). The blocklist branch
    is a 25-row aggregate — the join back is broadcast."""
    from firefox_public_data_report_etl_spark.plans.hardware import (
        part_blocklist_ratio,
    )

    li = load_table(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    bad = (
        load_table(spark, sf_dir, "supplier")
        .filter(F.col("s_acctbal") < 0)
        .select(F.col("s_suppkey").alias("bad_key"))
    )
    kept = li.join(
        F.broadcast(bad), li.l_suppkey == F.col("bad_key"), "left_anti"
    )
    variety = (
        kept.join(part, kept.l_partkey == part.p_partkey)
        .groupBy("p_brand")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
    )
    return variety.join(
        F.broadcast(part_blocklist_ratio(spark, sf_dir)), "p_brand"
    )


BRAND_SUPPLIER_VARIETY_ORACLE = """
WITH variety AS (
  SELECT p_brand, CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
  GROUP BY p_brand
),
block AS (
  SELECT p_brand,
         count(DISTINCT CASE WHEN {block_pred} THEN p_partkey END) AS ok_parts,
         count(DISTINCT p_partkey) AS all_parts,
         CAST(count(DISTINCT CASE WHEN {block_pred} THEN p_partkey END) AS DOUBLE)
           / count(DISTINCT p_partkey) AS ok_ratio
  FROM part
  GROUP BY p_brand
)
SELECT p_brand, supplier_cnt, ok_parts, all_parts, ok_ratio
FROM variety JOIN block USING (p_brand)
"""


def nation_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8 shape: market share — the fraction of a region's
    customer revenue supplied by one nation, per order year. Two
    independent dimension paths join the same fact row (customer's
    nation via orders, supplier's nation directly), and the share is a
    conditional-sum ratio.

    Spark-first: both nation dims broadcast (aliased independently);
    lineitem⋈orders shuffles on orderkey, then custkey — the same
    two-fact-shuffle skeleton as regional_revenue; supplier is
    shuffle-joined on suppkey before that. One final tiny agg per
    year. Exact integer revenue; ONE final division."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        (cents(F.col("l_extendedprice")) * (100 - _pct(F.col("l_discount")))).alias(
            "rev4"
        ),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", F.year("o_orderdate").cast("long").alias("o_year")
    )
    cust = load_table(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    supp = load_table(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    cnat = (
        load_table(spark, sf_dir, "nation")
        .select("n_nationkey", "n_regionkey")
        .alias("cnat")
    )
    reg = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "EUROPE")
    snat = (
        load_table(spark, sf_dir, "nation")
        .select(F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("sn_name"))
        .alias("snat")
    )
    df = (
        li.join(supp, li.l_suppkey == supp.s_suppkey)
        .join(F.broadcast(snat), F.col("s_nationkey") == F.col("sn_key"))
        .join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(cnat), cust.c_nationkey == F.col("cnat.n_nationkey"))
        .join(F.broadcast(reg), F.col("cnat.n_regionkey") == reg.r_regionkey)
    )
    g = df.groupBy("o_year").agg(
        F.sum(F.when(F.col("sn_name") == "FRANCE", F.col("rev4"))).alias("fr4"),
        F.sum("rev4").alias("all4"),
    )
    return g.select(
        "o_year",
        (F.coalesce(F.col("fr4"), F.lit(0)).cast("double") / F.col("all4")).alias(
            "mkt_share"
        ),
        (F.col("all4").cast("double") / 10000).alias("region_revenue"),
    )


NATION_MARKET_SHARE_ORACLE = """
WITH f AS (
  SELECT CAST(year(o_orderdate) AS BIGINT) AS o_year,
         sn.n_name AS sn_name,
         CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev4
  FROM lineitem
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey
  WHERE r_name = 'EUROPE'
)
SELECT o_year,
       CAST(coalesce(CAST(sum(CASE WHEN sn_name = 'FRANCE' THEN rev4 END) AS BIGINT), 0) AS DOUBLE)
         / CAST(sum(rev4) AS BIGINT) AS mkt_share,
       CAST(CAST(sum(rev4) AS BIGINT) AS DOUBLE) / 10000 AS region_revenue
FROM f GROUP BY o_year
"""


def unshipped_orders_top10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3 shape: top-10 highest-revenue not-yet-shipped orders
    for one market segment — filter-join-agg-ORDER-LIMIT with a
    deterministic tie-break.

    Scale: customer filtered then shuffle-joined on custkey; lineitem
    pruned by the shipdate bound AT THE SCAN; the global top-10 is a
    TakeOrderedAndProject (per-partition heap, driver merges 10/part,
    no full sort)."""
    d = "1995-03-15"
    cust = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    ).select("c_custkey")
    orders = load_table(
        spark, sf_dir, "orders", prune=("o_orderdate", None, "1995-03-16")
    ).filter(F.col("o_orderdate") < F.lit(d)).select(
        "o_orderkey", "o_custkey", "o_orderdate"
    )
    li = load_table(
        spark, sf_dir, "lineitem", prune=("l_shipdate", d, None)
    ).filter(F.col("l_shipdate") > F.lit(d)).select(
        "l_orderkey",
        (cents(F.col("l_extendedprice")) * (100 - _pct(F.col("l_discount")))).alias(
            "rev4"
        ),
    )
    j = orders.join(cust, orders.o_custkey == cust.c_custkey).join(
        li, orders.o_orderkey == li.l_orderkey
    )
    g = j.groupBy("o_orderkey", "o_orderdate").agg(F.sum("rev4").alias("rev4"))
    top = (
        g.select(
            "o_orderkey",
            (F.col("rev4").cast("double") / 10000).alias("revenue"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderdate"), F.asc("o_orderkey"))
        .limit(10)
    )
    # O1-O4: the sort order is materialized as a position column so the
    # order-insensitive oracle compare still proves it. The window runs
    # over the ALREADY-LIMITED 10 rows (a single trivial partition) so
    # the global plan keeps TakeOrderedAndProject — never a full sort.
    from pyspark.sql import Window

    w = Window.orderBy(
        F.desc("revenue"), F.asc("o_orderdate"), F.asc("o_orderkey")
    )
    return top.withColumn("position", F.row_number().over(w).cast("long"))


UNSHIPPED_TOP10_ORACLE = """
WITH g AS (
  SELECT o_orderkey, o_orderdate,
         CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                  * (100 - CAST(round(l_discount * 100) AS BIGINT))) AS BIGINT) AS rev4
  FROM customer JOIN orders ON c_custkey = o_custkey
  JOIN lineitem ON o_orderkey = l_orderkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1995-03-15'
    AND l_shipdate > TIMESTAMP '1995-03-15'
  GROUP BY o_orderkey, o_orderdate
),
r AS (
  SELECT o_orderkey, CAST(rev4 AS DOUBLE) / 10000 AS revenue,
         strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
         CAST(row_number() OVER (ORDER BY rev4 DESC, o_orderdate ASC, o_orderkey ASC) AS BIGINT)
           AS position
  FROM g
)
SELECT o_orderkey, revenue, o_orderdate, position FROM r WHERE position <= 10
"""


def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14 shape: promo-part revenue share for one month — a
    fact⋈dim join feeding a conditional-sum ratio. Scale: lineitem
    pruned to the month at the scan; part join shuffles on partkey
    (part is not broadcast: at real SF it is fact-sized); the ratio is
    exact ints with ONE division."""
    li = load_table(
        spark, sf_dir, "lineitem", prune=("l_shipdate", "1995-09-01", "1995-10-01")
    ).filter(
        (F.col("l_shipdate") >= F.lit("1995-09-01"))
        & (F.col("l_shipdate") < F.lit("1995-10-01"))
    ).select(
        "l_partkey",
        (cents(F.col("l_extendedprice")) * (100 - _pct(F.col("l_discount")))).alias(
            "rev4"
        ),
    )
    part = load_table(spark, sf_dir, "part").select(
        "p_partkey", F.col("p_type").startswith("PROMO").alias("is_promo")
    )
    j = li.join(part, li.l_partkey == part.p_partkey)
    return j.agg(
        F.sum(F.when(F.col("is_promo"), F.col("rev4")).otherwise(F.lit(0))).alias(
            "promo_rev4"
        ),
        F.sum("rev4").alias("total_rev4"),
        (
            F.lit(100.0)
            * F.sum(F.when(F.col("is_promo"), F.col("rev4")).otherwise(F.lit(0))).cast(
                "double"
            )
            / F.sum("rev4")
        ).alias("promo_pct"),
    )


PROMO_SHARE_ORACLE = """
WITH j AS (
  SELECT CAST(round(l_extendedprice * 100) AS BIGINT)
           * (100 - CAST(round(l_discount * 100) AS BIGINT)) AS rev4,
         p_type LIKE 'PROMO%' AS is_promo
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1995-09-01' AND l_shipdate < TIMESTAMP '1995-10-01'
)
SELECT CAST(sum(CASE WHEN is_promo THEN rev4 ELSE 0 END) AS BIGINT) AS promo_rev4,
       CAST(sum(rev4) AS BIGINT) AS total_rev4,
       100.0 * CAST(CAST(sum(CASE WHEN is_promo THEN rev4 ELSE 0 END) AS BIGINT) AS DOUBLE)
         / CAST(sum(rev4) AS BIGINT) AS promo_pct
FROM j
"""


def customer_order_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13 shape (reference parity is the SHAPE, not the query —
    dbgen's comment-filter predicate has no analog here): distribution
    of customers by order count, INCLUDING zero-order customers via
    the left join — the right-skewed histogram that drives engagement
    reporting, where the naive inner-join form silently drops the
    (usually largest) zero bucket.

    Scale: one shuffle join customer←orders on custkey (AQE picks
    broadcast vs shuffle by dim size), one custkey-grain count that
    reuses the join partitioning, then a histogram aggregate over
    order-count keys (bounded by max orders per customer — dozens)."""
    c = load_table(spark, sf_dir, "customer").select("c_custkey")
    o = load_table(spark, sf_dir, "orders").select("o_custkey")
    per_cust = (
        c.join(o, c.c_custkey == o.o_custkey, "left")
        .groupBy("c_custkey")
        .agg(F.count("o_custkey").alias("c_count"))
    )
    return (
        per_cust.groupBy("c_count")
        .agg(F.count("*").alias("custdist"))
    )


CUSTOMER_ORDER_HISTOGRAM_ORACLE = """
WITH per_cust AS (
  SELECT c.c_custkey, CAST(count(o.o_custkey) AS BIGINT) AS c_count
  FROM customer c LEFT JOIN orders o ON c.c_custkey = o.o_custkey
  GROUP BY c.c_custkey
)
SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY c_count
"""


def nation_trade_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 generalized to the full matrix: discounted revenue
    flow between every (customer nation, supplier nation) pair — two
    independent dimension legs hanging off one fact scan (lineitem →
    orders → customer → nation on one side, lineitem → supplier →
    nation on the other). Revenue is exact integer micro-cents
    (price_c · (10000 − disc_bp), the pricing_summary contract) so
    the matrix hash-matches.

    Scale: ONE pass over lineitem; both dimension legs are broadcast
    chains (nation/supplier/customer are dims — customer joins
    through orders, the one fact-fact shuffle), and the final
    aggregate is |nations|² cells. This is the join shape star-schema
    optimizers are built around; AQE picks broadcast for every dim
    leg without hints."""
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_orderkey",
        "l_suppkey",
        cents(F.col("l_extendedprice")).alias("price_c"),
        F.floor(F.col("l_discount") * 10000 + F.lit(0.5))
        .cast("long")
        .alias("disc_bp"),
    )
    orders = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey"
    )
    cust = load_table(spark, sf_dir, "customer").select(
        "c_custkey", "c_nationkey"
    )
    supp = load_table(spark, sf_dir, "supplier").select(
        "s_suppkey", "s_nationkey"
    )
    nat = load_table(spark, sf_dir, "nation").select(
        "n_nationkey", "n_name"
    )
    rev_uc = (F.col("price_c") * (F.lit(10000) - F.col("disc_bp"))).alias(
        "rev_uc"
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, orders.o_custkey == cust.c_custkey)
        .join(
            nat.select(
                F.col("n_nationkey").alias("cn_key"),
                F.col("n_name").alias("cust_nation"),
            ),
            F.col("c_nationkey") == F.col("cn_key"),
        )
        .join(supp, li.l_suppkey == supp.s_suppkey)
        .join(
            nat.select(
                F.col("n_nationkey").alias("sn_key"),
                F.col("n_name").alias("supp_nation"),
            ),
            F.col("s_nationkey") == F.col("sn_key"),
        )
        .select("cust_nation", "supp_nation", rev_uc)
    )
    return j.groupBy("cust_nation", "supp_nation").agg(
        F.count("*").alias("n_items"),
        F.sum("rev_uc").alias("revenue_ucents"),
    )


RFM_EPS = 0.01
RFM_ACC = 10_000


def customer_rfm_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation audit — recency (days since last order),
    frequency (order count), monetary (exact lifetime cents) per
    customer, with QUARTILE cutoffs from ``approx_percentile``
    (sketch-class, no global sort — the 100 TB form; an ntile would
    be one WindowExec task over every customer). Output is
    dimension-grain: exact median (bit-matched linear interpolation,
    the value_percentiles contract) plus a rank-tolerance boolean per
    quartile cutoff — the sketch value's empirical CDF position must
    bracket the target quantile within ±{RFM_EPS}; the le/lt interval
    form is tie-exact, which matters for the frequency dimension
    (small-integer order counts put real mass AT the cut value).

    Customers with zero orders are out of scope by construction
    (RFM is defined over purchasers; the zero bucket lives in
    customer_order_histogram).

    Scale: one orders scan to customer grain (one shuffle), a 3x
    melt of the customer-grain table, one aggregate for cutoffs and
    one for the rank positions — scalar state between passes.

    Round 12 (guide §2.4/§5): the reference date now derives from the
    CUSTOMER-grain table (max of per-customer last-order dates ==
    max order date), so the orders relation is scanned once instead
    of twice, and the customer-grain table is persisted for the
    query's duration — its two consumers (the cutoff aggregate and
    the rank-position aggregate) each re-ran the fact scan + shuffle
    otherwise. Same values bit-for-bit; released after the final
    aggregate materializes (caller-owned _probe_persisted)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_custkey",
        "o_orderdate",
        cents(F.col("o_totalprice")).alias("c"),
    )
    base = (
        o.groupBy("o_custkey")
        .agg(
            F.max("o_orderdate").alias("last_o"),
            F.count("*").alias("frequency"),
            F.sum("c").alias("monetary"),
        )
        .persist()
    )
    ref = base.agg(F.max("last_o").alias("ref_date"))
    per_cust = base.crossJoin(F.broadcast(ref)).select(
        "o_custkey",
        F.datediff(F.col("ref_date"), F.col("last_o"))
        .cast("long")
        .alias("recency"),
        "frequency",
        "monetary",
    )
    melt = per_cust.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("recency").alias("dim"),
                    F.col("recency").alias("v"),
                ),
                F.struct(
                    F.lit("frequency").alias("dim"),
                    F.col("frequency").alias("v"),
                ),
                F.struct(
                    F.lit("monetary").alias("dim"),
                    F.col("monetary").alias("v"),
                ),
            )
        ).alias("r")
    ).select("r.*")
    g = melt.groupBy("dim").agg(
        F.expr("percentile(v, 0.5D)").alias("p50"),
        F.expr(
            "approx_percentile(v, array(0.25D, 0.5D, 0.75D), "
            f"{RFM_ACC})"
        ).alias("a"),
    )
    agg_cols = [
        F.first("p50").alias("p50"),
        F.count("*").alias("n_customers"),
    ]
    for k in (1, 2, 3):
        cut = F.element_at("a", k)
        agg_cols.append(
            F.count(F.when(F.col("v") <= cut, True)).alias(f"_le{k}")
        )
        agg_cols.append(
            F.count(F.when(F.col("v") < cut, True)).alias(f"_lt{k}")
        )
    ranked = melt.join(F.broadcast(g), "dim").groupBy("dim").agg(*agg_cols)
    n = F.col("n_customers").cast("double")
    out_cols = ["dim", "n_customers", "p50"]
    for k, p in ((1, 0.25), (2, 0.5), (3, 0.75)):
        out_cols.append(
            (
                (F.col(f"_le{k}") / n >= p - RFM_EPS)
                & (F.col(f"_lt{k}") / n <= p + RFM_EPS)
            ).alias(f"q{k}_within_tol")
        )
    out = ranked.select(*out_cols)
    out._probe_persisted = [base]
    return out


CUSTOMER_RFM_ORACLE = """
WITH o AS (
  SELECT o_custkey, o_orderdate,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
),
ref AS (SELECT max(o_orderdate) AS ref_date FROM o),
pc AS (
  SELECT o_custkey,
         CAST(date_diff('day', max(o_orderdate),
                        (SELECT ref_date FROM ref)) AS BIGINT) AS recency,
         CAST(count(*) AS BIGINT) AS frequency,
         CAST(sum(c) AS BIGINT) AS monetary
  FROM o GROUP BY o_custkey
),
melt AS (
  SELECT 'recency' AS dim, recency AS v FROM pc
  UNION ALL SELECT 'frequency', frequency FROM pc
  UNION ALL SELECT 'monetary', monetary FROM pc
)
SELECT dim, CAST(count(*) AS BIGINT) AS n_customers,
       quantile_cont(v, 0.5) AS p50,
       TRUE AS q1_within_tol, TRUE AS q2_within_tol,
       TRUE AS q3_within_tol
FROM melt GROUP BY dim
"""


NATION_TRADE_MATRIX_ORACLE = """
WITH li AS (
  SELECT l_orderkey, l_suppkey,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS price_c,
         CAST(round(l_discount * 10000) AS BIGINT) AS disc_bp
  FROM lineitem
)
SELECT cn.n_name AS cust_nation, sn.n_name AS supp_nation,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(li.price_c * (10000 - li.disc_bp)) AS BIGINT)
         AS revenue_ucents
FROM li
JOIN orders o ON li.l_orderkey = o.o_orderkey
JOIN customer c ON o.o_custkey = c.c_custkey
JOIN nation cn ON c.c_nationkey = cn.n_nationkey
JOIN supplier s ON li.l_suppkey = s.s_suppkey
JOIN nation sn ON s.s_nationkey = sn.n_nationkey
GROUP BY cn.n_name, sn.n_name
"""


def _hw_block_pred() -> str:
    from firefox_public_data_report_etl_spark.plans.hardware import _BLOCK_PRED

    return _BLOCK_PRED


QUERIES = {
    "lineitem_cube": lineitem_cube,
    "pricing_summary": pricing_summary,
    "pricing_summary_decimal": pricing_summary_decimal,
    "regional_revenue": regional_revenue,
    "late_ship_priority": late_ship_priority,
    "top_customers_per_nation": top_customers_per_nation,
    "parts_never_ordered": parts_never_ordered,
    "big_order_customers": big_order_customers,
    "brand_supplier_variety": brand_supplier_variety,
    "nation_market_share": nation_market_share,
    "unshipped_orders_top10": unshipped_orders_top10,
    "customer_order_histogram": customer_order_histogram,
    "nation_trade_matrix": nation_trade_matrix,
    "customer_rfm_quartiles": customer_rfm_quartiles,
}

ORACLES = {
    "customer_order_histogram": CUSTOMER_ORDER_HISTOGRAM_ORACLE,
    "nation_trade_matrix": NATION_TRADE_MATRIX_ORACLE,
    "customer_rfm_quartiles": CUSTOMER_RFM_ORACLE,
    "lineitem_cube": LINEITEM_CUBE_ORACLE,
    "pricing_summary": PRICING_SUMMARY_ORACLE,
    "pricing_summary_decimal": PRICING_DECIMAL_ORACLE,
    "regional_revenue": REGIONAL_REVENUE_ORACLE,
    "late_ship_priority": LATE_SHIP_PRIORITY_ORACLE,
    "top_customers_per_nation": TOP_CUSTOMERS_ORACLE,
    "parts_never_ordered": PARTS_NEVER_ORDERED_ORACLE,
    "big_order_customers": BIG_ORDER_CUSTOMERS_ORACLE,
    "brand_supplier_variety": BRAND_SUPPLIER_VARIETY_ORACLE.format(
        block_pred=_hw_block_pred()
    ),
    "nation_market_share": NATION_MARKET_SHARE_ORACLE,
    "unshipped_orders_top10": UNSHIPPED_TOP10_ORACLE,
}
