"""Classic decision-support query shapes (TPC-H Q1/Q3/Q6/Q14/Q18),
adapted to the driver's synthetic tables.

These exercise the canonical OLAP plan shapes end-to-end — wide
aggregate batteries, star joins with selective dim filters, tight
scan-filter-agg pipelines, conditional ratios, and having-filtered
semi-aggregates — the workload the reference never had but any engine
claiming "analytics" must run well (SURVEY.md §2.6 "absent" rows).

Date handling: the tables carry parquet TIMESTAMP(isAdjustedToUTC=
false), which Spark reads as TIMESTAMP_NTZ and DuckDB as naive
TIMESTAMP — literal comparisons are timezone-proof on both engines (no
session-TZ dependence anywhere).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.numeric import (
    mean_quantized,
    mean_quantized_sql,
    to_fixed,
    to_fixed_sql,
)
from .registry import _t, query


def _ntz(lit: str):
    return F.expr(f"TIMESTAMP_NTZ '{lit}'")


@query(
    "tpch_q1_pricing_summary",
    oracle=f"""
    WITH l AS (SELECT l_returnflag, l_linestatus,
                      CAST(l_quantity AS DECIMAL(15,2)) AS qty,
                      CAST(l_extendedprice AS DECIMAL(15,2)) AS ep,
                      CAST(l_discount AS DECIMAL(5,2)) AS disc,
                      CAST(l_tax AS DECIMAL(5,2)) AS tax
               FROM lineitem
               WHERE l_shipdate <= TIMESTAMP '1998-09-02')
    SELECT l_returnflag, l_linestatus,
           CAST(round(sum(qty), 2) AS DOUBLE) AS sum_qty,
           CAST(round(sum(ep), 2) AS DOUBLE) AS sum_base_price,
           CAST(round(sum(ep * (1 - disc)), 2) AS DOUBLE) AS sum_disc_price,
           CAST(round(sum(ep * (1 - disc) * (1 + tax)), 2) AS DOUBLE) AS sum_charge,
           {mean_quantized_sql("CAST(sum(qty) * 100 AS HUGEINT)", "100 * count(*)")} AS avg_qty,
           {mean_quantized_sql("CAST(sum(ep) * 100 AS HUGEINT)", "100 * count(*)", 10_000)} AS avg_price,
           {mean_quantized_sql("CAST(sum(disc) * 100 AS HUGEINT)", "100 * count(*)")} AS avg_disc,
           CAST(count(*) AS BIGINT) AS count_order
    FROM l GROUP BY l_returnflag, l_linestatus
    """,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1: the wide aggregate battery.  One pushed-down scan (NTZ
    shipdate literal, TZ-proof), map-side partial aggregation, and
    EXACT order-free money math — a double sum re-ordered by a
    different partitioning once flipped sum_disc_price's last cent at
    the round(2) boundary (caught by the row-order invariance sweep).

    Money math is int64 CENTS, not per-row DECIMAL (which fixed the
    cent flip in r07 but cost 3× — decimal(21,4)/decimal(27,6)
    products leave the compact-long representation and allocate
    BigDecimal per row).  The stored doubles are exact 2-dp values, so
    ``to_fixed(x, 100)`` = floor(x·100 + ½) recovers the exact integer
    cents in pure codegen arithmetic (Math.floor, no BigDecimal — F.round on double
    goes through BigDecimal.setScale; floor is also sign-correct,
    where a cast's truncation toward zero would be off by one on every
    negative).  Per-row products then stay int64: disc_price in
    1e-4 units ≤ ~1.1e9, charge in 1e-6 units ≤ ~1.2e11.

    Overflow safety is BY CONSTRUCTION, not by assumption (same
    documented-headroom discipline as hash59's): partial sums group on
    ``shiftright(monotonically_increasing_id(), 25)``, which chunks
    every scan partition into ≤2^25-row runs (the id is
    pid·2^33 + rownum, so the shift preserves the partition in the
    high bits), bounding each partial long sum by
    2^25 · 1.2e11 ≈ 4.0e18 < 2^63 (2.3× margin) regardless of input
    split sizing.  The final merge sums the per-chunk partials as
    decimal(38,0) — exact at any total — over a relation of
    ~6·ceil(rows/2^25) rows (a few thousand at 100 TB), then divides
    back to money once per group.  Both aggregations partial map-side;
    the chunk key adds one tiny exchange carrying only the partials.
    A/B at sf0.1 (/tmp retired; numbers in docs/PLAN_AUDIT.md):
    DECIMAL 0.87s, decimal-input sums 0.70s, this form 0.43s — equal
    results bit-for-bit on all six groups.

    Averages divide the exact sum by the count once, in double, AFTER
    aggregation — one deterministic division instead of an
    order-sensitive running mean; the exact decimal quotient (scale-6,
    lossless for 2-dp values) is cast to double exactly as the
    oracle's CAST(sum AS DOUBLE) is."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") <= _ntz("1998-09-02")
    )
    qty_c, ep_c = to_fixed("l_quantity", 100), to_fixed("l_extendedprice", 100)
    disc_c, tax_c = to_fixed("l_discount", 100), to_fixed("l_tax", 100)
    disc_u = ep_c * (F.lit(100) - disc_c)  # 1e-4 money units
    charge_u = disc_u * (F.lit(100) + tax_c)  # 1e-6 money units
    part = li.groupBy(
        "l_returnflag",
        "l_linestatus",
        F.shiftright(F.monotonically_increasing_id(), 25).alias("_chunk"),
    ).agg(
        F.sum(qty_c).alias("_sq"),
        F.sum(ep_c).alias("_se"),
        F.sum(disc_u).alias("_sd"),
        F.sum(charge_u).alias("_sc"),
        F.sum(disc_c).alias("_sdisc"),
        F.count("*").alias("_n"),
    )

    def total(col: str):
        return F.sum(F.col(col).cast("decimal(38,0)"))

    sq, se, sd = total("_sq"), total("_se"), total("_sd")
    sc, sdisc, n = total("_sc"), total("_sdisc"), F.sum("_n")
    return part.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(sq / 100, 2).cast("double").alias("sum_qty"),
        F.round(se / 100, 2).cast("double").alias("sum_base_price"),
        F.round(sd / 10_000, 2).cast("double").alias("sum_disc_price"),
        F.round(sc / 1_000_000, 2).cast("double").alias("sum_charge"),
        mean_quantized(sq, n * 100).alias("avg_qty"),
        mean_quantized(se, n * 100, 10_000).alias("avg_price"),
        mean_quantized(sdisc, n * 100).alias("avg_disc"),
        n.cast("bigint").alias("count_order"),
    )


@query(
    "tpch_q3_shipping_priority",
    oracle="""
    SELECT l_orderkey,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           o_orderdate, o_orderpriority
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1998-01-01'
      AND l_shipdate > TIMESTAMP '1998-01-01'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3: selective dim filter (mktsegment) broadcast into a star join,
    then top-10 by revenue.  The LIMIT's order includes l_orderkey so
    the cut is a total order (ties can't flap the hash compare).  At
    scale: customer filter broadcasts; the orders/lineitem join is the
    only real shuffle and AQE handles its sizing."""
    c = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") < _ntz("1998-01-01")
    )
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_shipdate") > _ntz("1998-01-01")
    )
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
    )


@query(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * l_discount), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.04 AND 0.06
      AND l_quantity < 24
    """,
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6: the pure scan-filter-agg pipeline — every predicate reaches
    the parquet reader (PushedFilters), zero joins, one partial+final
    agg.  The canonical 'is your scan path fast' probe."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ntz("1997-01-01"))
        & (F.col("l_shipdate") < _ntz("1998-01-01"))
        & (F.col("l_discount") >= 0.04)
        & (F.col("l_discount") <= 0.06)
        & (F.col("l_quantity") < 24)
    )
    return li.agg(
        F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 2).alias(
            "revenue"
        ),
        F.count("*").alias("n_items"),
    )


@query(
    "tpch_q14_promo_share",
    oracle=f"""
    WITH l AS (SELECT {to_fixed_sql("l_extendedprice", 100)}
                      * (100 - {to_fixed_sql("l_discount", 100)})
                          AS disc_u,
                      p_type
               FROM lineitem JOIN part ON l_partkey = p_partkey
               WHERE l_shipdate >= TIMESTAMP '1997-06-01'
                 AND l_shipdate < TIMESTAMP '1997-07-01')
    SELECT {mean_quantized_sql(
        "100 * sum(CASE WHEN p_type = 'PROMO' THEN disc_u ELSE 0 END)",
        "sum(disc_u)",
    )} AS promo_share
    FROM l
    """,
)
def tpch_q14_promo_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14: conditional ratio over a fact-dim join — part broadcasts,
    both numerator and denominator come out of ONE aggregation as
    exact integer 1e-4-dollar units (cents × discount percent), so the
    published ratio is an exact rational through the mean_quantized
    lane (docs/OPERATIONS.md quantization contract)."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ntz("1997-06-01"))
        & (F.col("l_shipdate") < _ntz("1997-07-01"))
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    disc_u = to_fixed("l_extendedprice", 100) * (
        F.lit(100) - to_fixed("l_discount", 100)
    )
    promo_u = F.when(F.col("p_type") == "PROMO", disc_u).otherwise(0)
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .agg(
            F.sum(promo_u).cast("decimal(38,0)").alias("__p"),
            F.sum(disc_u).cast("decimal(38,0)").alias("__d"),
        )
        .select(
            mean_quantized(F.col("__p") * 100, "__d").alias("promo_share")
        )
    )


@query(
    "tpch_q18_large_orders",
    oracle="""
    WITH big AS (SELECT l_orderkey, round(sum(l_quantity), 2) AS total_qty
                 FROM lineitem GROUP BY l_orderkey
                 HAVING round(sum(l_quantity), 2) > 300)
    SELECT c_name, o_orderkey, o_orderdate, round(o_totalprice, 2) AS total_price,
           total_qty
    FROM big
    JOIN orders   ON o_orderkey = l_orderkey
    JOIN customer ON c_custkey = o_custkey
    """,
)
def tpch_q18_large_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18: having-filtered aggregate driving a join — the aggregate
    prunes to a tiny key set FIRST, so the subsequent joins broadcast
    the filtered side instead of shuffling the whole fact twice."""
    li = _t(spark, sf_dir, "lineitem")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.round(F.sum("l_quantity"), 2).alias("total_qty"))
        .where(F.col("total_qty") > 300)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(F.broadcast(big), o.o_orderkey == big.l_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .select(
            "c_name",
            "o_orderkey",
            "o_orderdate",
            F.round("o_totalprice", 2).alias("total_price"),
            "total_qty",
        )
    )


# ---------------------------------------------------------------------------
# Battery 2: semi/anti joins, correlated subqueries, distributions
# ---------------------------------------------------------------------------


@query(
    "tpch_q4_priority_exists",
    oracle="""
    SELECT o_orderpriority, CAST(count(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_returnflag = 'R')
    GROUP BY o_orderpriority
    """,
)
def tpch_q4_priority_exists(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4 shape: EXISTS decorrelated to a left-semi join (the reference
    has no semi-join surface at all; SURVEY §2.4).  The orders date
    filter pushes to the scan; the semi join deduplicates lineitem keys
    on the build side, so the shuffle carries keys, not rows."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ntz("1997-01-01"))
        & (F.col("o_orderdate") < _ntz("1997-04-01"))
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_returnflag") == "R")
        .select("l_orderkey")
    )
    return (
        o.join(li, o.o_orderkey == li.l_orderkey, "left_semi")
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "tpch_q7_volume_shipping",
    oracle="""
    SELECT supp_nation, cust_nation, l_year, round(sum(volume), 2) AS revenue
    FROM (
      SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
             CAST(EXTRACT(year FROM l_shipdate) AS BIGINT) AS l_year,
             l_extendedprice * (1 - l_discount) AS volume
      FROM supplier
      JOIN lineitem ON s_suppkey = l_suppkey
      JOIN orders   ON o_orderkey = l_orderkey
      JOIN customer ON c_custkey = o_custkey
      JOIN nation n1 ON s_nationkey = n1.n_nationkey
      JOIN nation n2 ON c_nationkey = n2.n_nationkey
      WHERE ((n1.n_name = 'NATION_1' AND n2.n_name = 'NATION_2')
          OR (n1.n_name = 'NATION_2' AND n2.n_name = 'NATION_1'))
        AND l_shipdate >= TIMESTAMP '1996-01-01'
        AND l_shipdate <  TIMESTAMP '1998-01-01'
    ) shipping
    GROUP BY supp_nation, cust_nation, l_year
    """,
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 shape: bidirectional two-nation trade volume by year.  Both
    nation dims and the supplier/customer sides broadcast; the only
    big shuffle is lineitem->orders.  The disjunctive nation pair
    predicate is applied AFTER the cheap broadcast joins, where it
    prunes before the expensive one."""
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("supp_nation")
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), F.col("n_name").alias("cust_nation")
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ntz("1996-01-01"))
        & (F.col("l_shipdate") < _ntz("1998-01-01"))
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey")
    pair = (
        (F.col("supp_nation") == "NATION_1") & (F.col("cust_nation") == "NATION_2")
    ) | ((F.col("supp_nation") == "NATION_2") & (F.col("cust_nation") == "NATION_1"))
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), s.s_nationkey == n1.s_nkey)
        .join(F.broadcast(n2), c.c_nationkey == n2.c_nkey)
        .where(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("long"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


@query(
    "tpch_q10_returned_items",
    oracle="""
    SELECT c_custkey, c_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           round(c_acctbal, 2) AS acctbal, n_name
    FROM customer
    JOIN orders   ON c_custkey = o_custkey
    JOIN lineitem ON l_orderkey = o_orderkey
    JOIN nation   ON c_nationkey = n_nationkey
    WHERE o_orderdate >= TIMESTAMP '1997-01-01'
      AND o_orderdate <  TIMESTAMP '1997-04-01'
      AND l_returnflag = 'R'
    GROUP BY c_custkey, c_name, c_acctbal, n_name
    ORDER BY revenue DESC, c_custkey
    LIMIT 20
    """,
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 shape: top-20 customers by returned-item revenue.  The
    grouping keys ride along through the agg (no re-join after), and
    the LIMIT order is totalized with c_custkey so the cut is stable.
    TakeOrderedAndProject keeps the top-k merge on the driver O(k)."""
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ntz("1997-01-01"))
        & (F.col("o_orderdate") < _ntz("1997-04-01"))
    )
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_returnflag") == "R")
    c = _t(spark, sf_dir, "customer")
    n = _t(spark, sf_dir, "nation")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("c_custkey", "c_name", "c_acctbal", "n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), "c_custkey")
        .limit(20)
        .select(
            "c_custkey", "c_name", "revenue",
            F.round("c_acctbal", 2).alias("acctbal"), "n_name",
        )
    )


@query(
    "tpch_q13_order_distribution",
    oracle="""
    SELECT c_count, CAST(count(*) AS BIGINT) AS custdist
    FROM (SELECT c_custkey, CAST(count(o_orderkey) AS BIGINT) AS c_count
          FROM customer LEFT OUTER JOIN orders
            ON c_custkey = o_custkey AND o_orderpriority <> '1-URGENT'
          GROUP BY c_custkey) c_orders
    GROUP BY c_count
    """,
)
def tpch_q13_order_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 shape: customer order-count distribution — LEFT OUTER join
    with a predicate INSIDE the join condition (zero-order customers
    must survive), then a double aggregation.  The second agg's domain
    is tiny (distinct counts), so its shuffle is negligible; AQE
    coalesces it."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_custkey", "o_orderpriority")
    joined = c.join(
        o,
        (c.c_custkey == o.o_custkey) & (o.o_orderpriority != "1-URGENT"),
        "left_outer",
    )
    per_cust = joined.groupBy("c_custkey").agg(
        F.count("o_orderkey").alias("c_count")
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "tpch_q15_top_supplier",
    oracle="""
    WITH revenue AS (
      SELECT l_suppkey AS supplier_no,
             round(sum(l_extendedprice * (1 - l_discount)), 2) AS total_revenue
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate <  TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey)
    SELECT s_suppkey, s_name, total_revenue
    FROM supplier JOIN revenue ON s_suppkey = supplier_no
    WHERE total_revenue = (SELECT max(total_revenue) FROM revenue)
    """,
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 shape: argmax over an aggregate (ties kept).  The max is a
    one-row aggregate broadcast back as a join filter — NOT an
    all-rows-to-one-partition window, which would serialize the whole
    revenue table through a single task at scale."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ntz("1997-01-01"))
        & (F.col("l_shipdate") < _ntz("1997-04-01"))
    )
    rev = li.groupBy(F.col("l_suppkey").alias("supplier_no")).agg(
        F.round(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
        ).alias("total_revenue")
    )
    mx = rev.agg(F.max("total_revenue").alias("mx"))
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        rev.join(F.broadcast(mx), rev.total_revenue == mx.mx)
        .join(F.broadcast(s), rev.supplier_no == s.s_suppkey)
        .select("s_suppkey", "s_name", "total_revenue")
    )


@query(
    "tpch_q16_supplier_variety",
    oracle="""
    SELECT p_brand, p_type, p_size,
           CAST(count(DISTINCT l_suppkey) AS BIGINT) AS supplier_cnt
    FROM part JOIN lineitem ON l_partkey = p_partkey
    WHERE p_brand <> 'Brand#1' AND p_type <> 'PROMO'
      AND p_size IN (1, 4, 9, 14, 19, 24, 28, 32)
    GROUP BY p_brand, p_type, p_size
    """,
)
def tpch_q16_supplier_variety(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q16 shape (partsupp replaced by the lineitem link — the driver
    ships no partsupp table): COUNT(DISTINCT) over a filtered dim join.
    Spark plans this as a two-phase distinct aggregate (partial
    de-dup on (group, suppkey), then count) — no row explosion to the
    driver.  The IN-list + inequality filters push into the part scan
    and shrink the broadcast side."""
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") != "Brand#1")
        & (F.col("p_type") != "PROMO")
        & (F.col("p_size").isin(1, 4, 9, 14, 19, 24, 28, 32))
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.count_distinct("l_suppkey").alias("supplier_cnt"))
    )


@query(
    "tpch_q17_small_qty_revenue",
    oracle=f"""
    SELECT {mean_quantized_sql(
        f"sum({to_fixed_sql('l_extendedprice', 100)})", "700", 100
    )} AS avg_yearly
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE p_brand = 'Brand#3' AND p_type = 'PROMO'
      AND l_quantity < (SELECT 0.5 * avg(l_quantity) FROM lineitem l2
                        WHERE l2.l_partkey = lineitem.l_partkey)
    """,
)
def tpch_q17_small_qty_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 shape: correlated per-part average decorrelated to a window.
    Because the correlation key (l_partkey) equals the join key, the
    per-part avg over the brand-filtered join equals the avg over all
    of lineitem for those parts — so the window runs AFTER the
    broadcast join prunes to ~0.7%% of rows, not over the full fact."""
    p = _t(spark, sf_dir, "part").where(
        (F.col("p_brand") == "Brand#3") & (F.col("p_type") == "PROMO")
    ).select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    from pyspark.sql import Window

    w = Window.partitionBy("l_partkey")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .withColumn("avg_qty", F.avg("l_quantity").over(w))
        .where(F.col("l_quantity") < 0.5 * F.col("avg_qty"))
        # exact cents lane: round(double-sum/7, 2) was both fold-order-
        # dependent and on the s/700 rational boundary class
        .agg(
            mean_quantized(
                F.sum(to_fixed("l_extendedprice", 100)), F.lit(700), 100
            ).alias("avg_yearly")
        )
    )


@query(
    "tpch_q19_disjunctive_revenue",
    oracle="""
    SELECT round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_lines
    FROM lineitem JOIN part ON p_partkey = l_partkey
    WHERE (p_brand = 'Brand#1' AND p_size BETWEEN 1 AND 10
           AND l_quantity BETWEEN 1 AND 20)
       OR (p_brand = 'Brand#2' AND p_size BETWEEN 5 AND 20
           AND l_quantity BETWEEN 10 AND 30)
       OR (p_brand = 'Brand#3' AND p_size BETWEEN 10 AND 40
           AND l_quantity BETWEEN 20 AND 50)
    """,
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 shape: disjunctive mixed-table predicates.  Catalyst derives
    the implied single-table filters (p_brand IN (...), p_size <= 40,
    l_quantity BETWEEN 1 AND 50) and pushes them below the join, so
    both scans prune before the broadcast hash join evaluates the
    residual OR."""
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice", "l_discount"
    )
    def arm(brand, s_lo, s_hi, q_lo, q_hi):
        return (
            (F.col("p_brand") == brand)
            & F.col("p_size").between(s_lo, s_hi)
            & F.col("l_quantity").between(q_lo, q_hi)
        )
    cond = (
        arm("Brand#1", 1, 10, 1, 20)
        | arm("Brand#2", 5, 20, 10, 30)
        | arm("Brand#3", 10, 40, 20, 50)
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .where(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue"),
            F.count("*").alias("n_lines"),
        )
    )


@query(
    "tpch_q22_idle_customers",
    oracle="""
    SELECT c_mktsegment, CAST(count(*) AS BIGINT) AS numcust,
           round(sum(c_acctbal), 2) AS totacctbal
    FROM customer
    WHERE c_acctbal > (SELECT avg(c_acctbal) FROM customer WHERE c_acctbal > 0)
      AND c_mktsegment IN ('BUILDING', 'AUTOMOBILE', 'MACHINERY')
      AND NOT EXISTS (SELECT 1 FROM orders
                      WHERE o_custkey = c_custkey
                        AND o_orderdate >= TIMESTAMP '2000-01-01')
    GROUP BY c_mktsegment
    """,
)
def tpch_q22_idle_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 shape (phone prefix replaced by mktsegment — the driver's
    customer has no phone): scalar aggregate threshold + NOT EXISTS as
    a left-anti join.  The one-row avg broadcasts as a cross join;
    recent orders dedupe to keys before the anti join's build side."""
    c = _t(spark, sf_dir, "customer").where(
        F.col("c_mktsegment").isin("BUILDING", "AUTOMOBILE", "MACHINERY")
    )
    avg_pos = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_acctbal") > 0)
        .agg(F.avg("c_acctbal").alias("avg_bal"))
    )
    recent = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") >= _ntz("2000-01-01"))
        .select("o_custkey")
    )
    return (
        c.join(F.broadcast(avg_pos))
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(recent, c.c_custkey == recent.o_custkey, "left_anti")
        .groupBy("c_mktsegment")
        .agg(
            F.count("*").alias("numcust"),
            F.round(F.sum("c_acctbal"), 2).alias("totacctbal"),
        )
    )


# ---------------------------------------------------------------------------
# Battery 3: market share, profit attribution, conditional aggregation,
# nested-aggregate thresholds, double-correlated EXISTS
# ---------------------------------------------------------------------------


@query(
    "tpch_q8_market_share",
    oracle=f"""
    SELECT o_year,
           {mean_quantized_sql(
               "sum(CASE WHEN nation = 'NATION_1' THEN volume_e4 ELSE 0 END)",
               "sum(volume_e4)")} AS mkt_share
    FROM (
      SELECT CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
             {to_fixed_sql("l_extendedprice * (1 - l_discount)", 10_000)}
                 AS volume_e4,
             n2.n_name AS nation
      FROM part
      JOIN lineitem ON l_partkey = p_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN customer ON o_custkey = c_custkey
      JOIN nation n1 ON c_nationkey = n1.n_nationkey
      JOIN region    ON n1.n_regionkey = r_regionkey
      JOIN nation n2 ON s_nationkey = n2.n_nationkey
      WHERE r_name = 'ASIA' AND p_type = 'ECONOMY'
        AND o_orderdate >= TIMESTAMP '1996-01-01'
        AND o_orderdate <  TIMESTAMP '1998-01-01'
    ) all_nations
    GROUP BY o_year
    """,
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 shape: one nation's share of a region's import volume, per
    year — an 8-way star join where every dimension side broadcasts
    and the share is a conditional-sum ratio inside one aggregate (no
    second pass over the fact)."""
    p = _t(spark, sf_dir, "part").where(F.col("p_type") == "ECONOMY").select("p_partkey")
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= _ntz("1996-01-01"))
        & (F.col("o_orderdate") < _ntz("1998-01-01"))
    ).select("o_orderkey", "o_custkey", "o_orderdate")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_nationkey")
    n1 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("c_nkey"), "n_regionkey"
    )
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA").select(
        "r_regionkey"
    )
    n2 = _t(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("s_nkey"), F.col("n_name").alias("nation")
    )
    # volume is exact at 1e-4 (2-dp price × 2-dp discount factor):
    # integer e4 units make the share one exact quantized rational
    # instead of a fold-order-dependent double ratio (OPERATIONS.md)
    vol_e4 = to_fixed(
        F.col("l_extendedprice") * (1 - F.col("l_discount")), 10_000
    )
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .join(F.broadcast(n1), c.c_nationkey == n1.c_nkey)
        .join(F.broadcast(r), n1.n_regionkey == r.r_regionkey, "left_semi")
        .join(F.broadcast(n2), s.s_nationkey == n2.s_nkey)
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .withColumn("volume_e4", vol_e4)
        .groupBy("o_year")
        .agg(
            mean_quantized(
                F.sum(
                    F.when(
                        F.col("nation") == "NATION_1", F.col("volume_e4")
                    ).otherwise(0)
                ),
                F.sum("volume_e4"),
            ).alias("mkt_share")
        )
    )


@query(
    "tpch_q9_product_profit",
    oracle="""
    SELECT nation, o_year,
           round(CAST(sum(amount) AS DOUBLE), 2) AS sum_profit
    FROM (
      SELECT n_name AS nation,
             CAST(EXTRACT(year FROM o_orderdate) AS BIGINT) AS o_year,
             CAST(round(l_extendedprice * (1 - l_discount)
               - 0.6 * p_retailprice * l_quantity, 4) AS DECIMAL(18,4)) AS amount
      FROM part
      JOIN lineitem ON l_partkey = p_partkey
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN orders   ON l_orderkey = o_orderkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE p_name LIKE '%gear%'
    ) profit
    GROUP BY nation, o_year
    """,
)
def tpch_q9_product_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q9 shape (supplycost replaced by 0.6*p_retailprice — the driver
    ships no partsupp): profit attribution by supplier nation and
    order year.  The LIKE filter prunes part before its broadcast; the
    one real shuffle is lineitem->orders, then a skinny two-key agg.
    The per-row amount is rounded and summed as DECIMAL(18,4) so the
    total is exact and fold-order independent (double sums differ in
    the last ulp between engines at this group size)."""
    p = _t(spark, sf_dir, "part").where(F.col("p_name").like("%gear%")).select(
        "p_partkey", "p_retailprice"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", F.col("n_name").alias("nation"))
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_partkey", "l_suppkey",
        "l_quantity", "l_extendedprice", "l_discount",
    )
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    amount = F.round(
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.6 * F.col("p_retailprice") * F.col("l_quantity"),
        4,
    ).cast("decimal(18,4)")
    return (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .join(o, li.l_orderkey == o.o_orderkey)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .withColumn("o_year", F.year("o_orderdate").cast("long"))
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum(amount).cast("double"), 2).alias("sum_profit"))
    )


@query(
    "tpch_q12_shipping_priority_mix",
    oracle="""
    SELECT l_linestatus,
           CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(sum(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON o_orderkey = l_orderkey
    WHERE l_shipdate >= o_orderdate + INTERVAL 60 DAY
      AND l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate <  TIMESTAMP '1998-01-01'
    GROUP BY l_linestatus
    """,
)
def tpch_q12_shipping_priority_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12 shape (shipmode/commit/receipt replaced by linestatus and a
    ship-lag predicate — those columns don't exist in the driver's
    lineitem): priority mix among slow shipments via two conditional
    counts in one aggregate.  The cross-table lag predicate evaluates
    post-join; the date range still pushes into the lineitem scan."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= _ntz("1997-01-01"))
        & (F.col("l_shipdate") < _ntz("1998-01-01"))
    ).select("l_orderkey", "l_linestatus", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .where(F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 60 DAY"))
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "tpch_q20_bulk_suppliers",
    oracle="""
    SELECT s_name, s_acctbal
    FROM supplier
    WHERE s_suppkey IN (
      SELECT l_suppkey FROM lineitem JOIN part ON p_partkey = l_partkey
      WHERE p_brand = 'Brand#2'
      GROUP BY l_suppkey, l_partkey
      HAVING sum(l_quantity) > 50)
      AND s_nationkey IN (SELECT n_nationkey FROM nation
                          WHERE n_name IN ('NATION_0', 'NATION_1'))
    ORDER BY s_name
    """,
)
def tpch_q20_bulk_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q20 shape (partsupp availability replaced by shipped-quantity
    totals): suppliers who moved bulk volume of a brand's parts, in two
    nations — IN-subqueries as chained left-semi joins over a HAVING-
    filtered aggregate.  The per-(supplier, part) agg shuffles only
    after the broadcast brand filter prunes the fact."""
    p = _t(spark, sf_dir, "part").where(F.col("p_brand") == "Brand#2").select("p_partkey")
    li = _t(spark, sf_dir, "lineitem").select("l_partkey", "l_suppkey", "l_quantity")
    bulk = (
        li.join(F.broadcast(p), li.l_partkey == p.p_partkey)
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum("l_quantity").alias("qty"))
        .where(F.col("qty") > 50)
        .select("l_suppkey")
    )
    n = _t(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_0", "NATION_1")
    ).select("n_nationkey")
    s = _t(spark, sf_dir, "supplier")
    return (
        s.join(bulk, s.s_suppkey == bulk.l_suppkey, "left_semi")
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .select("s_name", "s_acctbal")
        .orderBy("s_name")
    )


@query(
    "tpch_q21_sole_blame_suppliers",
    oracle="""
    SELECT s_name, CAST(count(*) AS BIGINT) AS numwait
    FROM supplier
    JOIN lineitem l1 ON s_suppkey = l1.l_suppkey
    JOIN orders ON o_orderkey = l1.l_orderkey
    JOIN nation ON s_nationkey = n_nationkey
    WHERE o_orderstatus = 'F' AND n_name = 'NATION_2'
      AND l1.l_shipdate >= o_orderdate + INTERVAL 90 DAY
      AND EXISTS (SELECT 1 FROM lineitem l2
                  WHERE l2.l_orderkey = l1.l_orderkey
                    AND l2.l_suppkey <> l1.l_suppkey)
      AND NOT EXISTS (SELECT 1 FROM lineitem l3
                      JOIN orders o3 ON o3.o_orderkey = l3.l_orderkey
                      WHERE l3.l_orderkey = l1.l_orderkey
                        AND l3.l_suppkey <> l1.l_suppkey
                        AND l3.l_shipdate >= o3.o_orderdate + INTERVAL 90 DAY)
    GROUP BY s_name
    ORDER BY numwait DESC, s_name
    LIMIT 25
    """,
)
def tpch_q21_sole_blame_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q21 shape (lateness = shipped >=90 days after order date — the
    driver has no commit/receipt dates): suppliers solely responsible
    for late multi-supplier orders.  The two correlated EXISTS become
    per-order aggregates joined once — counting suppliers and LATE
    suppliers per order — instead of two extra passes over lineitem as
    semi/anti joins would need.  The counts run over a per-(order,
    supplier) aggregate rather than as two distinct counts, which
    Spark would plan through an Expand whose projection order varies
    with the session's expression ids."""
    late = F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 90 DAY")
    o = _t(spark, sf_dir, "orders").where(F.col("o_orderstatus") == "F").select(
        "o_orderkey", "o_orderdate"
    )
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    per_supp = (
        li.where(F.col("l_suppkey").isNotNull())
        .join(o, li.l_orderkey == o.o_orderkey)
        .groupBy("l_orderkey", "l_suppkey")
        .agg(
            F.max(late).alias("late"),
            F.first(F.col("o_orderdate")).alias("o_orderdate"),
        )
    )
    per_order = (
        per_supp.groupBy("l_orderkey")
        .agg(
            F.count("*").alias("n_supp"),
            F.count_if("late").alias("n_late_supp"),
            F.first(F.col("o_orderdate")).alias("o_orderdate"),
        )
        .where((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    )
    n = _t(spark, sf_dir, "nation").where(F.col("n_name") == "NATION_2").select(
        "n_nationkey"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    return (
        li.join(per_order, "l_orderkey")
        .where(late)
        .join(F.broadcast(s), li.l_suppkey == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey, "left_semi")
        .groupBy("s_name")
        .agg(F.count("*").alias("numwait"))
        .orderBy(F.desc("numwait"), "s_name")
        .limit(25)
    )


@query(
    "tpch_q2_min_cost_supplier",
    oracle=f"""
    WITH costs AS (
      SELECT l_partkey, l_suppkey,
             min({mean_quantized_sql(
                 to_fixed_sql("l_extendedprice", 100),
                 "CAST(l_quantity AS BIGINT) * 100", 10_000)}) AS unit_cost
      FROM lineitem GROUP BY l_partkey, l_suppkey)
    SELECT p_partkey, p_brand, s_name, n_name, unit_cost
    FROM costs
    JOIN part     ON p_partkey = l_partkey
    JOIN supplier ON s_suppkey = l_suppkey
    JOIN nation   ON s_nationkey = n_nationkey
    WHERE p_size <= 5
      AND unit_cost = (SELECT min(unit_cost) FROM costs c2
                       WHERE c2.l_partkey = costs.l_partkey)
    ORDER BY p_partkey, s_name
    LIMIT 100
    """,
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q2 shape (partsupp supplycost replaced by the min observed unit
    price per (part, supplier) from lineitem): cheapest supplier per
    part, ties kept.  The correlated per-part min is a window over the
    (part, supplier) aggregate — a table already reduced ~25x from the
    fact, partitioned on the window key by its own groupBy, so the
    window adds no extra shuffle.  Unit costs round to 4 places on
    both sides BEFORE the equality so the tie-set is engine-stable."""
    from pyspark.sql import Window

    li = _t(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_suppkey", "l_extendedprice", "l_quantity"
    )
    # each ratio quantizes EXACTLY at 1e-4 (cents over integer qty —
    # the quantized lane, docs/OPERATIONS.md) before the min, so the
    # tie-set equality below compares identical exact values; the old
    # round(min(double-ratio), 4) sat on the s/(100·qty) boundary class
    costs = li.groupBy("l_partkey", "l_suppkey").agg(
        F.min(
            mean_quantized(
                to_fixed("l_extendedprice", 100),
                to_fixed("l_quantity", 1) * 100,
                10_000,
            )
        ).alias("unit_cost")
    )
    w = Window.partitionBy("l_partkey")
    p = _t(spark, sf_dir, "part").where(F.col("p_size") <= 5).select(
        "p_partkey", "p_brand"
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name", "s_nationkey")
    n = _t(spark, sf_dir, "nation").select("n_nationkey", "n_name")
    return (
        costs.withColumn("min_cost", F.min("unit_cost").over(w))
        .where(F.col("unit_cost") == F.col("min_cost"))
        .join(F.broadcast(p), F.col("l_partkey") == p.p_partkey)
        .join(F.broadcast(s), F.col("l_suppkey") == s.s_suppkey)
        .join(F.broadcast(n), s.s_nationkey == n.n_nationkey)
        .select("p_partkey", "p_brand", "s_name", "n_name", "unit_cost")
        .orderBy("p_partkey", "s_name")
        .limit(100)
    )


@query(
    "tpch_q11_value_concentration",
    oracle="""
    WITH sr AS (
      SELECT l_suppkey, sum(l_extendedprice * (1 - l_discount)) AS value
      FROM lineitem
      JOIN supplier ON s_suppkey = l_suppkey
      JOIN nation   ON s_nationkey = n_nationkey
      WHERE n_name IN ('NATION_0', 'NATION_1')
      GROUP BY l_suppkey)
    SELECT l_suppkey, round(value, 2) AS value
    FROM sr
    WHERE round(value, 2) > (SELECT round(sum(value) * 0.02, 2) FROM sr)
    ORDER BY value DESC, l_suppkey
    """,
)
def tpch_q11_value_concentration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q11 shape (partsupp stock value replaced by shipped revenue):
    suppliers in two nations holding more than 2% of those nations'
    total value — a fraction-of-global-aggregate HAVING.  The global
    total is a one-row re-aggregation of the per-supplier result (no
    second pass over lineitem), broadcast back as a cross join."""
    n = _t(spark, sf_dir, "nation").where(
        F.col("n_name").isin("NATION_0", "NATION_1")
    ).select("n_nationkey")
    s = (
        _t(spark, sf_dir, "supplier")
        .join(F.broadcast(n), F.col("s_nationkey") == n.n_nationkey, "left_semi")
        .select("s_suppkey")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey", "l_extendedprice", "l_discount"
    )
    sr = (
        li.join(F.broadcast(s), li.l_suppkey == s.s_suppkey, "left_semi")
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias("value")
        )
    )
    # Round both sides of the threshold comparison (repo parity
    # convention, as in q2): cross-engine float fold-order differences
    # must not flip membership for a supplier sitting exactly at 2%.
    thresh = sr.agg(F.round(F.sum("value") * 0.02, 2).alias("cut"))
    return (
        sr.join(F.broadcast(thresh))
        .where(F.round("value", 2) > F.col("cut"))
        .select("l_suppkey", F.round("value", 2).alias("value"))
        .orderBy(F.desc("value"), "l_suppkey")
    )
