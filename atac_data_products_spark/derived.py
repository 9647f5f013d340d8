"""Relations that several registry keys derive, each written once, with
its DuckDB CTE twin beside it (tests/test_derived.py checks each pair
directly).  A key keeps its own row filter and NULL handling on both
sides: a builder takes a grouping, a row filter and an output name."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.numeric import to_fixed, to_fixed_sql
from .sources.tables import epoch_day_from_us, epoch_day_from_us_sql, load_table, ts_us_expr


def copart_pairs(spark: SparkSession, sf_dir: str, where: str | None = None) -> DataFrame:
    """Distinct (p1 < p2) part pairs that co-occur in an order, over the
    lineitem rows the SQL condition `where` keeps.  The self-join key is
    l_orderkey, whose fan-out the schema bounds: ~k²/2 pairs per order,
    never corpus²."""
    li = load_table(spark, sf_dir, "lineitem")
    if where:
        li = li.where(where)
    li = li.select("l_orderkey", "l_partkey")
    a, b = li.alias("a"), li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .select(F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2"))
        .distinct()
    )


def copart_pairs_sql(where: str = "") -> str:
    """CTE `pairs`, the twin of :func:`copart_pairs`."""
    li = f"(SELECT l_orderkey, l_partkey FROM lineitem{f' WHERE {where}' if where else ''})"
    return f"""
    pairs AS (SELECT DISTINCT a.l_partkey AS p1, b.l_partkey AS p2
              FROM {li} a
              JOIN {li} b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey)"""


def both_ways(pairs: DataFrame) -> DataFrame:
    """Directed (src, dst) edges: both directions of each (p1, p2) pair."""
    return pairs.select(F.col("p1").alias("src"), F.col("p2").alias("dst")).unionByName(
        pairs.select(F.col("p2").alias("src"), F.col("p1").alias("dst"))
    )


# CTE `edges` over CTE `pairs`, the twin of both_ways
BOTH_WAYS_SQL = """
    edges AS (SELECT p1 AS src, p2 AS dst FROM pairs
              UNION ALL SELECT p2, p1 FROM pairs)"""


def daily_cents(ev: DataFrame, *by: str, name: str = "daily_cents") -> DataFrame:
    """Exact BIGINT-cents sum of `value` per (`by`, floor epoch day of ts)
    over the events rows `ev` holds.  An all-NULL group sums to NULL;
    whether to keep it is the caller's contract."""
    d = ev.select(
        *by,
        epoch_day_from_us(ts_us_expr(ev)).alias("day"),
        to_fixed("value", 100).alias("cents"),
    )
    return d.groupBy(*by, "day").agg(F.sum("cents").cast("bigint").alias(name))


def daily_cents_sql(*by: str, where: str = "", name: str = "daily_cents") -> str:
    """CTEs `d` (per event) and `g` (per day), the twin of
    :func:`daily_cents` over the events rows the condition `where` keeps."""
    keys = "".join(f"{b}, " for b in by)
    return f"""
    d AS (SELECT {keys}{epoch_day_from_us_sql()} AS day,
                 {to_fixed_sql("value", 100)} AS cents
          FROM events{f' WHERE {where}' if where else ''}),
    g AS (SELECT {keys}day, CAST(sum(cents) AS BIGINT) AS {name}
          FROM d GROUP BY {keys}day)"""
