"""Graph-analytics registry: iterative algorithms over derived edge sets.

The reference has no graph surface (its 505-LoC pandas ETL never joins a
table to itself); this registry is the iterative-algorithm category of
the engine's extension charter, alongside connected components in
extensions/dedup.py.  Both Spark plan and DuckDB oracle are generated
from the SAME constants (fixed-point scale, damping ratio, iteration
count), so parity is structural.

Cross-engine determinism: ranks are exact BIGINT fixed-point (see
operators/graph.py) — integer adds are associative/commutative under any
distributed fold order, so the oracle's single-threaded sum and Spark's
partial-aggregate sum agree bit-for-bit.

The part co-order edge builders (`copart_pairs`, `both_ways`) and their
CTE twins live in derived.py, shared with the graph keys of
registry_scale.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .derived import copart_pairs, copart_pairs_sql
from .operators.graph import (
    DAMP_DEN,
    DAMP_NUM,
    RANK_SCALE,
    TELEPORT_NUM,
    pagerank_fixed,
)
from .registry import _t, query

# Customer node ids are offset into a disjoint id-space so the
# supplier<->customer edge set is a simple graph over one BIGINT key.
CUST_OFFSET = 10_000_000
PR_ITERATIONS = 3

_EDGE_CTES = f"""
    raw AS (SELECT DISTINCT l_suppkey AS a, o_custkey + {CUST_OFFSET} AS b
            FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    edges AS (SELECT a AS src, b AS dst FROM raw
              UNION ALL SELECT b AS src, a AS dst FROM raw)"""


def _trade_edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetrized supplier<->customer edge list (who shipped to whom).

    Symmetrization is an explode of both directions of each distinct
    directed pair — ONE scan + ONE distinct shuffle, where a
    union-of-two-selects would compute the join and distinct twice.  The
    a/b id-spaces are disjoint (CUST_OFFSET), so the exploded set is
    already duplicate-free.
    """
    from .extensions.text import ensure_min_partitions

    li = ensure_min_partitions(
        # round-12: the one-file lineitem scan serialized the broadcast
        # join probe + distinct partial aggregation on a single core;
        # conditional hash spread, no-op at scale
        _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey"),
        by="l_orderkey",
    )
    orders = _t(spark, sf_dir, "orders")
    raw = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .select(
            F.col("l_suppkey").alias("a"),
            (F.col("o_custkey") + F.lit(CUST_OFFSET)).alias("b"),
        )
        .distinct()
    )
    return raw.select(
        F.explode(
            F.array(
                F.struct(F.col("a").alias("src"), F.col("b").alias("dst")),
                F.struct(F.col("b").alias("src"), F.col("a").alias("dst")),
            )
        ).alias("e")
    ).select("e.src", "e.dst")


def _pagerank_oracle(n_iter: int = PR_ITERATIONS) -> str:
    """Unrolled fixed-iteration PageRank in DuckDB SQL, one CTE pair per
    step, using the same integer constants as operators/graph.py.  `//`
    (DuckDB) and `DIV` (Spark) agree on non-negative BIGINTs."""
    ctes = [
        _EDGE_CTES,
        """
    deg AS (SELECT src, CAST(count(*) AS BIGINT) AS out_deg FROM edges GROUP BY src),
    nodes AS (SELECT DISTINCT src AS node FROM edges),
    nn AS (SELECT CAST(count(*) AS BIGINT) AS n_nodes FROM nodes),
    r0 AS (SELECT node, CAST({scale} // n_nodes AS BIGINT) AS rank
           FROM nodes CROSS JOIN nn)""".format(scale=RANK_SCALE),
    ]
    for i in range(1, n_iter + 1):
        ctes.append(
            f"""
    c{i} AS (SELECT e.dst AS node,
                    CAST(sum(r.rank // d.out_deg) AS BIGINT) AS contrib
             FROM r{i - 1} r
             JOIN edges e ON r.node = e.src
             JOIN deg d ON e.src = d.src
             GROUP BY e.dst),
    r{i} AS (SELECT n.node,
                    CAST(({TELEPORT_NUM} // nn.n_nodes)
                         + ({DAMP_NUM} * coalesce(c.contrib, 0)) // {DAMP_DEN}
                      AS BIGINT) AS rank
             FROM nodes n CROSS JOIN nn
             LEFT JOIN c{i} c ON n.node = c.node)"""
        )
    return (
        "WITH "
        + ",".join(ctes)
        + f"\n    SELECT node, rank FROM r{n_iter}"
    )


@query("graph_pagerank", oracle=_pagerank_oracle())
def graph_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-point PageRank (3 rounds, damping 0.85) over the
    supplier<->customer trade graph.  Exact BIGINT arithmetic makes the
    distributed result bit-identical to the single-threaded oracle."""
    return pagerank_fixed(_trade_edges(spark, sf_dir), n_iterations=PR_ITERATIONS)


# ---------------------------------------------------------------------------
# Triangle counting over the part co-order graph
# ---------------------------------------------------------------------------

@query(
    "graph_triangle_count",
    oracle=f"""
    WITH {copart_pairs_sql()}
    SELECT CAST(count(*) AS BIGINT) AS n_triangles
    FROM pairs e1
    JOIN pairs e2 ON e1.p2 = e2.p1
    JOIN pairs e3 ON e1.p1 = e3.p1 AND e2.p2 = e3.p2
    """,
)
def graph_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle count on the part co-order graph via DEGREE-ORDERED
    orientation: each undirected edge points from its lower-(degree, id)
    endpoint to the higher one, wedges are generated only between a
    node's OUT-neighbors, and the closing edge is probed in the same
    orientation.  Every triangle is counted exactly once (at its
    minimum-(degree, id) vertex), so the result is identical to the
    key-ordered oracle — but wedge volume drops from Σ deg² to
    Σ outdeg², which orientation bounds by O(√|E|) per node on skewed
    graphs.  On THIS graph (uniform degree ≈120 at sf0.1) the measured
    wall is parity (~10 s either way: wedges/4, offset by the degree
    join) — the orientation is kept because real co-occurrence graphs
    are power-law, where the unoriented plan melts down on hub wedges
    and this one does not.  The standard trick every distributed
    triangle counter ships (cf. Suri-Vassilvitskii MapReduce
    triangles)."""
    e = copart_pairs(spark, sf_dir)
    deg = (
        e.select(F.col("p1").alias("n"))
        .unionAll(e.select(F.col("p2").alias("n")))
        .groupBy("n")
        .agg(F.count("*").cast("bigint").alias("deg"))
    )
    d1 = deg.alias("d1")
    d2 = deg.alias("d2")
    ranked = (
        e.join(d1, F.col("p1") == F.col("d1.n"))
        .join(d2, F.col("p2") == F.col("d2.n"))
        .select(
            "p1", "p2",
            F.struct(
                F.col("d1.deg").alias("deg"), F.col("p1").alias("node")
            ).alias("o1"),
            F.struct(
                F.col("d2.deg").alias("deg"), F.col("p2").alias("node")
            ).alias("o2"),
        )
    )
    oe = ranked.select(
        F.when(F.col("o1") < F.col("o2"), F.col("p1")).otherwise(F.col("p2")).alias("src"),
        F.when(F.col("o1") < F.col("o2"), F.col("p2")).otherwise(F.col("p1")).alias("dst"),
        F.when(F.col("o1") < F.col("o2"), F.col("o2")).otherwise(F.col("o1")).alias("dord"),
    )
    w1 = oe.alias("w1")
    w2 = oe.alias("w2")
    e3 = oe.select("src", "dst").alias("e3")
    wedges = w1.join(
        w2,
        (F.col("w1.src") == F.col("w2.src"))
        & (F.col("w1.dord") < F.col("w2.dord")),
    )
    tri = wedges.join(
        e3,
        (F.col("w1.dst") == F.col("e3.src")) & (F.col("w2.dst") == F.col("e3.dst")),
    )
    return tri.agg(F.count("*").alias("n_triangles"))


@query(
    "graph_degree_stats",
    oracle=f"""
    WITH {_EDGE_CTES},
    deg AS (SELECT src, count(*) AS degree FROM edges GROUP BY src),
    side AS (SELECT CASE WHEN src >= {CUST_OFFSET} THEN 'customer' ELSE 'supplier' END AS side,
                    degree
             FROM deg)
    SELECT side,
           CAST(count(*) AS BIGINT) AS n_nodes,
           CAST(min(degree) AS BIGINT) AS min_degree,
           CAST(max(degree) AS BIGINT) AS max_degree,
           CAST(sum(degree) AS BIGINT) AS sum_degree
    FROM side GROUP BY side
    """,
)
def graph_degree_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree profile per bipartite side — the smoke-read every graph
    pipeline starts with; one shuffle to degrees, map-side-combinable
    rollup after."""
    deg = (
        _trade_edges(spark, sf_dir)
        .groupBy("src")
        .agg(F.count("*").alias("degree"))
    )
    return (
        deg.select(
            F.when(F.col("src") >= CUST_OFFSET, F.lit("customer"))
            .otherwise(F.lit("supplier"))
            .alias("side"),
            "degree",
        )
        .groupBy("side")
        .agg(
            F.count("*").alias("n_nodes"),
            F.min("degree").alias("min_degree"),
            F.max("degree").alias("max_degree"),
            F.sum("degree").alias("sum_degree"),
        )
    )


CN_HUB_CAP = 32  # wedge-center degree cap: hub suppression in the contract
CN_MIN_QTY = 48  # bulk-line threshold: the selective edge base
CN_BULK = f"l_quantity >= {CN_MIN_QTY}"  # the same, as a lineitem row filter


@query(
    "graph_common_neighbors",
    oracle=f"""
    WITH {copart_pairs_sql(CN_BULK)},
    sym AS (SELECT p1 AS s, p2 AS d FROM pairs
            UNION ALL SELECT p2, p1 FROM pairs),
    deg AS (SELECT s, CAST(count(*) AS BIGINT) AS degree
            FROM sym GROUP BY s),
    ctr AS (SELECT sym.s, sym.d FROM sym
            JOIN deg ON sym.s = deg.s WHERE deg.degree <= {CN_HUB_CAP}),
    cn AS (SELECT w1.d AS p1, w2.d AS p2,
                  CAST(count(*) AS BIGINT) AS n_common
           FROM ctr w1 JOIN ctr w2 ON w1.s = w2.s AND w1.d < w2.d
           GROUP BY w1.d, w2.d),
    nonedge AS (SELECT cn.p1, cn.p2, cn.n_common
                FROM cn LEFT JOIN pairs e
                  ON cn.p1 = e.p1 AND cn.p2 = e.p2
                WHERE e.p1 IS NULL)
    SELECT p1, p2, n_common FROM (
      SELECT p1, p2, n_common,
             row_number() OVER (ORDER BY n_common DESC, p1, p2) AS rk
      FROM nonedge) WHERE rk <= 20
    """,
)
def graph_common_neighbors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by HUB-SUPPRESSED common-neighbor count: the
    top-20 part pairs not yet co-ordered that share the most co-order
    neighbors, counting only neighbors of degree ≤ CN_HUB_CAP — the
    'customers who bought X also bought Y' candidate generator.

    Two scale defenses, both part of the CONTRACT: (1) the edge base is
    the co-BULK-order graph — both lines must have quantity ≥
    CN_MIN_QTY, a predicate that pushes into the lineitem scan and
    thins the uniformly-dense synthetic co-part graph (avg degree 120
    at EVERY sf; the full graph measured 67 s of Σ deg² wedge
    explosion at sf0.1) to a sparse high-signal subgraph; (2) a
    wedge-center degree cap (CN_HUB_CAP, the LSH-bucket-cap pattern) —
    a part in hundreds of baskets carries no link-prediction signal
    (Adamic-Adar weights it toward zero) yet contributes deg² wedges,
    so wedge output stays ≤ cap × |edges| even if the data densifies.
    The top-20 page is a TakeOrdered O(k) driver merge with a (p1, p2)
    tie-break — never a full sort."""
    e = copart_pairs(spark, sf_dir, CN_BULK)
    sym = e.select(F.col("p1").alias("s"), F.col("p2").alias("d")).unionAll(
        e.select(F.col("p2").alias("s"), F.col("p1").alias("d"))
    )
    deg = sym.groupBy("s").agg(F.count("*").cast("bigint").alias("degree"))
    ctr = sym.join(deg, "s").where(F.col("degree") <= CN_HUB_CAP).select("s", "d")
    w1 = ctr.alias("w1")
    w2 = ctr.alias("w2")
    cn = (
        w1.join(
            w2,
            (F.col("w1.s") == F.col("w2.s")) & (F.col("w1.d") < F.col("w2.d")),
        )
        .groupBy(F.col("w1.d").alias("p1"), F.col("w2.d").alias("p2"))
        .agg(F.count("*").cast("bigint").alias("n_common"))
    )
    nonedge = cn.join(e, ["p1", "p2"], "left_anti")
    return (
        nonedge.orderBy(F.col("n_common").desc(), "p1", "p2")
        .limit(20)
        .select("p1", "p2", "n_common")
    )
