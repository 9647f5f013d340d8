"""Analytic-surface batch 2: statistics, multidimensional aggregation,
top-k, higher-order array functions, gap-filling, JSON extraction,
deterministic sampling, null-safe joins.

The reference's analytic surface stops at count/collect aggregations
(bin/concatenate.py:118-126 value_counts; SURVEY.md §2.6 "absent" rows);
these are the operators a warehouse user expects on top of the same
tables, each expressed as a declarative DataFrame plan (Catalyst handles
pushdown/pruning) with a DuckDB oracle twin.

Parity conventions (see tools/check_correctness.py::normalize):
- every computed column carries the SAME alias in Spark and SQL;
- counts CAST to BIGINT on the DuckDB side (sum/count widen to hugeint);
- floats rounded identically on both sides BEFORE any threshold/sort;
- event timestamps handled as integers (nanos on the Spark side,
  epoch-seconds folds on DuckDB's) — never formatted through a session
  timezone.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .functions.numeric import (
    mean_quantized,
    mean_quantized_signed,
    mean_quantized_signed_sql,
    mean_quantized_sql,
    to_fixed,
    to_fixed_sql,
)
from pyspark.sql.window import Window

from .derived import daily_cents, daily_cents_sql
from .extensions.text import tokens_sql
from .functions.hashes import hash59, hash59_sql
from .registry import _t, _values_sql, query
from .sources.tables import epoch_day_expr, epoch_day_from_us, epoch_day_from_us_sql
from .sources.tables import load_table, ts_us_expr
from .spill import ckpt_lazy as _ckpt_lazy

# ---------------------------------------------------------------------------
# Statistics battery
# ---------------------------------------------------------------------------


@query(
    "agg_stats_battery",
    oracle=f"""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           {mean_quantized_sql("sum(CAST(l_quantity AS BIGINT))", "count(l_quantity)")} AS avg_qty,
           round(stddev_samp(l_quantity), 6) AS std_qty,
           round(var_samp(l_quantity), 6) AS var_qty,
           round(corr(l_quantity, l_extendedprice), 6) AS corr_qty_price,
           round(covar_samp(l_quantity, l_discount), 6) AS covar_qty_disc
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_stats_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Second-moment statistics per group — stddev/variance/corr/covar are
    single-pass co-moment aggregates in both engines (numerically stable
    merge, so partial-aggregate order does not move the rounded value);
    the mean of the integer-valued quantity rides the exact
    mean_quantized lane (docs/OPERATIONS.md quantization contract)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("l_quantity").cast("bigint")).alias("__sum_q"),
            F.count("l_quantity").alias("__n_q"),
            F.round(F.stddev_samp("l_quantity"), 6).alias("std_qty"),
            F.round(F.var_samp("l_quantity"), 6).alias("var_qty"),
            F.round(F.corr("l_quantity", "l_extendedprice"), 6).alias("corr_qty_price"),
            F.round(F.covar_samp("l_quantity", "l_discount"), 6).alias("covar_qty_disc"),
        )
        .select(
            "l_returnflag",
            "n",
            mean_quantized("__sum_q", "__n_q").alias("avg_qty"),
            "std_qty",
            "var_qty",
            "corr_qty_price",
            "covar_qty_disc",
        )
    )


@query(
    "agg_conditional_battery",
    oracle=f"""
    SELECT l_linestatus,
           CAST(count(*) FILTER (WHERE l_discount > 0.05) AS BIGINT) AS n_high_discount,
           round(sum(CASE WHEN l_returnflag = 'R'
                          THEN l_extendedprice * (1 - l_discount) ELSE 0 END), 2)
               AS returned_revenue,
           ({mean_quantized_sql(
               f"sum({to_fixed_sql('l_tax', 100)}) FILTER (WHERE l_quantity > 25)",
               "count(l_tax) FILTER (WHERE l_quantity > 25)",
               10_000,
           )}) / 100.0 AS avg_tax_bulk
    FROM lineitem GROUP BY l_linestatus
    """,
)
def agg_conditional_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Filtered/conditional aggregation — one scan computes every branch
    (no per-predicate passes; each FILTER is a map-side conditional).
    The filtered tax mean converts the exact 2-dp values to integer
    cents and rides the mean_quantized lane (quantized at 1e-4 cents =
    1e-6 tax units), then both engines make the same /100 rescale."""
    li = _t(spark, sf_dir, "lineitem")
    bulk = F.col("l_quantity") > 25
    return (
        li.groupBy("l_linestatus")
        .agg(
            F.count_if(F.col("l_discount") > 0.05).alias("n_high_discount"),
            F.round(
                F.sum(
                    F.when(
                        F.col("l_returnflag") == "R",
                        F.col("l_extendedprice") * (1 - F.col("l_discount")),
                    ).otherwise(0.0)
                ),
                2,
            ).alias("returned_revenue"),
            F.sum(F.when(bulk, to_fixed("l_tax", 100))).alias("__sum_tax_c"),
            F.count(F.when(bulk, F.col("l_tax"))).alias("__n_tax"),
        )
        .select(
            "l_linestatus",
            "n_high_discount",
            "returned_revenue",
            (
                mean_quantized("__sum_tax_c", "__n_tax", 10_000) / F.lit(100.0)
            ).alias("avg_tax_bulk"),
        )
    )


@query(
    "agg_cube_pricing",
    oracle="""
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem GROUP BY CUBE (l_returnflag, l_linestatus)
    """,
)
def agg_cube_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE = all 2^k grouping sets in ONE shuffle (Catalyst expands the
    sets map-side); complements agg_rollup_pricing's hierarchy."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.cube("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("n_rows"), F.round(F.sum("l_quantity"), 2).alias("sum_qty"))
        .select(
            F.coalesce("l_returnflag", F.lit("ALL")).alias("returnflag"),
            F.coalesce("l_linestatus", F.lit("ALL")).alias("linestatus"),
            "n_rows",
            "sum_qty",
        )
    )


@query(
    "agg_mode_deterministic",
    oracle="""
    WITH c AS (SELECT p_brand, p_type, CAST(count(*) AS BIGINT) AS n
               FROM part GROUP BY p_brand, p_type),
    r AS (SELECT *, row_number() OVER (PARTITION BY p_brand
                                       ORDER BY n DESC, p_type) AS rk FROM c)
    SELECT p_brand, p_type AS modal_type, n FROM r WHERE rk = 1
    """,
)
def agg_mode_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mode with a DECLARED tie-break (count desc, then lexicographic) —
    engines' built-in mode() leaves ties unspecified, so the portable
    form is count + one window pass."""
    c = (
        _t(spark, sf_dir, "part")
        .groupBy("p_brand", "p_type")
        .agg(F.count("*").alias("n"))
    )
    w = Window.partitionBy("p_brand").orderBy(F.desc("n"), "p_type")
    return (
        c.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("p_brand", F.col("p_type").alias("modal_type"), "n")
    )


@query(
    "agg_histogram_fixed",
    oracle="""
    SELECT CAST(floor(l_extendedprice / 5000) AS BIGINT) AS bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(min(l_extendedprice), 2) AS lo,
           round(max(l_extendedprice), 2) AS hi
    FROM lineitem GROUP BY 1
    """,
)
def agg_histogram_fixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram via integer bucket arithmetic — a plain
    hash aggregate (no sort, no per-bucket pass), portable because
    floor(x/width) is exact the same way in both engines."""
    li = _t(spark, sf_dir, "lineitem")
    return li.groupBy(
        F.floor(F.col("l_extendedprice") / 5000).alias("bucket")
    ).agg(
        F.count("*").alias("n"),
        F.round(F.min("l_extendedprice"), 2).alias("lo"),
        F.round(F.max("l_extendedprice"), 2).alias("hi"),
    )


# ---------------------------------------------------------------------------
# Windows / top-k
# ---------------------------------------------------------------------------


@query(
    "window_topk_per_group",
    oracle="""
    WITH r AS (SELECT o_orderpriority, o_orderkey, o_totalprice,
                      row_number() OVER (PARTITION BY o_orderpriority
                                         ORDER BY o_totalprice DESC, o_orderkey) AS rk
               FROM orders)
    SELECT o_orderpriority, CAST(rk AS BIGINT) AS rk, o_orderkey,
           round(o_totalprice, 2) AS total
    FROM r WHERE rk <= 3
    """,
)
def window_topk_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 orders by price within each priority class.  row_number over
    a partitioned sort = one shuffle on the group key; the rank filter
    prunes before anything downstream.  (At scale prefer this over
    groupBy+collect_list: state per group is K rows, not all rows.)"""
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        _t(spark, sf_dir, "orders")
        .withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "o_orderpriority",
            F.col("rk").cast("bigint").alias("rk"),
            "o_orderkey",
            F.round("o_totalprice", 2).alias("total"),
        )
    )


@query(
    "window_moving_avg",
    oracle=f"""
    WITH w AS (SELECT event_id,
                      sum({to_fixed_sql("value", 100)})
                          OVER win AS s_cents,
                      count(value) OVER win AS n_val
               FROM events WHERE ts IS NOT NULL
               WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN 6 PRECEDING AND CURRENT ROW))
    SELECT event_id,
           {mean_quantized_signed_sql("s_cents", "100 * n_val")} AS mov_avg
    FROM w
    """,
)
def window_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """7-row trailing moving average per user.  The ORDER BY includes the
    unique event_id so the frame contents are a total order (ties on ts
    would otherwise make ROWS frames nondeterministic).  Ordering by the
    raw nano tick equals ordering by the timestamp."""
    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(-6, Window.currentRow)
    )
    # exact-integer frame mean (2-dp money): cents sum and non-null
    # count over the same frame through the quantized lane — a frame
    # mean is s/(100n) with n <= 7, the highest-probability boundary
    # class there is (docs/OPERATIONS.md quantization contract).
    # SIGNED lane: value >= 0 holds on current fixtures but is a domain
    # argument, not a schema constraint — same rationale as
    # stat_diff_in_diff (r09 ADVICE consistency fix).
    return ev.select(
        "event_id",
        mean_quantized_signed(
            F.sum(to_fixed("value", 100)).over(w),
            F.count("value").over(w) * 100,
        ).alias("mov_avg"),
    )


# ---------------------------------------------------------------------------
# Higher-order array functions (the embedding column as a first-class array)
# ---------------------------------------------------------------------------


@query(
    "array_hof_battery",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
    SELECT vec_id,
           CAST(len(v) AS BIGINT) AS dim,
           round(sqrt(list_dot_product(v, v)), 6) AS l2,
           round(list_sum(list_transform(v, x -> abs(x))), 6) AS l1,
           CAST(len(list_filter(v, x -> x > 0)) AS BIGINT) AS n_pos,
           round(list_sum(v) / len(v), 6) AS mean_elem
    FROM e
    """,
)
def array_hof_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Higher-order functions over array columns — transform / filter /
    aggregate run INSIDE codegen (no UDF, no explode-regroup shuffle).
    Folds are sequential in DOUBLE so both engines walk the identical
    IEEE sequence (extensions/similarity.py conventions)."""
    from .extensions.similarity import l2_norm

    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("v")
    )
    asum = F.aggregate(
        F.transform(F.col("v"), lambda x: F.abs(x)), F.lit(0.0), lambda a, x: a + x
    )
    esum = F.aggregate(F.col("v"), F.lit(0.0), lambda a, x: a + x)
    return e.select(
        "vec_id",
        F.size("v").cast("bigint").alias("dim"),
        F.round(l2_norm(F.col("v")), 6).alias("l2"),
        F.round(asum, 6).alias("l1"),
        F.size(F.filter(F.col("v"), lambda x: x > 0)).cast("bigint").alias("n_pos"),
        F.round(esum / F.size("v"), 6).alias("mean_elem"),
    )


# ---------------------------------------------------------------------------
# Time series: gap-filled daily counts
# ---------------------------------------------------------------------------


@query(
    "timeseries_gapfill",
    oracle="""
    WITH d AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS day,
                      CAST(count(*) AS BIGINT) AS n,
                      round(sum(value), 6) AS total_value
               FROM events
               WHERE event_type = 'purchase' AND value > 200
               GROUP BY 1),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
    days AS (SELECT unnest(generate_series(lo, hi)) AS day FROM bounds)
    SELECT days.day AS day,
           coalesce(n, 0) AS n,
           coalesce(total_value, 0.0) AS total_value
    FROM days LEFT JOIN d ON days.day = d.day
    """,
)
def timeseries_gapfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense daily series from sparse events: aggregate, then LEFT JOIN a
    generated calendar spine (sequence+explode) and zero-fill.  The spine
    is derived from a single min/max row — broadcast, so the join adds no
    shuffle beyond the aggregation's own.  Day = integer µs-epoch DIV
    86400e6: no session-timezone formatting anywhere."""
    ev = load_table(spark, sf_dir, "events")
    day_us = 86_400 * 1_000_000
    d = (
        ev.where((F.col("event_type") == "purchase") & (F.col("value") > 200))
        .groupBy(epoch_day_from_us(ts_us_expr(ev)).alias("day"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )
    spine = (
        d.agg(F.min("day").alias("lo"), F.max("day").alias("hi"))
        .select(F.explode(F.sequence("lo", "hi")).alias("day"))
    )
    return spine.join(d, "day", "left").select(
        "day",
        F.coalesce("n", F.lit(0)).alias("n"),
        F.coalesce("total_value", F.lit(0.0)).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Semi-structured: JSON extraction
# ---------------------------------------------------------------------------


@query(
    "json_extract_battery",
    oracle=f"""
    WITH j AS (SELECT CASE WHEN props IS NOT NULL AND json_valid(props)
                           THEN TRY_CAST(json_extract_string(props, '$.k')
                                         AS BIGINT) END AS k_val,
                      value
               FROM events)
    SELECT k_val % 10 AS k_bucket,
           CAST(count(*) AS BIGINT) AS n,
           CAST(max(k_val) AS BIGINT) AS max_k,
           {mean_quantized_signed_sql(
               f"sum({to_fixed_sql('value', 100)})",
               "100 * count(value)")} AS avg_value
    FROM j GROUP BY 1
    """,
)
def json_extract_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON field extraction from a string column (events.props carries
    the reference's metadata-blob pattern, SURVEY §2.1 scan_metadata_json)
    — get_json_object evaluates in the JVM, so the extract+cast+group
    stays in one codegen stage.  try_cast, not cast: a non-numeric $.k
    is NULL, never an ANSI CAST_INVALID_INPUT crash (the oracle mirrors
    with json_valid + TRY_CAST — DuckDB's json functions ERROR on
    malformed JSON where get_json_object returns NULL)."""
    ev = load_table(spark, sf_dir, "events")
    j = ev.select(
        F.get_json_object("props", "$.k").try_cast("bigint").alias("k_val"),
        "value",
    )
    # avg_value through the exact cents lane (2-dp money), per the
    # docs/OPERATIONS.md quantization contract — signed lane, since
    # value's non-negativity is domain knowledge, not a schema fact
    return j.groupBy((F.col("k_val") % 10).alias("k_bucket")).agg(
        F.count("*").alias("n"),
        F.max("k_val").alias("max_k"),
        mean_quantized_signed(
            F.sum(to_fixed("value", 100)), F.count("value") * 100
        ).alias("avg_value"),
    )


# ---------------------------------------------------------------------------
# Deterministic sampling
# ---------------------------------------------------------------------------


@query(
    "sample_deterministic",
    oracle=f"""
    WITH s AS (SELECT o_orderpriority, o_totalprice,
                      {hash59_sql("CAST(o_orderkey AS VARCHAR)")} % 10
                          AS slot
               FROM orders)
    SELECT o_orderpriority,
           CAST(count(*) FILTER (WHERE slot = 0) AS BIGINT) AS n_sampled,
           CAST(count(*) AS BIGINT) AS n_total,
           round(sum(o_totalprice) FILTER (WHERE slot = 0), 2) AS sampled_revenue
    FROM s GROUP BY o_orderpriority
    """,
)
def sample_deterministic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """~10% key-stable sample via the portable md5-slot hash (same bigint
    on both engines).  Unlike rand()-sampling this is reproducible across
    runs, engines, and partitionings — the property a training-data
    pipeline needs for holdout splits."""
    o = _t(spark, sf_dir, "orders")
    slot = hash59(F.col("o_orderkey").cast("string")) % 10
    s = o.select("o_orderpriority", "o_totalprice", slot.alias("slot"))
    return s.groupBy("o_orderpriority").agg(
        F.count_if(F.col("slot") == 0).alias("n_sampled"),
        F.count("*").alias("n_total"),
        F.round(F.sum(F.when(F.col("slot") == 0, F.col("o_totalprice"))), 2).alias(
            "sampled_revenue"
        ),
    )


# ---------------------------------------------------------------------------
# Null-safe join
# ---------------------------------------------------------------------------


@query(
    "join_null_safe",
    oracle="""
    WITH a AS (SELECT CASE WHEN o_orderkey % 13 = 0 THEN NULL
                           ELSE o_custkey % 50 END AS k,
                      o_totalprice
               FROM orders),
    b AS (SELECT DISTINCT CASE WHEN c_custkey % 17 = 0 THEN NULL
                               ELSE c_custkey % 50 END AS k
          FROM customer)
    SELECT coalesce(a.k, -1) AS k_bucket,
           CAST(count(*) AS BIGINT) AS n,
           round(sum(o_totalprice), 2) AS revenue
    FROM a JOIN b ON a.k IS NOT DISTINCT FROM b.k
    GROUP BY 1
    """,
)
def join_null_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Null-safe equality join (<=> / IS NOT DISTINCT FROM): NULL keys
    MATCH each other instead of vanishing — the semantics for joining on
    optional attributes.  Still hash-partitionable (NULL hashes to one
    bucket), so it stays a normal shuffle/broadcast hash join."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    a = o.select(
        F.when(F.col("o_orderkey") % 13 == 0, F.lit(None))
        .otherwise(F.col("o_custkey") % 50)
        .alias("k"),
        "o_totalprice",
    )
    b = c.select(
        F.when(F.col("c_custkey") % 17 == 0, F.lit(None))
        .otherwise(F.col("c_custkey") % 50)
        .alias("k")
    ).distinct()
    return (
        a.join(F.broadcast(b), a["k"].eqNullSafe(b["k"]))
        .groupBy(F.coalesce(a["k"], F.lit(-1)).alias("k_bucket"))
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Vector analytics: per-label centroids (long form)
# ---------------------------------------------------------------------------


@query(
    "vector_centroids",
    oracle="""
    WITH e AS (SELECT label, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    u AS (SELECT label, CAST(generate_subscripts(v, 1) AS BIGINT) AS pos,
                 unnest(v) AS x
          FROM e)
    SELECT label, pos, round(avg(x), 6) AS centroid_val,
           CAST(count(*) AS BIGINT) AS n_vecs
    FROM u GROUP BY label, pos
    """,
)
def vector_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroid in LONG form (label, dimension, mean).

    posexplode + hash-aggregate: one shuffle keyed by (label, pos) —
    at 100 TB this is the scalable layout (k*d tiny result rows, partial
    aggregation map-side) vs collecting vectors per label.  The k-means
    assignment step of similarity_ivf_topk consumes exactly this shape.
    posexplode is 0-based, generate_subscripts 1-based → pos+1."""
    e = _t(spark, sf_dir, "embeddings").select(
        "label", F.expr("CAST(embedding AS ARRAY<DOUBLE>)").alias("v")
    )
    u = e.select("label", F.posexplode("v").alias("pos0", "x"))
    return u.groupBy(
        "label", (F.col("pos0") + 1).cast("bigint").alias("pos")
    ).agg(
        F.round(F.avg("x"), 6).alias("centroid_val"),
        F.count("*").alias("n_vecs"),
    )


# ---------------------------------------------------------------------------
# Event funnel
# ---------------------------------------------------------------------------


@query(
    "events_funnel",
    oracle="""
    WITH m AS (SELECT user_id,
                      min(ts) FILTER (WHERE event_type = 'view') AS t_view,
                      min(ts) FILTER (WHERE event_type = 'click') AS t_click,
                      min(ts) FILTER (WHERE event_type = 'purchase') AS t_buy
               FROM events GROUP BY user_id)
    SELECT CAST(count(*) AS BIGINT) AS n_users,
           CAST(count(*) FILTER (WHERE t_view IS NOT NULL) AS BIGINT) AS n_viewed,
           CAST(count(*) FILTER (WHERE t_click > t_view) AS BIGINT) AS n_clicked_after_view,
           CAST(count(*) FILTER (WHERE t_buy > t_click AND t_click > t_view) AS BIGINT)
               AS n_full_funnel
    FROM m
    """,
)
def events_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered view→click→purchase funnel: first-touch times per user in
    ONE pass (conditional min aggregates), then ordering predicates —
    no self-joins, no per-stage scans; NULL comparisons drop non-
    participants exactly like the SQL FILTER.  Both engines compare
    first-touch times in their native tick unit (ns here, µs there);
    ordering is unit-invariant."""
    ev = load_table(spark, sf_dir, "events")

    def first_ts(t: str):
        return F.min(F.when(F.col("event_type") == t, F.col("ts")))

    m = ev.groupBy("user_id").agg(
        first_ts("view").alias("t_view"),
        first_ts("click").alias("t_click"),
        first_ts("purchase").alias("t_buy"),
    )
    return m.agg(
        F.count("*").alias("n_users"),
        F.count_if(F.col("t_view").isNotNull()).alias("n_viewed"),
        F.count_if(F.col("t_click") > F.col("t_view")).alias("n_clicked_after_view"),
        F.count_if(
            (F.col("t_buy") > F.col("t_click")) & (F.col("t_click") > F.col("t_view"))
        ).alias("n_full_funnel"),
    )


# ---------------------------------------------------------------------------
# Z-order clustering key
# ---------------------------------------------------------------------------

_Z_BITS = 8  # 8 bits per dimension -> 16-bit interleaved key


def _zorder_spark(xq, yq):
    """Interleave the low _Z_BITS of two quantized ints: bit i of x ->
    position 2i, of y -> 2i+1.  Pure integer expressions (codegen)."""
    one = F.lit(1).cast("bigint")
    z = F.lit(0).cast("bigint")
    for i in range(_Z_BITS):
        xbit = F.shiftright(xq, i).bitwiseAND(one)
        ybit = F.shiftright(yq, i).bitwiseAND(one)
        z = z.bitwiseOR(F.shiftleft(xbit, 2 * i).cast("bigint")).bitwiseOR(
            F.shiftleft(ybit, 2 * i + 1).cast("bigint")
        )
    return z


def _zorder_sql(xq: str, yq: str) -> str:
    terms = []
    for i in range(_Z_BITS):
        terms.append(f"((({xq} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({yq} >> {i}) & 1) << {2 * i + 1})")
    return "CAST(" + " | ".join(terms) + " AS BIGINT)"


@query(
    "zorder_key",
    oracle=f"""
    WITH q AS (SELECT l_orderkey, l_linenumber,
                      CAST(floor(l_extendedprice / 500) AS BIGINT) & 255 AS xq,
                      (CAST(l_quantity AS BIGINT) * 5) & 255 AS yq
               FROM lineitem)
    SELECT l_orderkey, l_linenumber, {_zorder_sql("xq", "yq")} AS zkey
    FROM q
    """,
)
def zorder_key(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering key over two quantized dimensions —
    the multi-dimensional data-skipping layout: range-partition + sort
    by zkey at write time and parquet row-group min/max stats prune BOTH
    predicates (evidence: tests/test_analytics.py).  The key is branch-
    free integer bit math; each dimension is scaled to fill its 8 bits —
    unused high bits would collapse the curve back to a 1-D sort."""
    li = _t(spark, sf_dir, "lineitem")
    return with_zorder_key(li).select("l_orderkey", "l_linenumber", "zkey")


def with_zorder_key(li: DataFrame) -> DataFrame:
    """Append the Morton key column to a lineitem frame in one projection
    (no join back — (l_orderkey, l_linenumber) is not unique in the
    synthetic data, and the write path needs key and payload in the same
    row anyway)."""
    q = li.withColumns(
        {
            "xq": F.floor(F.col("l_extendedprice") / 500)
            .cast("bigint")
            .bitwiseAND(F.lit(255).cast("bigint")),
            "yq": (F.col("l_quantity").cast("bigint") * 5).bitwiseAND(
                F.lit(255).cast("bigint")
            ),
        }
    )
    return q.withColumn("zkey", _zorder_spark(F.col("xq"), F.col("yq"))).drop(
        "xq", "yq"
    )


# ---------------------------------------------------------------------------
# Regex extraction battery
# ---------------------------------------------------------------------------


@query(
    "regex_extract_battery",
    oracle=r"""
    WITH w AS (SELECT doc_id, text,
                      regexp_split_to_array(text, '[^a-zA-Z0-9_]+') AS toks
               FROM documents)
    SELECT doc_id,
           regexp_extract(text, '(?:^|[^a-zA-Z0-9_])(s[a-z]+)', 1)
               AS first_s_word,
           CAST(len(list_filter(toks, x -> x = 'batch')) AS BIGINT)
               AS n_batch,
           CAST(len(list_filter(toks, x -> regexp_matches(x, '[a-z]e$')))
               AS BIGINT) AS n_e_final
    FROM w
    """,
)
def regex_extract_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Regex extraction/counting over the corpus — JVM-side regexp_*
    expressions (one codegen stage, no Python).  Patterns restricted to
    the RE2-compatible subset so Java's and DuckDB's engines agree —
    which rules out `\\b`: Java's word boundary is Unicode-aware (é is
    a word char) while RE2's is ASCII, so 'résumé' has an internal
    boundary in one engine and not the other (hostile-fixture find).
    Boundaries here are the EXPLICIT ASCII class: first-match via a
    group after start-or-non-word, and whole-word / word-final counts
    via the non-word-split token array, which both engines produce
    identically."""
    d = _t(spark, sf_dir, "documents")
    toks = F.split(F.col("text"), r"[^a-zA-Z0-9_]+")
    return d.select(
        "doc_id",
        F.regexp_extract("text", r"(?:^|[^a-zA-Z0-9_])(s[a-z]+)", 1).alias(
            "first_s_word"
        ),
        F.size(F.filter(toks, lambda x: x == F.lit("batch")))
        .cast("bigint")
        .alias("n_batch"),
        F.size(F.filter(toks, lambda x: x.rlike("[a-z]e$")))
        .cast("bigint")
        .alias("n_e_final"),
    )


# ---------------------------------------------------------------------------
# Set operations / subqueries / window first-last
# ---------------------------------------------------------------------------


@query(
    "set_ops_battery",
    oracle="""
    WITH a AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'F'),
    b AS (SELECT DISTINCT o_custkey AS k FROM orders WHERE o_orderstatus = 'O'),
    i AS (SELECT k FROM a INTERSECT SELECT k FROM b),
    e AS (SELECT k FROM a EXCEPT SELECT k FROM b)
    SELECT CAST((SELECT count(*) FROM a) AS BIGINT) AS n_a,
           CAST((SELECT count(*) FROM b) AS BIGINT) AS n_b,
           CAST((SELECT count(*) FROM i) AS BIGINT) AS n_both,
           CAST((SELECT count(*) FROM e) AS BIGINT) AS n_only_a
    """,
)
def set_ops_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT / EXCEPT set semantics (distinct-deduped, null-aware) —
    customers with finished vs open orders.  Spark plans these as
    left-semi / left-anti hash joins over the deduped sides: one shuffle
    each, no sort."""
    o = _t(spark, sf_dir, "orders")
    a = o.where(F.col("o_orderstatus") == "F").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    b = o.where(F.col("o_orderstatus") == "O").select(
        F.col("o_custkey").alias("k")
    ).distinct()
    counts = [
        a.count(),
        b.count(),
        a.intersect(b).count(),
        a.exceptAll(b).count(),
    ]
    # scalar battery: assemble the four counts into one row (each count
    # is a distributed job; only the 4 scalars touch the driver)
    return spark.createDataFrame(
        [tuple(counts)], "n_a bigint, n_b bigint, n_both bigint, n_only_a bigint"
    )


@query(
    "scalar_subquery_filter",
    oracle="""
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_above_avg,
           round(min(o_totalprice), 2) AS min_price
    FROM orders
    WHERE o_totalprice > (SELECT avg(o_totalprice) FROM orders)
    GROUP BY o_orderpriority
    """,
)
def scalar_subquery_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar-subquery predicate (orders above the mean price), executed
    through the SQL front end — Catalyst evaluates the subquery once and
    broadcasts the scalar into the filter, not per-row."""
    from .sources.tables import load_table

    load_table(spark, sf_dir, "orders").createOrReplaceTempView("__orders_ssq")
    return spark.sql(
        """
        SELECT o_orderpriority,
               CAST(count(*) AS BIGINT) AS n_above_avg,
               round(min(o_totalprice), 2) AS min_price
        FROM __orders_ssq
        WHERE o_totalprice > (SELECT avg(o_totalprice) FROM __orders_ssq)
        GROUP BY o_orderpriority
        """
    )


@query(
    "window_first_last_battery",
    oracle="""
    SELECT event_id,
           first_value(value) OVER w AS first_val,
           last_value(value) OVER w AS last_val,
           nth_value(value, 2) OVER w AS second_val
    FROM events WHERE ts IS NOT NULL
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING)
    """,
)
def window_first_last_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """first/last/nth value over a full-partition frame — the frame is
    pinned UNBOUNDED..UNBOUNDED so 'last' means the partition's last row
    (the default frame would make last_value = current row), and the
    order includes the unique event_id so every position is total-
    ordered."""
    from .sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    )
    return ev.select(
        "event_id",
        F.first("value").over(w).alias("first_val"),
        F.last("value").over(w).alias("last_val"),
        F.nth_value("value", 2).over(w).alias("second_val"),
    )


# ---------------------------------------------------------------------------
# SCD2 state history (CDC change log → validity intervals)
# ---------------------------------------------------------------------------


@query(
    "scd2_state_history",
    oracle="""
    WITH e AS (SELECT user_id, event_id, event_type,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
               FROM events WHERE ts IS NOT NULL),
    ch AS (SELECT * FROM (
             SELECT user_id, event_id, event_type, ts_us,
                    lag(event_type) OVER (PARTITION BY user_id
                                          ORDER BY ts_us, event_id) AS prev
             FROM e)
           WHERE prev IS NULL OR prev <> event_type)
    SELECT user_id, event_id, event_type,
           ts_us AS valid_from_us,
           lead(ts_us) OVER (PARTITION BY user_id
                             ORDER BY ts_us, event_id) AS valid_to_us,
           (lead(ts_us) OVER (PARTITION BY user_id
                              ORDER BY ts_us, event_id) IS NULL) AS is_current
    FROM ch
    """,
)
def scd2_state_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD type-2 history build from a change log: collapse consecutive
    identical states per entity, then close each surviving row's
    validity interval with the next change's timestamp (open interval +
    is_current for the latest) — the standard warehouse pattern for
    dimension history without a transactional MERGE.

    Two window passes over the SAME (user_id → ts) partitioning: the
    state-change filter and the interval close reuse one shuffle
    (Catalyst plans a single Exchange).  Deterministic total order via
    (ts, event_id) so both engines agree on ties."""
    ev_raw = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    ev = ev_raw.select(
        "user_id", "event_id", "event_type", ts_us_expr(ev_raw).alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changes = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .drop("prev")
    )
    return changes.select(
        "user_id",
        "event_id",
        "event_type",
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(w).alias("valid_to_us"),
        F.lead("ts_us").over(w).isNull().alias("is_current"),
    )


@query(
    "window_range_time_frame",
    oracle="""
    WITH e AS (SELECT event_id, user_id, value,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
               FROM events)
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS n_last_hour,
           round(sum(value) OVER w, 6) AS sum_last_hour
    FROM e
    WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                 RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW)
    """,
)
def window_range_time_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE frame over event time: per user, rolling 1-hour count/sum
    ending at each event.  A RANGE frame bounds by the ORDER BY *value*
    (here microseconds), not a row count — ROWS frames buffer a fixed
    row window, RANGE frames slide by time and absorb bursts, which is
    the semantics monitoring/feature pipelines actually want.  Executes
    per-partition after one (user_id) shuffle; ties in ts share a frame
    on both engines by definition."""
    ev_raw = _t(spark, sf_dir, "events")
    ev = ev_raw.select(
        "event_id", "user_id", "value", ts_us_expr(ev_raw).alias("ts_us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-3_600_000_000, Window.currentRow)
    )
    return ev.select(
        "event_id",
        "user_id",
        F.count("*").over(w).alias("n_last_hour"),
        F.round(F.sum("value").over(w), 6).alias("sum_last_hour"),
    )


# ---------------------------------------------------------------------------
# Analytic-surface batch 4: interval coverage, dictionary tagging,
# mergeable partial aggregates, vector quantization, tolerant as-of,
# distribution-window battery
# ---------------------------------------------------------------------------


@query(
    "interval_coverage_profile",
    oracle="""
    WITH iv AS (SELECT l.l_orderkey,
                       date_diff('day', DATE '1970-01-01', CAST(o.o_orderdate AS DATE))
                           AS d0,
                       date_diff('day', DATE '1970-01-01', CAST(l.l_shipdate AS DATE))
                           AS d1
                FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey),
    days AS (SELECT l_orderkey, unnest(generate_series(d0, d1)) AS day_id
             FROM iv WHERE d1 >= d0)
    SELECT CAST(day_id AS BIGINT) AS day_id,
           CAST(count(*) AS BIGINT) AS n_open,
           CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
    FROM days GROUP BY day_id
    """,
)
def interval_coverage_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval→point coverage: for every calendar day, how many
    lineitems are "open" (ordered but not yet shipped), and how many
    distinct orders — computed by the SWEEP (difference-array) method,
    never by exploding each interval into its days.

    Per-interval day explosion costs Σ interval-length rows (at sf0.1
    that is hundreds of millions — measured 514 s; the sweep is ~1 s);
    instead each interval contributes a +1 delta at its start day and a
    -1 after its end, a map-side-combinable aggregate collapses deltas
    per day, and a running sum turns deltas into open counts.  The
    distinct-order count sweeps the same way because an order's line
    intervals all share the order date, so their union is the single
    interval [d0, max(d1)].  Segments between consecutive delta days
    have constant counts; only those segments are expanded back into
    day rows — the expansion is bounded by the CALENDAR span, not by
    interval lengths.  The one global window runs over delta days only
    (≤ 2·span rows) after all heavy lifting is aggregated.  Day ids are
    epoch-day integers end to end — never a session-timezone format."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    iv = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_orderkey",
            epoch_day_expr("o_orderdate").alias("d0"),
            epoch_day_expr("l_shipdate").alias("d1"),
        )
        .where(F.col("d1") >= F.col("d0"))
    )
    line_deltas = iv.select(
        F.explode(
            F.array(
                F.struct(F.col("d0").alias("day"), F.lit(1).alias("dl")),
                F.struct((F.col("d1") + 1).alias("day"), F.lit(-1).alias("dl")),
            )
        ).alias("e")
    ).select("e.day", "e.dl", F.lit(0).alias("do"))
    order_iv = iv.groupBy("l_orderkey").agg(
        F.min("d0").alias("d0"), F.max("d1").alias("d1")
    )
    order_deltas = order_iv.select(
        F.explode(
            F.array(
                F.struct(F.col("d0").alias("day"), F.lit(1).alias("do")),
                F.struct((F.col("d1") + 1).alias("day"), F.lit(-1).alias("do")),
            )
        ).alias("e")
    ).select("e.day", F.lit(0).alias("dl"), "e.do")
    deltas = (
        line_deltas.unionByName(order_deltas)
        .groupBy("day")
        .agg(F.sum("dl").alias("dl"), F.sum("do").alias("do"))
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, Window.currentRow)
    runs = deltas.select(
        "day",
        F.sum("dl").over(w).alias("n_open"),
        F.sum("do").over(w).alias("n_orders"),
        (F.lead("day").over(Window.orderBy("day")) - 1).alias("seg_end"),
    ).where(F.col("n_open") > 0)
    return runs.select(
        F.explode(F.sequence("day", F.coalesce("seg_end", "day"))).alias("day_id"),
        F.col("n_open").cast("bigint").alias("n_open"),
        F.col("n_orders").cast("bigint").alias("n_orders"),
    ).select("day_id", "n_open", "n_orders")


# term → category tag dictionary (broadcast dim); mirrors an NER-style
# gazetteer lookup at training-pipeline scale.
_TAG_DICT = [
    ("scan", "exec"), ("join", "exec"), ("agg", "exec"), ("sort", "exec"),
    ("merge", "exec"), ("hash", "exec"), ("filter", "exec"),
    ("table", "data"), ("row", "data"), ("column", "data"),
    ("value", "data"), ("batch", "data"), ("stream", "data"),
    ("vector", "data"),
]


@query(
    "dict_tag_terms",
    oracle=rf"""
    WITH dict AS ({_values_sql(_TAG_DICT, ["term", "category"])}),
    tok AS (SELECT doc_id, source,
                   unnest({tokens_sql()}) AS term
            FROM documents)
    SELECT source, category,
           CAST(count(*) AS BIGINT) AS n_hits,
           CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
    FROM tok JOIN dict USING (term)
    GROUP BY source, category
    """,
)
def dict_tag_terms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gazetteer tagging: count dictionary-term hits per (source,
    category) — the distributed shape of dictionary NER/keyword tagging.

    The gazetteer is folded into per-row higher-order-function counts
    (one size(filter(tokens, isin(category terms))) per category): no
    token explode, no join, no expand for the distinct-doc count — one
    narrow projection and one combinable (source, category) aggregate.
    (The explode + broadcast-join formulation is the fallback when the
    dictionary outgrows a literal list; measured 15.1 s vs ~1 s for the
    HOF plan at sf0.1 — the explode multiplied the corpus by its token
    count and the count-distinct doubled it again via Expand.)"""
    from .extensions.text import tokens

    d = _t(spark, sf_dir, "documents")
    cats = sorted({c for _, c in _TAG_DICT})
    terms = {c: [t for t, cc in _TAG_DICT if cc == c] for c in cats}
    toks = tokens("text")

    def _cat_hits(terms_c):
        # one-arg lambda: F.filter dispatches on arity, a second
        # parameter would receive the element index
        return F.size(F.filter(toks, lambda t: t.isin(terms_c)))

    hits = d.select(
        "source",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(c).alias("category"),
                        _cat_hits(terms[c]).alias("hits"),
                    )
                    for c in cats
                ]
            )
        ).alias("e"),
    ).select("source", "e.category", "e.hits")
    return (
        hits.groupBy("source", "category")
        .agg(
            F.sum("hits").cast("bigint").alias("n_hits"),
            F.count_if(F.col("hits") > 0).alias("n_docs"),
        )
        # the oracle's inner join never emits zero-hit groups
        .where(F.col("n_hits") > 0)
    )


@query(
    "agg_partial_merge",
    oracle=f"""
    WITH p AS (SELECT o_orderpriority, o_orderkey % 8 AS shard,
                      sum(CAST(o_totalprice AS DECIMAL(18,4))) AS s,
                      CAST(count(*) AS BIGINT) AS c
               FROM orders GROUP BY o_orderpriority, shard)
    SELECT o_orderpriority,
           CAST(sum(c) AS BIGINT) AS n,
           round(CAST(sum(s) AS DOUBLE), 2) AS total,
           {mean_quantized_sql(
               "CAST(sum(s) * 10000 AS HUGEINT)", "sum(c) * 10000"
           )} AS avg_price
    FROM p GROUP BY o_orderpriority
    """,
)
def agg_partial_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable partial-aggregate state (incremental view maintenance):
    per-shard partials of (sum, count) are merged into exact global
    avg — avg is NOT averaged, its algebraic state is.  This is the
    pattern behind incremental refresh at 100 TB: yesterday's partials
    persist, only new shards aggregate, and the merge is a tiny second
    stage.  Sums run in DECIMAL(18,4) so the two-level fold is exactly
    the one-level fold regardless of partial order (double addition is
    not associative; decimal is)."""
    o = _t(spark, sf_dir, "orders")
    p = o.groupBy(
        "o_orderpriority", (F.col("o_orderkey") % 8).alias("shard")
    ).agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("s"),
        F.count("*").alias("c"),
    )
    return (
        p.groupBy("o_orderpriority")
        .agg(
            F.sum("c").alias("n"),
            F.round(F.sum("s").cast("double"), 2).alias("total"),
            # exact integer 1e-4-dollar units of the decimal sum — the
            # quantized mean divides integers, never rounds a decimal
            # quotient (docs/OPERATIONS.md quantization contract)
            (F.sum("s") * 10000).cast("decimal(38,0)").alias("__s4"),
        )
        .select(
            "o_orderpriority",
            "n",
            "total",
            mean_quantized("__s4", F.col("n") * F.lit(10_000)).alias("avg_price"),
        )
    )


@query(
    "vector_quantize_int8",
    oracle="""
    WITH e AS (SELECT vec_id,
                      list_transform(embedding, y -> CAST(y AS DOUBLE)) AS v
               FROM embeddings),
    m AS (SELECT vec_id, v,
                 list_aggregate(list_transform(v, y -> abs(y)), 'max') AS amax
          FROM e)
    SELECT vec_id,
           CAST(generate_subscripts(v, 1) AS INT) AS dim,
           CAST(round(unnest(v) / amax * 127, 0) AS INT) AS q
    FROM m WHERE amax > 0
    """,
)
def vector_quantize_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 scalar quantization of an embedding column: per
    vector, scale by 127/max|x| and round each dimension — the storage/
    bandwidth move every billion-vector ANN index makes (4 bytes → 1
    byte per dim).  Long-form output (vec_id, dim, q) keeps the result
    hashable cross-engine.

    Everything is per-row array math (higher-order max fold + one
    posexplode): no shuffle, no UDF; at 100 TB quantization is a pure
    map stage feeding the index writer."""
    e = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        F.transform("embedding", lambda y: y.cast("double")).alias("v"),
    )
    m = e.select(
        "vec_id",
        "v",
        F.aggregate(
            F.transform("v", F.abs), F.lit(0.0), lambda acc, x: F.greatest(acc, x)
        ).alias("amax"),
    ).where(F.col("amax") > 0)
    exploded = m.select("vec_id", "amax", F.posexplode("v").alias("pos", "x"))
    return exploded.select(
        "vec_id",
        (F.col("pos") + 1).cast("int").alias("dim"),
        F.round(F.col("x") / F.col("amax") * 127, 0).cast("int").alias("q"),
    )


_ASOF_TOL_US = 600_000_000  # 10 minutes


@query(
    "join_asof_tolerance",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, event_type,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
    w AS (SELECT event_id, user_id, event_type, ts_us,
                 last_value(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click
          FROM e)
    SELECT event_id, user_id, ts_us AS purchase_ts_us,
           CASE WHEN ts_us - last_click <= {_ASOF_TOL_US}
                THEN last_click END AS click_ts_us,
           (last_click IS NOT NULL AND ts_us - last_click <= {_ASOF_TOL_US})
               AS attributed
    FROM w WHERE event_type = 'purchase'
    """,
)
def join_asof_tolerance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join with a match tolerance: a purchase is
    attributed to the user's most recent prior click only when the gap
    is within 10 minutes — the bounded-staleness variant (pandas
    merge_asof's ``tolerance``) every feature-store lookup needs.  Same
    single-window shape as the unbounded as-of (no join, no range
    explosion); the tolerance is a post-window predicate, so the scale
    story is unchanged."""
    from .operators.asof import asof_prior_event

    ev_raw = _t(spark, sf_dir, "events")
    ev = ev_raw.select(
        "event_id", "user_id", "event_type", ts_us_expr(ev_raw).alias("ts_us")
    )
    out = asof_prior_event(
        ev,
        key="user_id",
        time_col="ts_us",
        match=F.col("event_type") == "click",
        select_when=F.col("event_type") == "purchase",
    )
    within = F.col("ts_us") - F.col("asof_ts") <= _ASOF_TOL_US
    return out.select(
        "event_id",
        "user_id",
        F.col("ts_us").alias("purchase_ts_us"),
        F.when(within, F.col("asof_ts")).alias("click_ts_us"),
        (F.col("asof_ts").isNotNull() & within).alias("attributed"),
    )


@query(
    "window_distribution_battery",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round(percent_rank() OVER w, 6) AS pct_rank,
           round(cume_dist() OVER w, 6) AS cume,
           round(c_acctbal / sum(c_acctbal) OVER (PARTITION BY c_mktsegment), 6)
               AS ratio_to_report
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment ORDER BY c_acctbal, c_custkey)
    """,
)
def window_distribution_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-rank windows: percent_rank / cume_dist over a
    deterministic total order plus ratio-to-report against the partition
    total — the remaining SQL:2003 window family not yet covered by the
    rank battery.  One (segment) shuffle serves all three frames."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment").orderBy("c_acctbal", "c_custkey")
    wp = Window.partitionBy("c_mktsegment")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round(F.percent_rank().over(w), 6).alias("pct_rank"),
        F.round(F.cume_dist().over(w), 6).alias("cume"),
        F.round(F.col("c_acctbal") / F.sum("c_acctbal").over(wp), 6).alias(
            "ratio_to_report"
        ),
    )


# ---------------------------------------------------------------------------
# Sequence mining: per-user ordered event strings + pattern counting
# ---------------------------------------------------------------------------


@query(
    "events_sequence_pattern",
    oracle="""
    WITH e AS (SELECT user_id, event_id,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                      substr(event_type, 1, 1) AS letter
               FROM events WHERE ts IS NOT NULL),
    s AS (SELECT user_id,
                 string_agg(letter, '' ORDER BY ts_us, event_id) AS seq
          FROM e GROUP BY user_id)
    SELECT user_id, seq,
           CAST(len(regexp_extract_all(seq, 'v[^p]*c[^p]*p')) AS BIGINT)
               AS n_funnels
    FROM s
    """,
)
def events_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence mining via regex over per-user event strings: encode each
    user's time-ordered events as a letter string (event types have
    distinct initials) and count non-overlapping view->click->purchase
    funnels that complete before an intervening purchase — the
    MATCH_RECOGNIZE shape expressed portably.

    One (user_id) shuffle builds the sequences; collect_list + array_sort
    on (ts_us, event_id) structs gives a deterministic total order
    without an ordered-aggregation primitive, and per-user event counts
    bound the collected array (the same cardinality argument as the
    sessionizer)."""
    ev_raw = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    ev = ev_raw.select(
        "user_id",
        F.struct(
            ts_us_expr(ev_raw).alias("ts_us"),
            F.col("event_id").alias("event_id"),
            F.substring("event_type", 1, 1).alias("letter"),
        ).alias("ev"),
    )
    seq = ev.groupBy("user_id").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list("ev")), lambda s: s.getField("letter")
            ),
            "",
        ).alias("seq")
    )
    return seq.select(
        "user_id",
        "seq",
        F.regexp_count("seq", F.lit("v[^p]*c[^p]*p")).cast("bigint").alias(
            "n_funnels"
        ),
    )


# ---------------------------------------------------------------------------
# Snapshot reconciliation: full-outer diff of two table versions
# ---------------------------------------------------------------------------


@query(
    "table_diff_reconcile",
    oracle=f"""
    WITH b AS (SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM orders),
    s AS (SELECT *, {hash59_sql("CAST(o_orderkey AS VARCHAR)")} % 100
                 AS slot
          FROM b),
    rev AS (
      SELECT o_orderkey, o_custkey,
             CASE WHEN slot % 13 = 0 THEN round(o_totalprice * 1.1, 2)
                  ELSE o_totalprice END AS o_totalprice,
             o_orderstatus
      FROM s WHERE slot % 17 != 0
      UNION ALL
      SELECT o_orderkey + 100000000, o_custkey, o_totalprice, o_orderstatus
      FROM s WHERE slot % 19 = 0),
    d AS (SELECT CASE WHEN b.o_orderkey IS NULL THEN 'added'
                      WHEN r.o_orderkey IS NULL THEN 'removed'
                      WHEN b.o_totalprice != r.o_totalprice
                           OR b.o_custkey != r.o_custkey
                           OR b.o_orderstatus != r.o_orderstatus THEN 'changed'
                      ELSE 'same' END AS status
          FROM b FULL OUTER JOIN rev r ON b.o_orderkey = r.o_orderkey)
    SELECT status, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY status
    """,
)
def table_diff_reconcile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data reconciliation between two table snapshots: ONE full-outer
    join on the key classifies every row as added / removed / changed /
    same — the validation step every migration or backfill runs.  The
    'revision' is derived from the base by key-stable md5 slots (6%
    removed, 8% modified, 6% inserted) so both engines build identical
    snapshots independently.

    Scale: a co-partitioned key join plus a map-side-combinable count —
    the same shape at 100 TB, and tables bucketed on the key drop the
    shuffle entirely."""
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    slot = hash59(F.col("o_orderkey").cast("string")) % 100
    s = base.withColumn("slot", slot)
    rev = (
        s.where(F.col("slot") % 17 != 0)
        .select(
            "o_orderkey",
            "o_custkey",
            F.when(
                F.col("slot") % 13 == 0, F.round(F.col("o_totalprice") * 1.1, 2)
            )
            .otherwise(F.col("o_totalprice"))
            .alias("o_totalprice"),
            "o_orderstatus",
        )
        .unionAll(
            s.where(F.col("slot") % 19 == 0).select(
                (F.col("o_orderkey") + F.lit(100_000_000)).alias("o_orderkey"),
                "o_custkey",
                "o_totalprice",
                "o_orderstatus",
            )
        )
    )
    b = base.alias("b")
    r = rev.alias("r")
    joined = b.join(r, F.col("b.o_orderkey") == F.col("r.o_orderkey"), "full_outer")
    status = (
        F.when(F.col("b.o_orderkey").isNull(), "added")
        .when(F.col("r.o_orderkey").isNull(), "removed")
        .when(
            (F.col("b.o_totalprice") != F.col("r.o_totalprice"))
            | (F.col("b.o_custkey") != F.col("r.o_custkey"))
            | (F.col("b.o_orderstatus") != F.col("r.o_orderstatus")),
            "changed",
        )
        .otherwise("same")
    )
    return joined.groupBy(status.alias("status")).agg(F.count("*").alias("n"))


# ---------------------------------------------------------------------------
# Group-wise feature scaling
# ---------------------------------------------------------------------------


@query(
    "normalize_zscore_group",
    oracle="""
    SELECT c_custkey, c_mktsegment,
           round((c_acctbal - avg(c_acctbal) OVER w)
                 / stddev_samp(c_acctbal) OVER w, 6) AS z
    FROM customer
    WINDOW w AS (PARTITION BY c_mktsegment)
    """,
)
def normalize_zscore_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group z-score standardization — the feature-scaling step of
    every tabular training pipeline, as one unbounded window over the
    group (mean and stddev share the single (segment) shuffle).  The
    co-moment aggregates merge stably, so the rounded value is fold-
    order-proof (same convention as agg_stats_battery)."""
    c = _t(spark, sf_dir, "customer")
    w = Window.partitionBy("c_mktsegment")
    return c.select(
        "c_custkey",
        "c_mktsegment",
        F.round(
            (F.col("c_acctbal") - F.avg("c_acctbal").over(w))
            / F.stddev_samp("c_acctbal").over(w),
            6,
        ).alias("z"),
    )


@query(
    "agg_winsorize",
    oracle=f"""
    WITH p AS (SELECT c_mktsegment,
                      quantile_cont(c_acctbal, 0.05) AS p05,
                      quantile_cont(c_acctbal, 0.95) AS p95
               FROM customer GROUP BY c_mktsegment)
    SELECT c.c_mktsegment,
           round(p.p05, 6) AS p05,
           round(p.p95, 6) AS p95,
           {mean_quantized_signed_sql(
               f"sum({to_fixed_sql('c.c_acctbal', 100)})",
               "100 * count(*)")} AS avg_raw,
           round(avg(least(greatest(c.c_acctbal, p.p05), p.p95)), 6)
               AS avg_winsorized
    FROM customer c JOIN p ON c.c_mktsegment = p.c_mktsegment
    GROUP BY c.c_mktsegment, p.p05, p.p95
    """,
)
def agg_winsorize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winsorized (clamped-tail) aggregation: exact interpolated P5/P95
    per group, broadcast back onto the rows, values clamped into the
    band, then re-aggregated — outlier-robust statistics without
    dropping rows.  Two passes over one (segment) partitioning; the
    tiny per-group bounds frame broadcasts, so no extra shuffle for the
    clamp join.  At 100 TB the percentile pass swaps to the t-digest
    sketch plan-compatibly (agg_percentiles' convention)."""
    c = _t(spark, sf_dir, "customer")
    p = c.groupBy("c_mktsegment").agg(
        F.expr("percentile(c_acctbal, 0.05)").alias("p05"),
        F.expr("percentile(c_acctbal, 0.95)").alias("p95"),
    )
    clamped = c.join(F.broadcast(p), "c_mktsegment").select(
        "c_mktsegment",
        "p05",
        "p95",
        "c_acctbal",
        F.least(F.greatest(F.col("c_acctbal"), F.col("p05")), F.col("p95")).alias(
            "clamped"
        ),
    )
    # avg_raw is an exact-integer ratio (2-dp money): published via the
    # signed quantized lane (acctbal can be negative), never
    # round(double-mean, 6) — docs/OPERATIONS.md quantization contract.
    # avg_winsorized keeps round(): its operands include the
    # interpolated P5/P95 (documented irrational-residual class).
    return clamped.groupBy("c_mktsegment", "p05", "p95").agg(
        mean_quantized_signed(
            F.sum(to_fixed("c_acctbal", 100)), F.count("*") * 100
        ).alias("avg_raw"),
        F.round(F.avg("clamped"), 6).alias("avg_winsorized"),
    ).select(
        "c_mktsegment",
        F.round("p05", 6).alias("p05"),
        F.round("p95", 6).alias("p95"),
        "avg_raw",
        "avg_winsorized",
    )


# ---------------------------------------------------------------------------
# Multi-touch attribution over the event stream
# ---------------------------------------------------------------------------

_TOUCH_WINDOW_US = 600_000_000  # 10 minutes


@query(
    "attribution_multitouch_linear",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, event_type,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
               FROM events),
    w AS (SELECT event_id, user_id, event_type, ts_us,
                 CAST(count(*) FILTER (WHERE event_type = 'click')
                      OVER (PARTITION BY user_id ORDER BY ts_us
                            RANGE BETWEEN {_TOUCH_WINDOW_US} PRECEDING
                                      AND 1 PRECEDING) AS BIGINT) AS n_touch
          FROM e)
    SELECT event_id, user_id, ts_us AS purchase_ts_us, n_touch,
           {mean_quantized_sql("1", "n_touch")} AS credit_per_touch
    FROM w WHERE event_type = 'purchase'
    """,
)
def attribution_multitouch_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase splits one unit of
    credit equally across ALL the user's clicks in the preceding 10
    minutes — the many-touch generalization of the single-touch as-of
    join (join_asof_tolerance).  Expressed as one conditional count over
    a RANGE frame: no join, no interval explosion; the frame bound is
    event-time value-based, so bursts don't widen state.  One (user_id)
    shuffle serves the whole computation."""
    ev_raw = _t(spark, sf_dir, "events")
    ev = ev_raw.select(
        "event_id", "user_id", "event_type", ts_us_expr(ev_raw).alias("ts_us")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us")
        .rangeBetween(-_TOUCH_WINDOW_US, -1)
    )
    n_touch = F.count(
        F.when(F.col("event_type") == "click", F.lit(1))
    ).over(w)
    return (
        ev.withColumn("n_touch", n_touch.cast("bigint"))
        .where(F.col("event_type") == "purchase")
        .select(
            "event_id",
            "user_id",
            F.col("ts_us").alias("purchase_ts_us"),
            "n_touch",
            mean_quantized(F.lit(1), "n_touch").alias("credit_per_touch"),
        )
    )


# ---------------------------------------------------------------------------
# Privacy audit: k-anonymity over quasi-identifiers
# ---------------------------------------------------------------------------

K_ANON_THRESHOLD = 5


@query(
    "privacy_k_anonymity",
    oracle=f"""
    SELECT c_mktsegment,
           CAST(c_nationkey AS BIGINT) AS c_nationkey,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
           CAST(count(*) AS BIGINT) AS n,
           count(*) < {K_ANON_THRESHOLD} AS at_risk
    FROM customer
    GROUP BY 1, 2, 3
    """,
)
def privacy_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity audit: equivalence-class sizes over the quasi-
    identifier combination (segment, nation, coarse balance band);
    classes smaller than k={K_ANON_THRESHOLD} are re-identification
    risks that a release pipeline must generalize or suppress.  One
    combinable aggregation — the audit costs a single shuffle at any
    scale, and the banding column shows the generalization knob."""
    c = _t(spark, sf_dir, "customer")
    return c.groupBy(
        "c_mktsegment",
        F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
        F.floor(F.col("c_acctbal") / 1000).alias("bal_band"),
    ).agg(
        F.count("*").alias("n"),
        (F.count("*") < K_ANON_THRESHOLD).alias("at_risk"),
    )


# ---------------------------------------------------------------------------
# Hierarchy traversal: bounded-depth transitive closure
# ---------------------------------------------------------------------------

_HIER_MAX_DEPTH = 6


@query(
    "hierarchy_ancestor_paths",
    oracle="""
    WITH RECURSIVE edges AS (
      SELECT c_custkey AS key, c_custkey // 10 AS parent FROM customer
    ),
    walk(key, anc, depth) AS (
      SELECT key, parent, 1 FROM edges WHERE key > 0
      UNION ALL
      SELECT w.key, e.parent, w.depth + 1
      FROM walk w JOIN edges e ON w.anc = e.key
      WHERE w.anc > 0
    )
    SELECT key AS c_custkey,
           CAST(count(*) AS BIGINT) AS n_ancestors,
           string_agg(CAST(anc AS VARCHAR), '/' ORDER BY depth) AS path
    FROM walk GROUP BY key
    """,
)
def hierarchy_ancestor_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded-depth hierarchy traversal (transitive closure): every
    customer's ancestor chain in a parent tree (parent = key DIV 10 —
    a synthetic but genuinely tree-shaped org/BOM stand-in), built by
    UNROLLED self-joins on the edge table: depth is bounded (max key
    14999 → ≤ 6 levels), so the whole closure is ONE lazy plan — no
    driver loop, no checkpointing, and Catalyst sees every level for
    reuse.  The per-key path string aggregates the ancestors in depth
    order (deterministic).  For unbounded-depth graphs the Pregel loop
    (extensions/dedup.py::connected_components) is the fallback; for
    hierarchies — org charts, BOMs, category trees — the bounded unroll
    is the faster, planner-friendly shape."""
    c = _t(spark, sf_dir, "customer")
    edges = c.select(
        F.col("c_custkey").alias("key"),
        (F.col("c_custkey") / 10).cast("bigint").alias("parent"),
    )
    level = edges.where(F.col("key") > 0).select(
        "key", F.col("parent").alias("anc"), F.lit(1).alias("depth")
    )
    all_levels = level
    e2 = edges.select(F.col("key").alias("__k"), F.col("parent").alias("__p"))
    for _ in range(_HIER_MAX_DEPTH - 1):
        level = (
            level.where(F.col("anc") > 0)
            .join(e2, F.col("anc") == F.col("__k"))
            .select("key", F.col("__p").alias("anc"), (F.col("depth") + 1).alias("depth"))
        )
        all_levels = all_levels.unionByName(level)
    return (
        all_levels.groupBy("key")
        .agg(
            F.count("*").alias("n_ancestors"),
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(F.struct("depth", F.col("anc")))
                    ),
                    lambda s: s.getField("anc").cast("string"),
                ),
                "/",
            ).alias("path"),
        )
        .select(F.col("key").alias("c_custkey"), "n_ancestors", "path")
    )


@query(
    "agg_null_semantics_battery",
    oracle=f"""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(nullif(l_quantity, 50)) AS BIGINT) AS n_vals,
           round(sum(nullif(l_quantity, 50)), 2) AS sum_v,
           {mean_quantized_sql(
               "sum(CAST(nullif(l_quantity, 50) AS BIGINT))",
               "count(nullif(l_quantity, 50))",
           )} AS avg_v,
           round(min(nullif(l_quantity, 50)), 2) AS min_v,
           CAST(count(DISTINCT nullif(l_quantity, 50)) AS BIGINT) AS n_distinct,
           round(sum(coalesce(nullif(l_quantity, 50), 0)), 2) AS sum_coalesced
    FROM lineitem GROUP BY l_returnflag
    """,
)
def agg_null_semantics_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NULL-skipping aggregation semantics pinned cross-engine: count(col)
    vs count(*), null-skipping sum/avg/min, distinct-with-nulls, and the
    coalesce-to-zero variant — the SQL-standard behaviors a migration
    silently breaks when a source engine treated NULLs differently.
    Nulls are derived deterministically (nullif on a real value) since
    the synthetic tables ship none."""
    li = _t(spark, sf_dir, "lineitem")
    v = F.nullif(F.col("l_quantity"), F.lit(50))
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count("*").alias("n_rows"),
            F.count(v).alias("n_vals"),
            F.round(F.sum(v), 2).alias("sum_v"),
            F.sum(v.cast("bigint")).alias("__sum_v"),
            F.round(F.min(v), 2).alias("min_v"),
            F.countDistinct(v).alias("n_distinct"),
            F.round(F.sum(F.coalesce(v, F.lit(0))), 2).alias("sum_coalesced"),
        )
        .select(
            "l_returnflag",
            "n_rows",
            "n_vals",
            "sum_v",
            mean_quantized("__sum_v", "n_vals").alias("avg_v"),
            "min_v",
            "n_distinct",
            "sum_coalesced",
        )
    )


@query(
    "cohort_retention",
    oracle="""
    WITH e AS (SELECT user_id,
                      CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS day
               FROM events),
    active AS (SELECT DISTINCT user_id, day FROM e),
    firsts AS (SELECT user_id, min(day) AS cohort_day FROM active GROUP BY user_id)
    SELECT f.cohort_day,
           a.day - f.cohort_day AS day_offset,
           CAST(count(*) AS BIGINT) AS n_users
    FROM active a JOIN firsts f ON a.user_id = f.user_id
    GROUP BY 1, 2
    """,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention: users bucketed by first-seen day, counted at
    each day-offset of later activity — the standard retention triangle
    in long form.  The cohort dimension is SELF-derived (min-day per
    user shares the (user) shuffle with the distinct-activity set), the
    cohort join is key-co-partitioned, and the final rollup is
    combinable.  Day ids are epoch-day integers end to end."""
    ev_raw = _t(spark, sf_dir, "events")
    day_us = 86_400 * 1_000_000
    ev = ev_raw.select(
        "user_id", epoch_day_from_us(ts_us_expr(ev_raw)).alias("day")
    )
    active = ev.distinct()
    firsts = active.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        active.join(firsts, "user_id")
        .groupBy(
            "cohort_day", (F.col("day") - F.col("cohort_day")).alias("day_offset")
        )
        .agg(F.count("*").alias("n_users"))
    )


@query(
    "basket_association_rules",
    oracle=f"""
    WITH op AS (SELECT DISTINCT l_orderkey, l_partkey FROM lineitem),
    n AS (SELECT CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders FROM op),
    pairs AS (SELECT a.l_partkey AS p1, b.l_partkey AS p2,
                     CAST(count(*) AS BIGINT) AS c_xy
              FROM op a JOIN op b
                ON a.l_orderkey = b.l_orderkey AND a.l_partkey < b.l_partkey
              GROUP BY 1, 2),
    items AS (SELECT l_partkey, CAST(count(*) AS BIGINT) AS c FROM op GROUP BY 1),
    top AS (SELECT p1, p2, c_xy FROM pairs ORDER BY c_xy DESC, p1, p2 LIMIT 20)
    SELECT t.p1, t.p2, t.c_xy,
           {mean_quantized_sql("t.c_xy", "n_orders")} AS support,
           {mean_quantized_sql("t.c_xy", "x.c")} AS confidence,
           {mean_quantized_sql(
               "CAST(t.c_xy AS HUGEINT) * n_orders",
               "CAST(x.c AS HUGEINT) * y.c",
           )} AS lift
    FROM top t
    JOIN items x ON x.l_partkey = t.p1
    JOIN items y ON y.l_partkey = t.p2
    CROSS JOIN n
    """,
)
def basket_association_rules(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules for the top-20 co-purchased part
    pairs: support, confidence, lift — the classic co-occurrence mining
    rollup.  Pair counting self-joins on the ORDER key (bounded fan-out
    per order, never corpus²), item counts and the one-row basket total
    broadcast onto the 20-row page, and all three ratios are exact
    integer rationals through the mean_quantized lane (lift as
    c_xy·n_orders / (x.c·y.c)) — no composed double ratios, no
    rounding boundary (docs/OPERATIONS.md quantization contract)."""
    op = (
        _t(spark, sf_dir, "lineitem")
        .select("l_orderkey", "l_partkey")
        .distinct()
    )
    n = op.agg(F.countDistinct("l_orderkey").alias("n_orders"))
    a = op.alias("a")
    b = op.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_partkey") < F.col("b.l_partkey")),
        )
        .groupBy(
            F.col("a.l_partkey").alias("p1"), F.col("b.l_partkey").alias("p2")
        )
        .agg(F.count("*").alias("c_xy"))
    )
    items = op.groupBy(F.col("l_partkey")).agg(F.count("*").alias("c"))
    top = pairs.orderBy(F.desc("c_xy"), "p1", "p2").limit(20)
    x = items.select(F.col("l_partkey").alias("__xk"), F.col("c").alias("__xc"))
    y = items.select(F.col("l_partkey").alias("__yk"), F.col("c").alias("__yc"))
    joined = (
        top.join(F.broadcast(x), F.col("p1") == F.col("__xk"))
        .join(F.broadcast(y), F.col("p2") == F.col("__yk"))
        .crossJoin(F.broadcast(n))
    )
    dec = "decimal(38,0)"
    return joined.select(
        "p1",
        "p2",
        "c_xy",
        mean_quantized("c_xy", "n_orders").alias("support"),
        mean_quantized("c_xy", "__xc").alias("confidence"),
        # exact rational lift: c_xy·n_orders / (x.c·y.c) — no composed
        # double ratios, no rounding boundary
        mean_quantized(
            F.col("c_xy").cast(dec) * F.col("n_orders"),
            F.col("__xc").cast(dec) * F.col("__yc"),
        ).alias("lift"),
    )


@query(
    "stat_corr_matrix",
    oracle="""
    SELECT 'quantity~price' AS pair,
           round(corr(l_quantity, l_extendedprice), 6) AS r
    FROM lineitem
    UNION ALL
    SELECT 'quantity~discount', round(corr(l_quantity, l_discount), 6) FROM lineitem
    UNION ALL
    SELECT 'quantity~tax', round(corr(l_quantity, l_tax), 6) FROM lineitem
    UNION ALL
    SELECT 'price~discount', round(corr(l_extendedprice, l_discount), 6) FROM lineitem
    UNION ALL
    SELECT 'price~tax', round(corr(l_extendedprice, l_tax), 6) FROM lineitem
    UNION ALL
    SELECT 'discount~tax', round(corr(l_discount, l_tax), 6) FROM lineitem
    """,
)
def stat_corr_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise correlation matrix (upper triangle, long form) for the
    four lineitem measures — ONE scan computes all six co-moment
    aggregates simultaneously (the oracle's UNION ALL of six scans is
    the readable spelling; Spark's single agg is the efficient one, and
    both round to the same stable co-moment values), then unpivots to
    (pair, r) rows."""
    li = _t(spark, sf_dir, "lineitem")
    cols = [
        ("quantity~price", "l_quantity", "l_extendedprice"),
        ("quantity~discount", "l_quantity", "l_discount"),
        ("quantity~tax", "l_quantity", "l_tax"),
        ("price~discount", "l_extendedprice", "l_discount"),
        ("price~tax", "l_extendedprice", "l_tax"),
        ("discount~tax", "l_discount", "l_tax"),
    ]
    wide = li.agg(
        *[F.round(F.corr(a, b), 6).alias(name) for name, a, b in cols]
    )
    stacked = ", ".join(f"'{name}', `{name}`" for name, _, _ in cols)
    return wide.selectExpr(f"stack({len(cols)}, {stacked}) AS (pair, r)")


@query(
    "events_anomaly_mad",
    oracle="""
    WITH med AS (SELECT event_type, quantile_cont(value, 0.5) AS med
                 FROM events GROUP BY event_type),
    dev AS (SELECT e.event_id, e.event_type, e.value, m.med,
                   abs(e.value - m.med) AS adev
            FROM events e JOIN med m ON e.event_type = m.event_type),
    mad AS (SELECT event_type, quantile_cont(adev, 0.5) AS mad
            FROM dev GROUP BY event_type)
    SELECT d.event_id, d.event_type,
           round(d.value, 6) AS value,
           round((d.value - d.med) / (1.4826 * m.mad), 6) AS robust_z
    FROM dev d JOIN mad m ON d.event_type = m.event_type
    WHERE abs(round((d.value - d.med) / (1.4826 * m.mad), 6)) > 3.0
    """,
)
def events_anomaly_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust anomaly detection: per-type median/MAD (outlier-immune,
    unlike mean/stddev) flags events with |robust z| > 3.  Two exact
    median passes over the same (event_type) partitioning, the tiny
    per-type stats broadcast back onto the stream, and the threshold
    compares the ROUNDED score (repo parity convention) so a float at
    the boundary cannot flip membership cross-engine.  At 100 TB both
    medians swap to sketches plan-compatibly."""
    ev = _t(spark, sf_dir, "events")
    med = ev.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_id",
        "event_type",
        "value",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    scored = dev.join(F.broadcast(mad), "event_type").select(
        "event_id",
        "event_type",
        F.round("value", 6).alias("value"),
        # try_divide: a constant group has MAD 0 — robust z undefined
        # (NULL, matching DuckDB /0), so such groups flag nothing
        F.round(
            F.try_divide(
                F.col("value") - F.col("med"), F.lit(1.4826) * F.col("mad")
            ),
            6,
        ).alias("robust_z"),
    )
    return scored.where(F.abs(F.col("robust_z")) > 3.0)


@query(
    "events_interarrival_stats",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
               FROM events),
    g AS (SELECT user_id,
                 ts_us - lag(ts_us) OVER (PARTITION BY user_id
                                          ORDER BY ts_us, event_id) AS gap
          FROM e)
    SELECT user_id,
           CAST(count(gap) AS BIGINT) AS n_gaps,
           {mean_quantized_sql("sum(gap)", "count(gap)")} AS avg_gap_us,
           CAST(min(gap) AS BIGINT) AS min_gap_us,
           CAST(max(gap) AS BIGINT) AS max_gap_us
    FROM g GROUP BY user_id
    """,
)
def events_interarrival_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-arrival profile per user: lag-difference gaps then a
    combinable aggregate — the cadence fingerprint behind bot
    detection and session-gap tuning.  The window and the aggregation
    share one (user_id) shuffle; gaps are exact integer microseconds,
    and the published mean is quantized with exact integer arithmetic
    (functions/numeric.py::mean_quantized — round(avg(int),6) is the
    engine-divergent boundary class the 10×-scale sweep caught)."""
    ev_raw = _t(spark, sf_dir, "events")
    ev = ev_raw.select(
        "user_id", "event_id", ts_us_expr(ev_raw).alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    g = ev.select(
        "user_id", (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap")
    )
    return (
        g.groupBy("user_id")
        .agg(
            F.count("gap").alias("n_gaps"),
            F.sum("gap").alias("__sum_gap"),
            F.min("gap").alias("min_gap_us"),
            F.max("gap").alias("max_gap_us"),
        )
        .select(
            "user_id",
            "n_gaps",
            mean_quantized("__sum_gap", "n_gaps").alias("avg_gap_us"),
            "min_gap_us",
            "max_gap_us",
        )
    )


@query(
    "abc_pareto_classification",
    oracle=f"""
    WITH rev AS (SELECT l_partkey,
                        CAST(sum({to_fixed_sql("l_extendedprice", 100)}
                                 * (100 - {to_fixed_sql("l_discount", 100)}))
                          AS BIGINT) AS revenue_q
                 FROM lineitem GROUP BY l_partkey),
    tot AS (SELECT CAST(sum(revenue_q) AS BIGINT) AS total_q FROM rev),
    c AS (SELECT l_partkey, revenue_q,
                 {mean_quantized_sql(
                     '''sum(revenue_q) OVER (ORDER BY revenue_q DESC, l_partkey
                                             ROWS UNBOUNDED PRECEDING)''',
                     "total_q",
                 )} AS cum_share
          FROM rev CROSS JOIN tot)
    SELECT l_partkey, revenue_q, cum_share,
           CASE WHEN cum_share <= 0.8 THEN 'A'
                WHEN cum_share <= 0.95 THEN 'B' ELSE 'C' END AS abc_class
    FROM c
    """,
)
def abc_pareto_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC (Pareto) classification: parts ranked by revenue, banded at
    80%/95% cumulative share — the inventory-analysis staple.  Revenue
    is EXACT integer ten-thousandths of a dollar (cents x discount
    percent — both 2dp columns recover their integer forms exactly), so
    per-part sums are fold-order-proof with no decimal/rounding
    boundary anywhere; the share ratio divides exact BIGINTs.  The
    ranked set is the PART DIMENSION (facts pre-aggregated first), so
    the ordered window runs over dim-sized input; at a larger dim the
    same plan range-partitions the sort.  Class thresholds compare the
    ROUNDED share (parity convention)."""
    li = _t(spark, sf_dir, "lineitem")
    extc = to_fixed("l_extendedprice", 100)
    dpct = to_fixed("l_discount", 100)
    rev = li.groupBy("l_partkey").agg(
        F.sum(extc * (F.lit(100) - dpct)).cast("bigint").alias("revenue_q")
    )
    tot = rev.agg(F.sum("revenue_q").cast("bigint").alias("total_q"))
    # distributed running total (round-5): the part dim is 10⁹-safe now —
    # global_cumsum range-partitions instead of the single-partition
    # global window, identical values
    from .operators.windows import global_cumsum

    cum = global_cumsum(
        rev, [F.desc("revenue_q"), F.col("l_partkey")], "revenue_q", "__cum"
    )
    c = cum.crossJoin(F.broadcast(tot)).select(
        "l_partkey",
        "revenue_q",
        mean_quantized("__cum", "total_q").alias("cum_share"),
    )
    return c.select(
        "l_partkey",
        "revenue_q",
        "cum_share",
        F.when(F.col("cum_share") <= 0.8, "A")
        .when(F.col("cum_share") <= 0.95, "B")
        .otherwise("C")
        .alias("abc_class"),
    )


@query(
    "growth_month_over_month",
    oracle="""
    WITH m AS (SELECT CAST(EXTRACT(year FROM CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS y,
                      CAST(EXTRACT(month FROM CAST(o_orderdate AS TIMESTAMP)) AS BIGINT) AS m,
                      round(sum(o_totalprice), 2) AS revenue
               FROM orders GROUP BY 1, 2)
    SELECT y, m, revenue,
           round((revenue - lag(revenue) OVER (ORDER BY y, m))
                 / lag(revenue) OVER (ORDER BY y, m), 6) AS mom_change
    FROM m
    """,
)
def growth_month_over_month(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Month-over-month revenue growth: calendar aggregation then a lag
    ratio — the reporting query behind every growth dashboard.  The
    window runs over the MONTH grain (dozens of rows however large the
    fact table), with calendar fields extracted UTC-pinned like
    time_extract_battery."""
    o = _t(spark, sf_dir, "orders")
    m = o.groupBy(
        F.year("o_orderdate").cast("bigint").alias("y"),
        F.month("o_orderdate").cast("bigint").alias("m"),
    ).agg(F.round(F.sum("o_totalprice"), 2).alias("revenue"))
    w = Window.orderBy("y", "m")
    prev = F.lag("revenue").over(w)
    return m.select(
        "y",
        "m",
        "revenue",
        F.round((F.col("revenue") - prev) / prev, 6).alias("mom_change"),
    )


@query(
    "window_activity_streaks",
    oracle="""
    WITH d AS (SELECT DISTINCT user_id,
                      CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS day
               FROM events WHERE ts IS NOT NULL),
    isl AS (SELECT user_id, day,
                   day - row_number() OVER (PARTITION BY user_id ORDER BY day)
                       AS island
            FROM d),
    s AS (SELECT user_id, island, CAST(count(*) AS BIGINT) AS len,
                 min(day) AS start_day
          FROM isl GROUP BY user_id, island)
    SELECT user_id,
           CAST(max(len) AS BIGINT) AS longest_streak,
           CAST(count(*) AS BIGINT) AS n_streaks,
           min(start_day) AS first_day
    FROM s GROUP BY user_id
    """,
)
def window_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Consecutive-day activity streaks per user: the gaps-and-islands
    trick on the DAY grid (day minus row_number is constant within a
    run of consecutive days), then per-island lengths and a per-user
    rollup — engagement metrics' favorite query.  Everything after the
    distinct-day projection shares one (user_id) shuffle; day ids are
    epoch-day integers."""
    ev_raw = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    day_us = 86_400 * 1_000_000
    d = ev_raw.select(
        "user_id", epoch_day_from_us(ts_us_expr(ev_raw)).alias("day")
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    isl = d.select(
        "user_id", "day", (F.col("day") - F.row_number().over(w)).alias("island")
    )
    s = isl.groupBy("user_id", "island").agg(
        F.count("*").alias("len"), F.min("day").alias("start_day")
    )
    return s.groupBy("user_id").agg(
        F.max("len").cast("bigint").alias("longest_streak"),
        F.count("*").alias("n_streaks"),
        F.min("start_day").alias("first_day"),
    )


@query(
    "dq_constraint_report",
    oracle="""
    SELECT 'orders_pk_unique' AS check_name,
           CAST(count(*) - count(DISTINCT o_orderkey) AS BIGINT) AS n_violations
    FROM orders
    UNION ALL
    SELECT 'orders_custkey_fk',
           CAST(count(*) AS BIGINT)
    FROM orders o WHERE NOT EXISTS
      (SELECT 1 FROM customer c WHERE c.c_custkey = o.o_custkey)
    UNION ALL
    SELECT 'lineitem_orderkey_fk',
           CAST(count(*) AS BIGINT)
    FROM lineitem l WHERE NOT EXISTS
      (SELECT 1 FROM orders o WHERE o.o_orderkey = l.l_orderkey)
    UNION ALL
    SELECT 'discount_in_range',
           CAST(count(*) FILTER (WHERE l_discount < 0 OR l_discount > 1) AS BIGINT)
    FROM lineitem
    UNION ALL
    SELECT 'quantity_positive',
           CAST(count(*) FILTER (WHERE l_quantity <= 0) AS BIGINT)
    FROM lineitem
    """,
)
def dq_constraint_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality constraint battery (the dbt-test shape): primary-key
    uniqueness, two referential-integrity checks as ANTI joins, and two
    range assertions as conditional counts — one report frame a
    pipeline gates deploys on.  Each FK check is a broadcast/shuffled
    left-anti join (never a driver-side lookup); the range checks ride
    a single scan each.  At 100 TB every row of this report is a
    combinable aggregate."""
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer")
    li = _t(spark, sf_dir, "lineitem")

    pk = o.agg(
        (F.count("*") - F.countDistinct("o_orderkey")).alias("n_violations")
    ).select(F.lit("orders_pk_unique").alias("check_name"), "n_violations")
    fk1 = (
        o.join(c, o.o_custkey == c.c_custkey, "left_anti")
        .agg(F.count("*").alias("n_violations"))
        .select(F.lit("orders_custkey_fk").alias("check_name"), "n_violations")
    )
    fk2 = (
        li.join(o, li.l_orderkey == o.o_orderkey, "left_anti")
        .agg(F.count("*").alias("n_violations"))
        .select(F.lit("lineitem_orderkey_fk").alias("check_name"), "n_violations")
    )
    rng1 = li.agg(
        F.count_if(
            (F.col("l_discount") < 0) | (F.col("l_discount") > 1)
        ).alias("n_violations")
    ).select(F.lit("discount_in_range").alias("check_name"), "n_violations")
    rng2 = li.agg(
        F.count_if(F.col("l_quantity") <= 0).alias("n_violations")
    ).select(F.lit("quantity_positive").alias("check_name"), "n_violations")
    return pk.unionByName(fk1).unionByName(fk2).unionByName(rng1).unionByName(rng2)


@query(
    "events_markov_transitions",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type, event_id,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
               FROM events WHERE ts IS NOT NULL),
    t AS (SELECT user_id, event_type AS to_type,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts_us, event_id) AS from_type
          FROM e),
    c AS (SELECT from_type, to_type, CAST(count(*) AS BIGINT) AS n
          FROM t WHERE from_type IS NOT NULL GROUP BY from_type, to_type),
    tot AS (SELECT from_type, CAST(sum(n) AS BIGINT) AS n_from FROM c GROUP BY from_type)
    SELECT c.from_type, c.to_type, c.n,
           {mean_quantized_sql("c.n", "t.n_from")} AS p
    FROM c JOIN tot t ON c.from_type = t.from_type
    """,
)
def events_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix over per-user event
    sequences: lag pairs on one (user_id) window shuffle, then a
    |types|²-sized count and row-normalized probabilities — the
    behavioral model behind next-action prediction and anomaly flags.
    The normalizing marginal broadcasts; probabilities divide exactly-
    counted BIGINTs."""
    ev_raw = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    ev = ev_raw.select(
        "user_id", "event_type", "event_id", ts_us_expr(ev_raw).alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    t = ev.select(
        F.col("event_type").alias("to_type"),
        F.lag("event_type").over(w).alias("from_type"),
    ).where(F.col("from_type").isNotNull())
    c = t.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    tot = c.groupBy("from_type").agg(F.sum("n").cast("bigint").alias("n_from"))
    return c.join(F.broadcast(tot), "from_type").select(
        "from_type",
        "to_type",
        "n",
        mean_quantized("n", "n_from").alias("p"),
    )


@query(
    "customer_rfm_segmentation",
    oracle=f"""
    WITH m AS (SELECT o_custkey,
                      max(CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400) AS BIGINT))
                          AS last_day,
                      CAST(count(*) AS BIGINT) AS frequency,
                      CAST(sum({to_fixed_sql("o_totalprice", 100)}) AS BIGINT)
                          AS monetary_cents
               FROM orders GROUP BY o_custkey)
    SELECT o_custkey,
           CAST(ntile(5) OVER (ORDER BY last_day, o_custkey) AS BIGINT) AS r_score,
           CAST(ntile(5) OVER (ORDER BY frequency, o_custkey) AS BIGINT) AS f_score,
           CAST(ntile(5) OVER (ORDER BY monetary_cents, o_custkey) AS BIGINT) AS m_score
    FROM m
    """,
)
def customer_rfm_segmentation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFM segmentation: per-customer recency/frequency/monetary rolled
    up in one aggregation, then quintile scores with custkey tie-breaks
    (engines leave ntile ties unspecified otherwise).

    A naive ``ntile(5) OVER (ORDER BY …)`` collapses to ONE partition —
    Spark global-order windows have no range-partitioned mode (round-4
    verdict corrected this module's earlier claim), a wall at 10⁹
    customers.  Each score instead comes from ``global_ntile``:
    range-repartition on the sort key, parallel local sorts, prefix
    offsets from a grid-bounded per-partition count relation, and
    ntile's exact quota arithmetic on the reconstructed global row
    number — identical buckets (the oracle still states plain ntile),
    never a corpus-sized single partition.  The three scores are
    INDEPENDENT branches off the base aggregate, rejoined on custkey:
    chaining them instead nests each repartitionByRange's sampling job
    inside the next one's upstream (measured 11.5s vs 2.5s at sf0.01 —
    sampling re-executes its child plan, so depth multiplies jobs)."""
    from .operators.windows import global_ntile

    o = _t(spark, sf_dir, "orders")
    m = o.groupBy("o_custkey").agg(
        F.max(epoch_day_expr("o_orderdate")).alias("last_day"),
        F.count("*").alias("frequency"),
        F.sum(to_fixed("o_totalprice", 100))
        .cast("bigint")
        .alias("monetary_cents"),
    ).transform(_ckpt_lazy)
    # ^ pin the orders-wide aggregate ONCE: each global_ntile branch
    # otherwise re-executes it ~2x (range-sampling pass + shuffle pass),
    # ~6x total over three branches (round-5 review finding)
    r = global_ntile(
        m.select("o_custkey", "last_day"), ["last_day", "o_custkey"], 5, "r_score"
    ).select("o_custkey", "r_score")
    f = global_ntile(
        m.select("o_custkey", "frequency"), ["frequency", "o_custkey"], 5, "f_score"
    ).select("o_custkey", "f_score")
    s = global_ntile(
        m.select("o_custkey", "monetary_cents"),
        ["monetary_cents", "o_custkey"],
        5,
        "m_score",
    ).select("o_custkey", "m_score")
    return r.join(f, "o_custkey").join(s, "o_custkey")


@query(
    "join_interval_overlap_banded",
    oracle="""
    WITH o AS (SELECT o_orderkey,
                      CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400) AS BIGINT) AS s,
                      CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400) AS BIGINT)
                        + o_orderkey % 14 AS e
               FROM orders),
    p AS (SELECT DISTINCT
                 CAST(floor(epoch(date_trunc('month', CAST(o_orderdate AS TIMESTAMP))) / 86400)
                   AS BIGINT) AS promo_id
          FROM orders),
    pw AS (SELECT promo_id, promo_id + 9 AS ps, promo_id + 11 AS pe FROM p)
    SELECT o.o_orderkey, pw.promo_id,
           CAST(least(o.e, pw.pe) - greatest(o.s, pw.ps) + 1 AS BIGINT) AS overlap_days
    FROM o JOIN pw ON o.s <= pw.pe AND pw.ps <= o.e
    """,
)
def join_interval_overlap_banded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval x interval OVERLAP join — order activity windows against
    monthly promo windows — via WEEK-GRID BANDING: each interval
    explodes to its covered week cells (bounded: len/7 + 1 cells), a
    hash join on the cell replaces the quadratic theta-join, pairs
    dedupe, and the exact overlap predicate verifies.  The oracle states
    the plain theta-join spec; at 100 TB only the banded plan survives
    (the same explode-join-verify pattern as MinHash LSH, with the grid
    pitch tuned to typical interval length)."""
    o = _t(spark, sf_dir, "orders")
    day = epoch_day_expr("o_orderdate")
    iv = o.select(
        "o_orderkey",
        day.alias("s"),
        (day + F.col("o_orderkey") % 14).alias("e"),
    )
    month_day = epoch_day_expr(F.trunc(F.col("o_orderdate").cast("date"), "month"))
    pw = (
        o.select(month_day.alias("promo_id"))
        .distinct()
        .select(
            "promo_id",
            (F.col("promo_id") + 9).alias("ps"),
            (F.col("promo_id") + 11).alias("pe"),
        )
    )
    ocells = iv.select(
        "o_orderkey", "s", "e",
        F.explode(
            F.sequence(
                (F.col("s") / 7).cast("bigint"), (F.col("e") / 7).cast("bigint")
            )
        ).alias("cell"),
    )
    pcells = pw.select(
        "promo_id", "ps", "pe",
        F.explode(
            F.sequence(
                (F.col("ps") / 7).cast("bigint"), (F.col("pe") / 7).cast("bigint")
            )
        ).alias("cell"),
    )
    pairs = (
        ocells.join(F.broadcast(pcells), "cell")
        .where((F.col("s") <= F.col("pe")) & (F.col("ps") <= F.col("e")))
        .select(
            "o_orderkey",
            "promo_id",
            (
                F.least("e", "pe") - F.greatest("s", "ps") + 1
            ).cast("bigint").alias("overlap_days"),
        )
        .distinct()
    )
    return pairs


@query(
    "events_cusum_drift",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, value,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
               FROM events WHERE ts IS NOT NULL),
    mu AS (SELECT {mean_quantized_signed_sql(
               f"sum({to_fixed_sql('value', 100)})",
               "100 * count(value)")} AS mean_v FROM e),
    c AS (SELECT user_id,
                 sum(value - mean_v) OVER (PARTITION BY user_id
                                           ORDER BY ts_us, event_id
                                           ROWS UNBOUNDED PRECEDING) AS cusum
          FROM e CROSS JOIN mu)
    SELECT user_id,
           round(max(cusum), 6) AS max_cusum,
           round(min(cusum), 6) AS min_cusum,
           round(max(abs(cusum)), 6) AS max_abs_cusum
    FROM c GROUP BY user_id
    """,
)
def events_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUSUM drift detection per user: the running sum of deviations
    from the (broadcast, pre-rounded) global mean, with per-user
    extremes — the classic changepoint screen.  The cumulative float
    sum is safe cross-engine because an ORDER BY window folds in ONE
    pinned order (see the rounding ladder in docs/PLAN_AUDIT.md);
    window and rollup share the (user_id) shuffle."""
    ev_raw = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    ev = ev_raw.select(
        "user_id", "event_id", "value", ts_us_expr(ev_raw).alias("ts_us")
    )
    # exact quantized global mean (2-dp money / count), not
    # round(double-mean) — docs/OPERATIONS.md quantization contract;
    # the downstream cusum fold subtracts this exact broadcast scalar.
    # Signed lane: value >= 0 is a domain argument only (r09 ADVICE).
    mu = ev.agg(
        mean_quantized_signed(
            F.sum(to_fixed("value", 100)), F.count("value") * 100
        ).alias("mean_v")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = ev.crossJoin(F.broadcast(mu)).select(
        "user_id",
        F.sum(F.col("value") - F.col("mean_v")).over(w).alias("cusum"),
    )
    return c.groupBy("user_id").agg(
        F.round(F.max("cusum"), 6).alias("max_cusum"),
        F.round(F.min("cusum"), 6).alias("min_cusum"),
        F.round(F.max(F.abs(F.col("cusum"))), 6).alias("max_abs_cusum"),
    )


_SQL_GROUPING_SETS_TEXT = """
    SELECT coalesce(l_returnflag, 'ALL') AS returnflag,
           coalesce(l_linestatus, 'ALL') AS linestatus,
           CAST(grouping(l_returnflag) * 2 + grouping(l_linestatus) AS BIGINT)
               AS gid,
           CAST(count(*) AS BIGINT) AS n_rows,
           round(sum(l_quantity), 2) AS sum_qty
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
"""


@query("sql_api_grouping_sets", oracle=_SQL_GROUPING_SETS_TEXT)
def sql_api_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS with grouping() disambiguation — the
    grain-mix CUBE/ROLLUP can't express (here: detail + one marginal +
    grand total, skipping the per-status marginal), run as the SAME
    ANSI text on both engines through the SQL front end.  The gid
    column distinguishes a real NULL-keyed group from a superaggregate
    row — the standard pitfall coalesce alone can't resolve.  One
    Expand + one shuffle, exactly like the cube battery."""
    from .sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_GROUPING_SETS_TEXT)


@query(
    "funnel_time_to_convert",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, event_type,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
    w AS (SELECT event_id, user_id, event_type, ts_us,
                 last_value(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click
          FROM e),
    gaps AS (SELECT ts_us - last_click AS gap_us
             FROM w
             WHERE event_type = 'purchase' AND last_click IS NOT NULL
               AND ts_us - last_click <= {600_000_000})
    SELECT CAST(count(*) AS BIGINT) AS n_conversions,
           {mean_quantized_sql("sum(gap_us)", "count(gap_us)")} AS avg_gap_us,
           round(quantile_cont(gap_us, 0.5), 6) AS p50_gap_us,
           round(quantile_cont(gap_us, 0.95), 6) AS p95_gap_us,
           CAST(max(gap_us) AS BIGINT) AS max_gap_us
    FROM gaps
    """,
)
def funnel_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conversion-latency profile: click->purchase gaps (the as-of
    tolerance join's survivors) summarized as count / mean / exact
    P50-P95 / max — the funnel-health number a growth dashboard tracks.
    Gaps are exact integer microseconds off one (user_id) window
    shuffle; the percentile swaps to a sketch at scale per the
    agg_percentiles convention."""
    from .operators.asof import asof_prior_event

    ev_raw = _t(spark, sf_dir, "events")
    ev = ev_raw.select(
        "event_id", "user_id", "event_type", ts_us_expr(ev_raw).alias("ts_us")
    )
    out = asof_prior_event(
        ev,
        key="user_id",
        time_col="ts_us",
        match=F.col("event_type") == "click",
        select_when=F.col("event_type") == "purchase",
    )
    gaps = out.where(
        F.col("asof_ts").isNotNull()
        & (F.col("ts_us") - F.col("asof_ts") <= 600_000_000)
    ).select((F.col("ts_us") - F.col("asof_ts")).alias("gap_us"))
    return (
        gaps.agg(
            F.count("*").alias("n_conversions"),
            F.sum("gap_us").alias("__sum_gap"),
            F.count("gap_us").alias("__n_gap"),
            F.round(F.expr("percentile(gap_us, 0.5)"), 6).alias("p50_gap_us"),
            F.round(F.expr("percentile(gap_us, 0.95)"), 6).alias("p95_gap_us"),
            F.max("gap_us").cast("bigint").alias("max_gap_us"),
        )
        .select(
            "n_conversions",
            mean_quantized("__sum_gap", "__n_gap").alias("avg_gap_us"),
            "p50_gap_us",
            "p95_gap_us",
            "max_gap_us",
        )
    )


@query(
    "vector_dim_profile",
    oracle="""
    WITH e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    x AS (SELECT s.i AS dim, s.x AS x
          FROM e, unnest([{'i': i, 'x': v[i]} FOR i IN range(1, len(v) + 1)]) t(s))
    SELECT CAST(dim AS BIGINT) AS dim,
           round(avg(x), 6) AS mean_x,
           round(stddev_samp(x), 6) AS std_x,
           round(min(x), 6) AS min_x,
           round(max(x), 6) AS max_x
    FROM x GROUP BY dim
    """,
)
def vector_dim_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-dimension embedding distribution profile (mean/std/range) —
    the feature-store drift monitor that catches a retrained encoder
    shifting a dimension before retrieval quality drops.  posexplode +
    one combinable aggregate; output is k-sized regardless of corpus,
    and the co-moment stddev merge keeps rounded values stable (the
    agg_stats_battery convention)."""
    e = _t(spark, sf_dir, "embeddings").select(
        F.posexplode(
            F.transform("embedding", lambda y: y.cast("double"))
        ).alias("i0", "x")
    )
    return (
        e.select((F.col("i0") + 1).cast("bigint").alias("dim"), "x")
        .groupBy("dim")
        .agg(
            F.round(F.avg("x"), 6).alias("mean_x"),
            F.round(F.stddev_samp("x"), 6).alias("std_x"),
            F.round(F.min("x"), 6).alias("min_x"),
            F.round(F.max("x"), 6).alias("max_x"),
        )
    )


@query(
    "orders_size_distribution",
    oracle="""
    WITH s AS (SELECT l_orderkey, CAST(count(*) AS BIGINT) AS n_lines
               FROM lineitem GROUP BY l_orderkey)
    SELECT n_lines, CAST(count(*) AS BIGINT) AS n_orders
    FROM s GROUP BY n_lines
    """,
)
def orders_size_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution of group sizes (lines per order): an aggregate OF an
    aggregate — the two-level shape behind fan-out planning (how big do
    my join groups get?).  Both levels are combinable; the second input
    is already order-grain so the second shuffle carries one row per
    order."""
    li = _t(spark, sf_dir, "lineitem")
    s = li.groupBy("l_orderkey").agg(F.count("*").alias("n_lines"))
    return s.groupBy("n_lines").agg(F.count("*").alias("n_orders"))


@query(
    "stat_zipf_regression",
    oracle=f"""
    WITH toks AS (SELECT {tokens_sql()} AS t
                  FROM documents),
    tok AS (SELECT unnest(t) AS token FROM toks),
    c AS (SELECT token, CAST(count(*) AS BIGINT) AS n
          FROM tok WHERE token != '' GROUP BY token),
    top AS (SELECT n, row_number() OVER (ORDER BY n DESC, token) AS rank
            FROM c ORDER BY n DESC, token LIMIT 100)
    SELECT CAST(count(*) AS BIGINT) AS n_points,
           round(regr_slope(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
               AS zipf_slope,
           round(regr_intercept(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
               AS zipf_intercept,
           round(regr_r2(ln(CAST(n AS DOUBLE)), ln(CAST(rank AS DOUBLE))), 6)
               AS r2
    FROM top
    """,
)
def stat_zipf_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit: least-squares slope of log-frequency vs log-rank
    over the top-100 vocabulary, via the SQL:2016 regr_* aggregates
    (regr_slope / regr_intercept / regr_r2 exist natively in BOTH
    engines as single-pass co-moment aggregates).  A natural corpus
    fits slope ~ -1; synthetic or templated text shows up as a bad fit
    — a one-row corpus-health check.  The regression input is the
    top-k page, never the full vocabulary."""
    from .extensions.text import tokens

    d = _t(spark, sf_dir, "documents")
    c = (
        d.select(F.explode(tokens("text")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    w = Window.orderBy(F.desc("n"), "token")
    top = (
        c.orderBy(F.desc("n"), "token")
        .limit(100)
        .withColumn("rank", F.row_number().over(w))
    )
    ly = F.log(F.col("n").cast("double"))
    lx = F.log(F.col("rank").cast("double"))
    return top.agg(
        F.count("*").alias("n_points"),
        F.round(F.regr_slope(ly, lx), 6).alias("zipf_slope"),
        F.round(F.regr_intercept(ly, lx), 6).alias("zipf_intercept"),
        F.round(F.regr_r2(ly, lx), 6).alias("r2"),
    )


@query(
    "events_dau_wau_mau",
    oracle="""
    WITH d AS (SELECT DISTINCT user_id,
                      CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS day
               FROM events),
    dau AS (SELECT day, CAST(count(*) AS BIGINT) AS dau FROM d GROUP BY day),
    w AS (SELECT DISTINCT user_id, day + o AS day
          FROM d, unnest(range(0, 7)) t(o)),
    wau AS (SELECT day, CAST(count(*) AS BIGINT) AS wau FROM w GROUP BY day),
    mth AS (SELECT DISTINCT user_id, day + o AS day
            FROM d, unnest(range(0, 30)) t(o)),
    mau AS (SELECT day, CAST(count(*) AS BIGINT) AS mau FROM mth GROUP BY day)
    SELECT dau.day, dau.dau, wau.wau, mau.mau
    FROM dau JOIN wau ON dau.day = wau.day JOIN mau ON dau.day = mau.day
    """,
)
def events_dau_wau_mau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling active users (DAU / trailing-7d WAU / trailing-30d MAU)
    for days with activity: each distinct (user, day) observation
    projects forward into the window days it keeps the user active —
    a BOUNDED explode (x7, x30) followed by combinable distinct
    counts, which is the scale-correct spelling of distinct-over-
    sliding-window (a naive window distinct holds per-day state; the
    projection turns it into plain aggregation).  All grids are
    epoch-day integers."""
    ev_raw = _t(spark, sf_dir, "events")
    day_us = 86_400 * 1_000_000
    d = ev_raw.select(
        "user_id", epoch_day_from_us(ts_us_expr(ev_raw)).alias("day")
    ).distinct()
    dau = d.groupBy("day").agg(F.count("*").alias("dau"))

    def rolled(n, name):
        return (
            d.select(
                "user_id",
                F.explode(F.sequence(F.col("day"), F.col("day") + (n - 1))).alias(
                    "day"
                ),
            )
            .distinct()
            .groupBy("day")
            .agg(F.count("*").alias(name))
        )

    return (
        dau.join(rolled(7, "wau"), "day")
        .join(rolled(30, "mau"), "day")
        .select("day", "dau", "wau", "mau")
    )


@query(
    "join_point_in_time_scd2",
    oracle="""
    WITH e AS (SELECT user_id, event_id, event_type,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
               FROM events),
    w AS (SELECT user_id, event_id, event_type, ts_us,
                 lag(event_type) OVER (PARTITION BY user_id
                                       ORDER BY ts_us, event_id) AS prev
          FROM e),
    changes AS (SELECT user_id, event_id, event_type, ts_us
                FROM w WHERE prev IS NULL OR prev != event_type),
    scd AS (SELECT user_id, event_type AS state, ts_us AS valid_from_us,
                   lead(ts_us) OVER (PARTITION BY user_id
                                     ORDER BY ts_us, event_id) AS valid_to_us
            FROM changes),
    purchases AS (SELECT user_id, event_id, ts_us FROM e
                  WHERE event_type = 'purchase')
    SELECT p.event_id, p.user_id, p.ts_us AS purchase_ts_us, s.state
    FROM purchases p
    JOIN scd s ON p.user_id = s.user_id
              AND s.valid_from_us <= p.ts_us
              AND (s.valid_to_us IS NULL OR p.ts_us < s.valid_to_us)
    """,
)
def join_point_in_time_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension lookup: each purchase joined to the SCD2
    state interval that was valid AT ITS TIMESTAMP — the
    leakage-preventing join every feature store and training-data
    pipeline needs (using current state would leak the future).  The
    interval set and the fact stream co-partition on user_id, so the
    range predicate evaluates inside an equi-join's groups (bounded by
    a user's change count, never a cross product).  Intervals come
    from the same change-log derivation as scd2_state_history."""
    ev_raw = _t(spark, sf_dir, "events")
    ev = ev_raw.select(
        "user_id", "event_id", "event_type", ts_us_expr(ev_raw).alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    changes = (
        ev.withColumn("prev", F.lag("event_type").over(w))
        .where(F.col("prev").isNull() | (F.col("prev") != F.col("event_type")))
        .drop("prev")
    )
    scd = changes.select(
        F.col("user_id").alias("s_user"),
        F.col("event_type").alias("state"),
        F.col("ts_us").alias("valid_from_us"),
        F.lead("ts_us").over(w).alias("valid_to_us"),
    )
    purchases = ev.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts_us"
    )
    return (
        purchases.join(scd, purchases.user_id == scd.s_user)
        .where(
            (F.col("valid_from_us") <= F.col("ts_us"))
            & (F.col("valid_to_us").isNull() | (F.col("ts_us") < F.col("valid_to_us")))
        )
        .select("event_id", "user_id", F.col("ts_us").alias("purchase_ts_us"), "state")
    )


@query(
    "stat_grouped_regression",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n,
           round(regr_slope(l_extendedprice, l_quantity), 6) AS slope,
           round(regr_intercept(l_extendedprice, l_quantity), 6) AS intercept,
           round(regr_r2(l_extendedprice, l_quantity), 6) AS r2,
           round(regr_sxy(l_extendedprice, l_quantity), 2) AS sxy
    FROM lineitem GROUP BY l_returnflag
    """,
)
def stat_grouped_regression(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group least-squares fit (price vs quantity by return flag)
    via the SQL:2016 regr_* family — slope/intercept/R²/co-deviation as
    single-pass co-moment aggregates, numerically stable under partial-
    aggregate merge like the stats battery.  The grouped complement to
    stat_zipf_regression's single fit."""
    li = _t(spark, sf_dir, "lineitem")
    y = F.col("l_extendedprice")
    x = F.col("l_quantity")
    return li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.round(F.regr_slope(y, x), 6).alias("slope"),
        F.round(F.regr_intercept(y, x), 6).alias("intercept"),
        F.round(F.regr_r2(y, x), 6).alias("r2"),
        F.round(F.regr_sxy(y, x), 2).alias("sxy"),
    )


@query(
    "user_feature_assembly",
    oracle=f"""
    WITH e AS (SELECT user_id, event_id, event_type, value,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                      CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS day
               FROM events WHERE ts IS NOT NULL),
    base AS (SELECT user_id,
                    CAST(count(*) AS BIGINT) AS n_events,
                    CAST(count(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                        AS n_purchases,
                    CAST(count(*) FILTER (WHERE event_type = 'click') AS BIGINT)
                        AS n_clicks,
                    round(sum(value), 6) AS total_value,
                    CAST(count(DISTINCT day) AS BIGINT) AS n_active_days
             FROM e GROUP BY user_id),
    gaps AS (SELECT user_id,
                    {mean_quantized_sql("sum(gap)", "count(gap)")} AS avg_gap_us
             FROM (SELECT user_id,
                          ts_us - lag(ts_us) OVER (PARTITION BY user_id
                                                   ORDER BY ts_us, event_id) AS gap
                   FROM e)
             WHERE gap IS NOT NULL GROUP BY user_id),
    d AS (SELECT DISTINCT user_id, day FROM e),
    isl AS (SELECT user_id,
                   day - row_number() OVER (PARTITION BY user_id ORDER BY day)
                       AS island
            FROM d),
    streak AS (SELECT user_id, CAST(max(n) AS BIGINT) AS longest_streak
               FROM (SELECT user_id, island, count(*) AS n
                     FROM isl GROUP BY user_id, island)
               GROUP BY user_id)
    SELECT b.user_id, b.n_events, b.n_purchases, b.n_clicks,
           b.total_value, b.n_active_days,
           g.avg_gap_us, s.longest_streak
    FROM base b
    JOIN gaps g ON b.user_id = g.user_id
    JOIN streak s ON b.user_id = s.user_id
    """,
)
def user_feature_assembly(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature assembly: one wide per-user profile joining event counts,
    monetary totals, cadence, and streak features — the final join of a
    feature-store pipeline.  Every feature frame derives from the same
    scan and aggregates/windows on user_id, so all the joins are
    CO-PARTITIONED: one logical shuffle grain end to end, no broadcast
    needed, and the same plan assembles thousands of features at
    warehouse scale."""
    ev_raw = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    day_us = 86_400 * 1_000_000
    ts_us = ts_us_expr(ev_raw)
    e = ev_raw.select(
        "user_id", "event_id", "event_type", "value",
        ts_us.alias("ts_us"),
        epoch_day_from_us(ts_us).alias("day"),
    )
    base = e.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.count_if(F.col("event_type") == "purchase").alias("n_purchases"),
        F.count_if(F.col("event_type") == "click").alias("n_clicks"),
        F.round(F.sum("value"), 6).alias("total_value"),
        F.countDistinct("day").alias("n_active_days"),
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    gaps = (
        e.select("user_id", (F.col("ts_us") - F.lag("ts_us").over(w)).alias("gap"))
        .where(F.col("gap").isNotNull())
        .groupBy("user_id")
        .agg(F.sum("gap").alias("__sum_gap"), F.count("gap").alias("__n_gap"))
        .select(
            "user_id",
            mean_quantized("__sum_gap", "__n_gap").alias("avg_gap_us"),
        )
    )
    d = e.select("user_id", "day").distinct()
    wd = Window.partitionBy("user_id").orderBy("day")
    streak = (
        d.select("user_id", (F.col("day") - F.row_number().over(wd)).alias("island"))
        .groupBy("user_id", "island")
        .agg(F.count("*").alias("n"))
        .groupBy("user_id")
        .agg(F.max("n").cast("bigint").alias("longest_streak"))
    )
    return (
        base.join(gaps, "user_id")
        .join(streak, "user_id")
        .select(
            "user_id", "n_events", "n_purchases", "n_clicks",
            "total_value", "n_active_days", "avg_gap_us", "longest_streak",
        )
    )


@query(
    "timeseries_locf_impute",
    oracle="""
    WITH d AS (SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 86400) AS BIGINT) AS day,
                      round(sum(value), 6) AS revenue
               FROM events WHERE event_type = 'purchase' AND value > 300
               GROUP BY 1),
    bounds AS (SELECT min(day) AS lo, max(day) AS hi FROM d),
    spine AS (SELECT unnest(generate_series(lo, hi)) AS day FROM bounds),
    j AS (SELECT spine.day AS day, d.revenue
          FROM spine LEFT JOIN d ON spine.day = d.day)
    SELECT day, revenue AS observed,
           last_value(revenue IGNORE NULLS)
             OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS imputed,
           revenue IS NULL AS was_filled
    FROM j
    """,
)
def timeseries_locf_impute(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-observation-carried-forward imputation: a sparse daily
    series joined onto its calendar spine, gaps filled by the last
    non-null value via an IGNORE NULLS window — the imputation twin of
    timeseries_gapfill's zero-fill.  The window runs over the
    CALENDAR-sized spine (never fact-sized input); day ids are
    epoch-day integers and the fill column flags what was imputed for
    downstream honesty."""
    ev = load_table(spark, sf_dir, "events")
    day_us = 86_400 * 1_000_000
    d = (
        ev.where((F.col("event_type") == "purchase") & (F.col("value") > 300))
        .groupBy(epoch_day_from_us(ts_us_expr(ev)).alias("day"))
        .agg(F.round(F.sum("value"), 6).alias("revenue"))
    )
    spine = d.agg(F.min("day").alias("lo"), F.max("day").alias("hi")).select(
        F.explode(F.sequence("lo", "hi")).alias("day")
    )
    j = spine.join(d, "day", "left")
    w = (
        Window.orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return j.select(
        "day",
        F.col("revenue").alias("observed"),
        F.last("revenue", ignorenulls=True).over(w).alias("imputed"),
        F.col("revenue").isNull().alias("was_filled"),
    )


@query(
    "supplier_lead_time_profile",
    oracle=f"""
    WITH lt AS (SELECT l_suppkey,
                       CAST(floor(epoch(CAST(l_shipdate AS TIMESTAMP)) / 86400) AS BIGINT)
                       - CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400) AS BIGINT)
                           AS lead_days
                FROM lineitem JOIN orders ON l_orderkey = o_orderkey),
    ok AS (SELECT l_suppkey, lead_days FROM lt WHERE lead_days >= 0)
    SELECT l_suppkey,
           CAST(count(*) AS BIGINT) AS n_shipments,
           {mean_quantized_sql("sum(lead_days)", "count(lead_days)")} AS avg_lead_days,
           round(quantile_cont(lead_days, 0.5), 6) AS p50_lead_days,
           round(quantile_cont(lead_days, 0.95), 6) AS p95_lead_days,
           CAST(max(lead_days) AS BIGINT) AS max_lead_days
    FROM ok GROUP BY l_suppkey
    """,
)
def supplier_lead_time_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier lead-time SLA profile: order->ship latency in exact
    integer days, summarized per supplier with exact P50/P95 — the
    operations dashboard behind vendor scorecards.  The order join
    co-partitions on the order key; percentiles swap to sketches at
    scale per the agg_percentiles convention."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_suppkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select("o_orderkey", "o_orderdate")
    day = epoch_day_expr
    lt = (
        li.join(o, li.l_orderkey == o.o_orderkey)
        .select(
            "l_suppkey",
            (day("l_shipdate") - day("o_orderdate")).alias("lead_days"),
        )
        .where(F.col("lead_days") >= 0)
    )
    return (
        lt.groupBy("l_suppkey")
        .agg(
            F.count("*").alias("n_shipments"),
            F.sum("lead_days").alias("__sum_ld"),
            F.count("lead_days").alias("__n_ld"),
            F.round(F.expr("percentile(lead_days, 0.5)"), 6).alias("p50_lead_days"),
            F.round(F.expr("percentile(lead_days, 0.95)"), 6).alias("p95_lead_days"),
            F.max("lead_days").cast("bigint").alias("max_lead_days"),
        )
        .select(
            "l_suppkey",
            "n_shipments",
            mean_quantized("__sum_ld", "__n_ld").alias("avg_lead_days"),
            "p50_lead_days",
            "p95_lead_days",
            "max_lead_days",
        )
    )


# ---------------------------------------------------------------------------
# Round-3 batch: OHLC resampling, CDC merge, sketch-accuracy contract
# ---------------------------------------------------------------------------

_OHLC_BUCKET_US = 900_000_000  # 15 minutes


@query(
    "timeseries_resample_ohlc",
    oracle=f"""
    WITH e AS (SELECT event_type, value, event_id,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
    b AS (SELECT event_type, value, event_id, ts_us,
                 (ts_us // {_OHLC_BUCKET_US}) * {_OHLC_BUCKET_US} AS bucket_us
          FROM e),
    r AS (SELECT *,
                 row_number() OVER (PARTITION BY event_type, bucket_us
                                    ORDER BY ts_us, event_id) AS rn_a,
                 row_number() OVER (PARTITION BY event_type, bucket_us
                                    ORDER BY ts_us DESC, event_id DESC) AS rn_d
          FROM b)
    SELECT event_type, bucket_us,
           CAST(count(*) AS BIGINT) AS n_events,
           round(max(CASE WHEN rn_a = 1 THEN value END), 6) AS open,
           round(max(value), 6) AS high,
           round(min(value), 6) AS low,
           round(max(CASE WHEN rn_d = 1 THEN value END), 6) AS close
    FROM r GROUP BY event_type, bucket_us
    """,
)
def timeseries_resample_ohlc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series downsampling to 15-minute OHLC bars per event type —
    the hypertable/candlestick rollup.  Open/close are first/last by
    (ts, event_id) resolved with two row_numbers over ONE
    (event_type, bucket) shuffle (opposite sort orders re-sort within
    partitions, no second exchange), and the bar aggregation reuses the
    same partitioning.  Bucketing is integer µs arithmetic — never a
    session-timezone date_trunc."""
    ev_raw = _t(spark, sf_dir, "events")
    e = ev_raw.select(
        "event_type", "value", "event_id", ts_us_expr(ev_raw).alias("ts_us")
    )
    b = e.withColumn(
        "bucket_us",
        (F.col("ts_us") - F.col("ts_us") % _OHLC_BUCKET_US).cast("bigint"),
    )
    w_a = Window.partitionBy("event_type", "bucket_us").orderBy("ts_us", "event_id")
    w_d = Window.partitionBy("event_type", "bucket_us").orderBy(
        F.desc("ts_us"), F.desc("event_id")
    )
    r = b.withColumn("rn_a", F.row_number().over(w_a)).withColumn(
        "rn_d", F.row_number().over(w_d)
    )
    return r.groupBy("event_type", "bucket_us").agg(
        F.count("*").alias("n_events"),
        F.round(F.max(F.when(F.col("rn_a") == 1, F.col("value"))), 6).alias("open"),
        F.round(F.max("value"), 6).alias("high"),
        F.round(F.min("value"), 6).alias("low"),
        F.round(F.max(F.when(F.col("rn_d") == 1, F.col("value"))), 6).alias("close"),
    )


@query(
    "cdc_merge_upsert",
    oracle="""
    WITH snap AS (SELECT c_custkey, c_name,
                         round(c_acctbal, 2) AS c_acctbal FROM customer),
    changes AS (
      SELECT c_custkey AS k, 'U' AS op, c_name AS name,
             round(c_acctbal + 100.0, 2) AS acctbal
      FROM customer WHERE c_custkey % 7 = 0
      UNION ALL
      SELECT c_custkey, 'D', NULL, NULL FROM customer WHERE c_custkey % 7 = 1
      UNION ALL
      SELECT c_custkey + 1000000, 'I', 'NEW ' || c_name,
             round(c_acctbal, 2)
      FROM customer WHERE c_custkey % 7 = 2
    )
    SELECT coalesce(s.c_custkey, ch.k) AS c_custkey,
           CASE WHEN ch.op IN ('U', 'I') THEN ch.name ELSE s.c_name END AS c_name,
           CASE WHEN ch.op IN ('U', 'I') THEN ch.acctbal
                ELSE s.c_acctbal END AS c_acctbal,
           CASE ch.op WHEN 'I' THEN 'inserted' WHEN 'U' THEN 'updated'
                ELSE 'unchanged' END AS change_type
    FROM snap s FULL OUTER JOIN changes ch ON s.c_custkey = ch.k
    WHERE ch.op IS DISTINCT FROM 'D'
    """,
)
def cdc_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lakehouse MERGE / CDC-apply semantics as one declarative plan:
    a deterministic change batch (updates / deletes / inserts keyed off
    custkey residues) applied to the customer snapshot via FULL OUTER
    join + per-op resolution — upsert, delete, and passthrough in a
    single pass, the Delta/Iceberg MERGE INTO shape without a table
    format.

    Scale: one co-partitioned join on the merge key; the change batch is
    usually a small fraction of the snapshot, so AQE broadcasts it;
    output is written partition-aligned with the snapshot for the next
    apply cycle."""
    cust = _t(spark, sf_dir, "customer")
    snap = cust.select(
        "c_custkey", "c_name", F.round("c_acctbal", 2).alias("c_acctbal")
    )
    upd = cust.where(F.col("c_custkey") % 7 == 0).select(
        F.col("c_custkey").alias("k"),
        F.lit("U").alias("op"),
        F.col("c_name").alias("name"),
        F.round(F.col("c_acctbal") + 100.0, 2).alias("acctbal"),
    )
    dele = cust.where(F.col("c_custkey") % 7 == 1).select(
        F.col("c_custkey").alias("k"),
        F.lit("D").alias("op"),
        F.lit(None).cast("string").alias("name"),
        F.lit(None).cast("double").alias("acctbal"),
    )
    ins = cust.where(F.col("c_custkey") % 7 == 2).select(
        (F.col("c_custkey") + 1000000).alias("k"),
        F.lit("I").alias("op"),
        F.concat(F.lit("NEW "), F.col("c_name")).alias("name"),
        F.round("c_acctbal", 2).alias("acctbal"),
    )
    changes = upd.unionByName(dele).unionByName(ins)
    applied = F.col("op").isin("U", "I")
    return (
        snap.join(changes, snap.c_custkey == changes.k, "full_outer")
        .where(~F.col("op").eqNullSafe("D"))
        .select(
            F.coalesce("c_custkey", "k").alias("c_custkey"),
            F.when(applied, F.col("name")).otherwise(F.col("c_name")).alias("c_name"),
            F.when(applied, F.col("acctbal"))
            .otherwise(F.col("c_acctbal"))
            .alias("c_acctbal"),
            F.when(F.col("op") == "I", "inserted")
            .when(F.col("op") == "U", "updated")
            .otherwise("unchanged")
            .alias("change_type"),
        )
    )


@query(
    "approx_distinct_accuracy",
    oracle="""
    SELECT event_type,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact,
           (20 * abs(approx_count_distinct(user_id)
                     - count(DISTINCT user_id))
            <= count(DISTINCT user_id)) AS within_5pct
    FROM events GROUP BY event_type
    """,
)
def approx_distinct_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The sketch-accuracy CONTRACT, checked as a query: each engine
    runs its own HyperLogLog distinct-count next to the exact count and
    asserts the 5% envelope.  The sketches differ across engines (only
    the boolean + exact count are compared), which is exactly the
    point — approx_count_distinct is the scale path for distincts, and
    this row is the standing evidence its error budget holds on this
    data.  Sketch aggregation is map-side combinable: at 100 TB the
    shuffle carries fixed-size HLL registers, never user ids.

    The sketch is sized rsd=0.01 so the asserted 5% envelope carries a
    5-sigma margin: Spark's DEFAULT rsd (0.05) makes the estimator's
    own standard deviation equal the envelope — ~1-in-3 groups exceed
    it by construction — which the first sf0.1 oracle sweep caught
    (all five event types outside 5% while DuckDB's tighter HLL stayed
    inside; green at sf0.01 was luck, not margin).  A 1%-rsd HLL is
    still fixed-size (more registers, same combinability), so the
    100 TB story is unchanged."""
    ev = _t(spark, sf_dir, "events")
    # envelope as a pure-integer predicate (20·|d| ≤ exact ⇔ |d| ≤ 5%):
    # 0.05·bigint is a binary-inexact float whose comparison can flip
    # exactly ON the envelope edge — the integer cross-multiply can't
    return ev.groupBy("event_type").agg(
        F.count_distinct("user_id").cast("bigint").alias("n_exact"),
        (
            F.abs(
                F.approx_count_distinct("user_id", 0.01)
                - F.count_distinct("user_id")
            )
            * 20
            <= F.count_distinct("user_id")
        ).alias("within_5pct"),
    )


@query(
    "stat_welch_ttest",
    oracle=f"""
    WITH s AS (SELECT source,
                      CAST(count(*) AS BIGINT) AS n1,
                      CAST(sum(n_chars) AS BIGINT) AS s1,
                      CAST(sum(n_chars * n_chars) AS BIGINT) AS q1
               FROM documents GROUP BY source),
    g AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(n_chars) AS BIGINT) AS s,
                 CAST(sum(n_chars * n_chars) AS BIGINT) AS q
          FROM documents),
    m AS (SELECT source, n1, s1, q1,
                 n - n1 AS n2, s - s1 AS s2, q - q1 AS q2
          FROM s CROSS JOIN g),
    v AS (SELECT source, n1, n2, s1,
                 s1 / CAST(n1 AS DOUBLE) AS m1,
                 s2 / CAST(n2 AS DOUBLE) AS m2,
                 (q1 - s1 * (s1 / CAST(n1 AS DOUBLE))) / (n1 - 1) AS v1,
                 (q2 - s2 * (s2 / CAST(n2 AS DOUBLE))) / (n2 - 1) AS v2
          FROM m)
    SELECT source, n1 AS n_docs,
           {mean_quantized_sql("s1", "n1")} AS mean_chars,
           round((m1 - m2) / sqrt(v1 / n1 + v2 / n2), 6) AS t_stat
    FROM v
    """,
)
def stat_welch_ttest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Welch's unequal-variance t-statistic of each source's document
    length against the REST of the corpus — the drift/outlier screen run
    before blending a new source into a training mix.

    Both group and complement moments derive from ONE pass of exact
    BIGINT sums (n, Σx, Σx²): the complement is global-minus-group
    arithmetic on a broadcast 1-row aggregate, so no second scan, no
    self-join, and the float math starts from fold-order-proof
    integers — bit-identical cross-engine."""
    d = _t(spark, sf_dir, "documents")
    s = d.groupBy("source").agg(
        F.count("*").cast("bigint").alias("n1"),
        F.sum("n_chars").cast("bigint").alias("s1"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("q1"),
    )
    g = d.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("s"),
        F.sum(F.col("n_chars") * F.col("n_chars")).cast("bigint").alias("q"),
    )
    m = s.crossJoin(F.broadcast(g)).select(
        "source", "n1", "s1", "q1",
        (F.col("n") - F.col("n1")).alias("n2"),
        (F.col("s") - F.col("s1")).alias("s2"),
        (F.col("q") - F.col("q1")).alias("q2"),
    )
    # try_divide throughout: a single-doc group (n-1 = 0) or a
    # single-source corpus (n2 = 0) makes Welch's t undefined — NULL,
    # matching DuckDB /0, instead of an ANSI crash (hostile-fixture find)
    m1 = F.try_divide(F.col("s1"), F.col("n1").cast("double"))
    m2 = F.try_divide(F.col("s2"), F.col("n2").cast("double"))
    v1 = F.try_divide(F.col("q1") - F.col("s1") * m1, F.col("n1") - 1)
    v2 = F.try_divide(F.col("q2") - F.col("s2") * m2, F.col("n2") - 1)
    return m.select(
        "source",
        F.col("n1").alias("n_docs"),
        mean_quantized("s1", "n1").alias("mean_chars"),
        F.round(
            F.try_divide(
                m1 - m2,
                F.sqrt(
                    F.try_divide(v1, F.col("n1")) + F.try_divide(v2, F.col("n2"))
                ),
            ),
            6,
        ).alias("t_stat"),
    )


@query(
    "approx_percentile_accuracy",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50_exact,
           (abs(approx_quantile(value, 0.5) - quantile_cont(value, 0.5))
            <= 0.05 * quantile_cont(value, 0.5)) AS within_5pct
    FROM events GROUP BY event_type
    """,
)
def approx_percentile_accuracy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile-sketch accuracy CONTRACT, the percentile sibling of
    [[approx_distinct_accuracy]]: each engine runs its own mergeable
    quantile sketch (Spark: Greenwald-Khanna ``percentile_approx``;
    DuckDB: t-digest) beside the exact interpolated median and asserts
    the 5% envelope.  Only the exact median and the boolean are
    compared — the sketches legitimately differ.

    The sketch is the 100 TB path: exact ``percentile`` buffers every
    value per group, while the GK sketch is bounded-size and map-side
    combinable, so the shuffle carries fixed-size summaries.  This row
    is standing evidence the error budget holds on this data."""
    ev = _t(spark, sf_dir, "events")
    exact = F.expr("percentile(value, 0.5)")
    approx = F.expr("percentile_approx(value, 0.5, 10000)")
    return ev.groupBy("event_type").agg(
        F.round(exact, 6).alias("p50_exact"),
        (F.abs(approx - exact) <= 0.05 * exact).alias("within_5pct"),
    )


def _hex_u32_sql(h: str, pos_fn: str) -> str:
    """Parse the first 8 hex chars of md5 output into a BIGINT with an
    engine-portable expression: neither a conv() (absent in DuckDB) nor
    a strtol — just 8 digit lookups in a fixed-order polynomial.
    ``pos_fn`` is the 2-arg substring-position function name
    (Spark: instr, DuckDB: strpos), identical (haystack, needle)
    argument order in both."""
    terms = " + ".join(
        f"(CAST({pos_fn}('0123456789abcdef', substr({h}, {i}, 1)) AS BIGINT)"
        f" - 1) * {16 ** (8 - i)}"
        for i in range(1, 9)
    )
    return f"({terms})"


_DP_EPS = 1.0  # Laplace scale b = sensitivity/epsilon = 1.0


def _dp_noise_sql(u: str) -> str:
    """Inverse-CDF Laplace sample at deterministic uniform ``u``:
    -b * sign(u - 0.5) * ln(1 - 2*abs(u - 0.5))."""
    return (
        f"(-{1.0 / _DP_EPS} * sign({u} - 0.5) * ln(1 - 2 * abs({u} - 0.5)))"
    )


@query(
    "privacy_dp_counts",
    oracle=f"""
    WITH c AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_true
               FROM events GROUP BY event_type),
    u AS (SELECT event_type, n_true,
                 ({_hex_u32_sql("md5(event_type)", "strpos")} + 0.5)
                     / 4294967296.0 AS u
          FROM c)
    SELECT event_type,
           round({_dp_noise_sql("u")}, 6) AS noise,
           round(n_true + {_dp_noise_sql("u")}, 3) AS n_noised
    FROM u
    """,
)
def privacy_dp_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Differential-privacy release shape: per-group counts with
    Laplace(1/ε) noise, ε=1 — the mechanism a data-product publishes
    instead of raw counts (cf. [[privacy_k_anonymity]], which
    suppresses; this perturbs).

    The noise is REAL Laplace via inverse-CDF, but drawn at a
    deterministic uniform — the md5 of the group key parsed through an
    engine-portable hex polynomial — so the contract stays value-hash
    checkable.  A production run swaps the md5 for a seeded PRNG per
    release; everything else (the one aggregation shuffle, the
    noise-after-aggregate order, the post-processing round) is exactly
    what ships.  Noise is added AFTER the exact count aggregate:
    per-partition noising would sum k noise draws and destroy the ε
    budget."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n_true"))
    noise = F.expr(
        _dp_noise_sql(
            f"(({_hex_u32_sql('md5(event_type)', 'instr')} + 0.5) / 4294967296.0)"
        )
    )
    return c.select(
        "event_type",
        F.round(noise, 6).alias("noise"),
        F.round(F.col("n_true") + noise, 3).alias("n_noised"),
    )


@query(
    "stream_late_data_audit",
    oracle=f"""
    WITH o AS (SELECT user_id,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                      max(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                        PARTITION BY user_id ORDER BY event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                      ) AS wm_us
               FROM events)
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_events,
           CAST(count(*) FILTER (WHERE ts_us < wm_us - 600000000) AS BIGINT)
               AS n_late,
           {mean_quantized_sql(
               "count(*) FILTER (WHERE ts_us < wm_us - 600000000)",
               "count(*)",
           )} AS late_rate
    FROM o GROUP BY user_id
    """,
)
def stream_late_data_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark planning audit: for each user's stream (arrival order =
    event_id), how many events arrive more than 10 minutes behind the
    running event-time high-water mark — i.e. the rows a streaming job
    with ``withWatermark("ts", "10 minutes")`` would DROP.  Run this
    batch audit before picking a watermark delay.

    Per-user windows shuffle once on user_id; the running max is a
    bounded-state frame (one µs BIGINT per row).  Watermarks in Spark
    are per-stream global, but the per-key audit is the actionable
    report (which users' devices deliver late) and bounds the global
    answer from above."""
    from .sources.tables import load_table

    ev = load_table(spark, sf_dir, "events")
    ts_us = ts_us_expr(ev)
    w = (
        Window.partitionBy("user_id")
        .orderBy("event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    o = ev.select(
        "user_id",
        ts_us.alias("ts_us"),
        F.max(ts_us).over(w).alias("wm_us"),
    )
    late = F.col("ts_us") < F.col("wm_us") - 600_000_000
    return o.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.count_if(late).cast("bigint").alias("n_late"),
        mean_quantized(F.count_if(late), F.count("*")).alias("late_rate"),
    )


_PSI_SCALE = 1_000_000_000_000  # 1e-12 fixed point for PSI terms


@query(
    "ml_psi_drift",
    oracle=f"""
    WITH e AS (SELECT event_type, value,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us
               FROM events),
    m AS (SELECT event_type,
                 min(ts_us) AS t0, max(ts_us) AS t1,
                 min(value) AS v0, max(value) AS v1
          FROM e GROUP BY event_type),
    b AS (SELECT e.event_type,
                 CAST(least(floor((e.value - m.v0) * 10.0
                                  / greatest(m.v1 - m.v0, 1e-9)), 9) AS BIGINT)
                     AS bin,
                 CASE WHEN e.ts_us * 2 <= m.t0 + m.t1 THEN 1 ELSE 0 END AS is_ref
          FROM e JOIN m USING (event_type)),
    c AS (SELECT event_type, bin,
                 CAST(count(*) FILTER (WHERE is_ref = 1) AS BIGINT) AS c_ref,
                 CAST(count(*) FILTER (WHERE is_ref = 0) AS BIGINT) AS c_cur
          FROM b GROUP BY event_type, bin),
    tot AS (SELECT event_type,
                   CAST(sum(c_ref) AS BIGINT) AS n_ref,
                   CAST(sum(c_cur) AS BIGINT) AS n_cur
            FROM c GROUP BY event_type),
    grid AS (SELECT t.event_type, g.bin, t.n_ref, t.n_cur
             FROM tot t CROSS JOIN
                  (SELECT unnest(generate_series(0, 9)) AS bin) g),
    f AS (SELECT grid.event_type, grid.n_ref, grid.n_cur,
                 (coalesce(c.c_ref, 0) + 0.5) / (grid.n_ref + 5.0) AS p,
                 (coalesce(c.c_cur, 0) + 0.5) / (grid.n_cur + 5.0) AS q
          FROM grid LEFT JOIN c
            ON grid.event_type = c.event_type AND grid.bin = c.bin)
    SELECT event_type,
           any_value(n_ref) AS n_ref, any_value(n_cur) AS n_cur,
           {mean_quantized_sql(
               f"sum(CAST(floor((p - q) * ln(p / q) * {_PSI_SCALE}) AS BIGINT))",
               str(_PSI_SCALE),
           )} AS psi
    FROM f GROUP BY event_type
    """,
)
def ml_psi_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Population Stability Index between the first and second half of
    each event type's timeline — the standard ML-monitoring screen for
    feature drift (PSI > 0.2 = retrain trigger).  Ten equi-width bins
    over the type's own value range, Laplace-smoothed so empty bins are
    defined, and every per-bin term quantized to 1e-12 fixed point
    before summation — the 10-term float sum would otherwise depend on
    fold order.

    Two aggregation shuffles over (event_type, bin) — cardinality
    10×|types| — and a broadcastable per-type bounds table.  The raw
    event rows are scanned twice (bounds, then binning); at 100 TB the
    bounds pass is a cheap min/max-combinable scan, and nothing holds
    per-row state."""
    ev = _t(spark, sf_dir, "events")
    e = ev.select("event_type", "value", ts_us_expr(ev).alias("ts_us"))
    m = e.groupBy("event_type").agg(
        F.min("ts_us").alias("t0"), F.max("ts_us").alias("t1"),
        F.min("value").alias("v0"), F.max("value").alias("v1"),
    )
    b = e.join(F.broadcast(m), "event_type").select(
        "event_type",
        F.least(
            F.floor(
                (F.col("value") - F.col("v0")) * 10.0
                / F.greatest(F.col("v1") - F.col("v0"), F.lit(1e-9))
            ),
            F.lit(9),
        ).cast("bigint").alias("bin"),
        F.when(F.col("ts_us") * 2 <= F.col("t0") + F.col("t1"), 1)
        .otherwise(0)
        .alias("is_ref"),
    )
    c = b.groupBy("event_type", "bin").agg(
        F.count_if(F.col("is_ref") == 1).cast("bigint").alias("c_ref"),
        F.count_if(F.col("is_ref") == 0).cast("bigint").alias("c_cur"),
    )
    tot = c.groupBy("event_type").agg(
        F.sum("c_ref").cast("bigint").alias("n_ref"),
        F.sum("c_cur").cast("bigint").alias("n_cur"),
    )
    grid = tot.crossJoin(
        F.broadcast(spark.range(10).select(F.col("id").alias("bin")))
    )
    f = grid.join(c, ["event_type", "bin"], "left").select(
        "event_type", "n_ref", "n_cur",
        ((F.coalesce("c_ref", F.lit(0)) + 0.5) / (F.col("n_ref") + 5.0)).alias("p"),
        ((F.coalesce("c_cur", F.lit(0)) + 0.5) / (F.col("n_cur") + 5.0)).alias("q"),
    )
    term = F.floor(
        (F.col("p") - F.col("q")) * F.log(F.col("p") / F.col("q")) * _PSI_SCALE
    ).cast("bigint")
    return f.groupBy("event_type").agg(
        F.any_value("n_ref").alias("n_ref"),
        F.any_value("n_cur").alias("n_cur"),
        mean_quantized(F.sum(term), F.lit(_PSI_SCALE)).alias("psi"),
    )


_EWMA_ALPHA = 0.3
_EWMA_LAGS = 8


def _ewma_terms_sql(lag_fn) -> tuple[str, str]:
    """Fixed-order EWMA numerator/denominator over 8 explicit lag
    terms — a windowed collect would have engine-dependent order; eight
    written-out lags fold left-to-right identically everywhere.
    ``lag_fn(k)`` renders the k-th lag of the daily value expression.

    Weights are EXACT INTEGERS: (1-α)^k with α=0.3 is (7/10)^k, so
    scaling the whole ratio by 10^(L-1) makes w_k = 7^k·10^(L-1-k) —
    the EWMA becomes one integer rational for the mean_quantized lane
    instead of a float fold whose round() can sit on a boundary
    (docs/OPERATIONS.md quantization contract).

    The numerator terms ride DECIMAL(38,0): w_0 = 10^7, and daily
    cents at population scale reach ~10^13-10^15, so cents·w exceeds
    int64 — ANSI Spark would crash, non-ANSI would silently wrap
    (round-9 hypothesis find; the cast text is valid in both engines,
    DuckDB reads it as DECIMAL(38,0) too)."""
    W = [7**k * 10 ** (_EWMA_LAGS - 1 - k) for k in range(_EWMA_LAGS)]
    num = " + ".join(
        f"CAST(coalesce({lag_fn(k)}, 0) AS DECIMAL(38,0)) * {W[k]}"
        for k in range(_EWMA_LAGS)
    )
    den = " + ".join(
        f"(CASE WHEN {lag_fn(k)} IS NOT NULL THEN {W[k]} ELSE 0 END)"
        for k in range(_EWMA_LAGS)
    )
    return num, den


@query(
    "timeseries_ewma_smoothing",
    oracle=(lambda: (lambda num, den: f"""
    WITH {daily_cents_sql("event_type", where="ts IS NOT NULL")},
    w AS (SELECT event_type, day, daily_cents,
                 daily_cents AS x0,
                 {", ".join(f"lag(daily_cents, {k}) OVER (PARTITION BY event_type ORDER BY day) AS x{k}" for k in range(1, _EWMA_LAGS))}
          FROM g)
    SELECT event_type, day,
           round(daily_cents / 100.0, 2) AS daily_value,
           {mean_quantized_signed_sql(
               f"({num})", f"100 * CAST(({den}) AS BIGINT)"
           )} AS ewma_value
    FROM w
    """)(*_ewma_terms_sql(lambda k: f"x{k}")))(),
)
def timeseries_ewma_smoothing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially weighted moving average of daily revenue per event
    type (α=0.3, 8-day memory) — the forecasting/smoothing primitive
    behind anomaly baselines and capacity dashboards.

    Determinism ladder: daily sums are exact BIGINT cents (doubles
    quantized before any aggregation), and the EWMA is eight explicit
    lag terms folded in written order — not a windowed collect, whose
    element order is engine-defined.  One shuffle on event_type; the
    window state is 8 lag slots per partition.  The geometric-weight
    truncation at 8 days changes the value by < (1-α)^8 ≈ 5.8% of a
    day's weight — declared in the contract rather than hidden."""
    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    g = daily_cents(ev, "event_type")
    w = Window.partitionBy("event_type").orderBy("day")
    lag_cols = [F.col("daily_cents").alias("x0")] + [
        F.lag("daily_cents", k).over(w).alias(f"x{k}")
        for k in range(1, _EWMA_LAGS)
    ]
    base = g.select("event_type", "day", "daily_cents", *lag_cols)
    num_sql, den_sql = _ewma_terms_sql(lambda k: f"x{k}")
    return base.select(
        "event_type",
        "day",
        F.round(F.col("daily_cents") / 100.0, 2).alias("daily_value"),
        mean_quantized_signed(
            F.expr(f"({num_sql})"),
            F.expr(f"100 * CAST(({den_sql}) AS BIGINT)"),
        ).alias("ewma_value"),
    )


@query(
    "sketch_hll_mergeable_rollup",
    oracle="""
    SELECT CAST(count(DISTINCT user_id) AS BIGINT) AS n_exact_global,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types,
           TRUE AS merged_within_5pct
    FROM events WHERE event_type IS NOT NULL
    """,
)
def sketch_hll_mergeable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sketch MERGEABILITY contract — the property that makes sketches
    the 100 TB path for distinct counting: per-group DataSketches HLL
    sketches (one per event type) are UNIONED into a global sketch
    whose estimate must land within 5% of the exact global distinct.
    This is the re-aggregation a rollup cube or incremental pipeline
    performs on stored sketch bytes instead of raw ids — per-partition
    state is a fixed-size register array, and merging never rescans
    history.  Only the exact count and the envelope boolean are
    compared; the sketch bytes themselves are engine-local
    (cf. [[approx_distinct_accuracy]], the single-level contract).
    A NULL event_type is not a type: filtered on both sides (the
    groupBy would otherwise mint a NULL-keyed sketch that
    count(DISTINCT) never counts — hostile-fixture find).

    Sketches are sized lgConfigK=14 (RSE ≈ 0.8%, a >5σ margin under
    the asserted 5%) per the envelope-margin contract in
    docs/OPERATIONS.md — the default lgK=12 (~1.6% RSE) leaves only
    ~3σ, the same no-margin class the 10×-scale sweep caught in
    [[approx_distinct_accuracy]]."""
    ev = _t(spark, sf_dir, "events").where(F.col("event_type").isNotNull())
    per_type = ev.groupBy("event_type").agg(
        F.hll_sketch_agg("user_id", 14).alias("sk")
    )
    merged = per_type.agg(
        F.hll_sketch_estimate(F.hll_union_agg("sk")).alias("est"),
        F.count("*").cast("bigint").alias("n_types"),
    )
    exact = ev.agg(
        F.count_distinct("user_id").cast("bigint").alias("n_exact_global")
    )
    # integer-form envelope (20·|d| ≤ exact), same reasoning as
    # approx_distinct_accuracy — no float comparison on the edge
    return exact.crossJoin(F.broadcast(merged)).select(
        "n_exact_global",
        "n_types",
        (
            F.abs(F.col("est") - F.col("n_exact_global")) * 20
            <= F.col("n_exact_global")
        ).alias("merged_within_5pct"),
    )


_DEBOUNCE_US = 600_000_000  # 10 minutes


@query(
    "events_alert_debounce",
    oracle=f"""
    WITH o AS (SELECT user_id, event_type, event_id,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us,
                      lag(epoch_us(CAST(ts AS TIMESTAMP))) OVER (
                        PARTITION BY user_id, event_type
                        ORDER BY ts, event_id
                      ) AS prev_us
               FROM events WHERE event_type = 'error')
    SELECT user_id,
           CAST(count(*) AS BIGINT) AS n_raw,
           CAST(count(*) FILTER (
             WHERE prev_us IS NULL OR ts_us - prev_us >= {_DEBOUNCE_US}
           ) AS BIGINT) AS n_emitted,
           {mean_quantized_sql(
               "count(*) - count(*) FILTER ("
               f"WHERE prev_us IS NULL OR ts_us - prev_us >= {_DEBOUNCE_US})",
               "count(*)")} AS suppression_rate
    FROM o GROUP BY user_id
    """,
)
def events_alert_debounce(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alert debouncing: suppress repeat error events within 10 minutes
    of the previous one for the same (user, type) — the dedup rule a
    paging pipeline applies so an error storm emits one alert, not
    hundreds.  The batch twin of streaming
    ``dropDuplicatesWithinWatermark`` with a keyed time window
    (cf. [[stream_late_data_audit]] for the watermark-planning side).

    One shuffle on (user, type); the lag frame holds one timestamp of
    state per group — the same O(1) state the streaming operator keeps.
    The error-type filter pushes into the scan."""
    ev = _t(spark, sf_dir, "events")
    ts_us = ts_us_expr(ev)
    o = ev.where(F.col("event_type") == "error").select(
        "user_id", "event_id", ts_us.alias("ts_us"),
        F.col("ts").alias("__ts"),
    )
    w = Window.partitionBy("user_id").orderBy("__ts", "event_id")
    o = o.select(
        "user_id", "ts_us", F.lag("ts_us").over(w).alias("prev_us")
    )
    emitted = F.col("prev_us").isNull() | (
        F.col("ts_us") - F.col("prev_us") >= _DEBOUNCE_US
    )
    return o.groupBy("user_id").agg(
        F.count("*").cast("bigint").alias("n_raw"),
        F.count_if(emitted).cast("bigint").alias("n_emitted"),
        # 1 − s/n == (n−s)/n: one exact quantized ratio, not a float
        # composition (docs/OPERATIONS.md contract)
        mean_quantized(
            F.count("*") - F.count_if(emitted), F.count("*")
        ).alias("suppression_rate"),
    )


@query(
    "events_audience_overlap",
    oracle=f"""
    WITH du AS (SELECT DISTINCT event_type, user_id FROM events),
    sz AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n FROM du
           GROUP BY event_type),
    ov AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                  CAST(count(*) AS BIGINT) AS n_both
           FROM du a JOIN du b
             ON a.user_id = b.user_id AND a.event_type < b.event_type
           GROUP BY a.event_type, b.event_type)
    SELECT ov.type_a, ov.type_b, sa.n AS n_a, sb.n AS n_b, ov.n_both,
           {mean_quantized_sql("ov.n_both", "sa.n + sb.n - ov.n_both")}
               AS jaccard
    FROM ov JOIN sz sa ON ov.type_a = sa.event_type
            JOIN sz sb ON ov.type_b = sb.event_type
    """,
)
def events_audience_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audience-overlap matrix: the Jaccard of user sets between every
    pair of event types — the segmentation question ('do purchasers
    overlap with error-reporters?') behind campaign targeting and
    funnel design.

    The expensive step is ONE distinct over (type, user); the pair
    join keys on user_id with fan-out bounded by the type count (the
    same bounded-fan-out argument as [[corpus_cross_source_overlap]]),
    and the size dims broadcast back.  At 100 TB, swap exact distinct
    user sets for the HLL sketches of [[sketch_hll_mergeable_rollup]]
    and intersect via inclusion-exclusion on unioned sketches — the
    declared approximate path."""
    ev = _t(spark, sf_dir, "events")
    du = ev.select("event_type", "user_id").distinct()
    sz = du.groupBy("event_type").agg(F.count("*").cast("bigint").alias("n"))
    a = du.alias("a")
    b = du.alias("b")
    ov = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_both"))
    )
    sa = sz.select(F.col("event_type").alias("type_a"), F.col("n").alias("n_a"))
    sb = sz.select(F.col("event_type").alias("type_b"), F.col("n").alias("n_b"))
    return (
        ov.join(F.broadcast(sa), "type_a")
        .join(F.broadcast(sb), "type_b")
        .select(
            "type_a", "type_b", "n_a", "n_b", "n_both",
            mean_quantized(
                "n_both", F.col("n_a") + F.col("n_b") - F.col("n_both")
            ).alias("jaccard"),
        )
    )


@query(
    "events_kpi_daily",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type,
                      {epoch_day_from_us_sql()} AS day,
                      {to_fixed_sql("value", 100)} AS cents
               FROM events WHERE ts IS NOT NULL),
    firstday AS (SELECT user_id, min(day) AS first_day FROM e GROUP BY user_id),
    daily AS (SELECT day,
                     CAST(count(*) AS BIGINT) AS n_events,
                     CAST(count(DISTINCT user_id) AS BIGINT) AS dau,
                     CAST(sum(cents) AS BIGINT) AS revenue_cents,
                     CAST(count(*) FILTER (WHERE event_type = 'error') AS BIGINT)
                         AS n_errors
              FROM e GROUP BY day),
    newu AS (SELECT first_day AS day, CAST(count(*) AS BIGINT) AS new_users
             FROM firstday GROUP BY first_day)
    SELECT d.day, d.n_events, d.dau,
           round(d.revenue_cents / 100.0, 2) AS revenue,
           {mean_quantized_sql("d.n_errors", "d.n_events")} AS error_rate,
           coalesce(n.new_users, 0) AS new_users
    FROM daily d LEFT JOIN newu n ON d.day = n.day
    """,
)
def events_kpi_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The daily KPI mart in one pass: events, DAU, revenue, error
    rate, and new-user count per day — the dashboard table a data
    product serves, composing the engine's aggregate/distinct/cohort
    primitives at the day grain (cf. [[events_dau_wau_mau]] for the
    rolling windows, [[cohort_retention]] for the triangle).

    Revenue sums exact integer cents (the fold-order rule); new-user
    attribution derives from one min-day-per-user aggregate joined back
    on day (both sides day-grain, broadcastable).  The distinct-DAU
    count is the one non-combinable piece — at 100 TB swap it for the
    HLL sketch of [[sketch_hll_mergeable_rollup]], the declared
    approximate path."""
    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    e = ev.select(
        "user_id", "event_type",
        epoch_day_from_us(ts_us_expr(ev)).alias("day"),
        to_fixed("value", 100).alias("cents"),
    )
    firstday = e.groupBy("user_id").agg(F.min("day").alias("first_day"))
    daily = e.groupBy("day").agg(
        F.count("*").cast("bigint").alias("n_events"),
        F.count_distinct("user_id").cast("bigint").alias("dau"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
        F.count_if(F.col("event_type") == "error").cast("bigint").alias("n_errors"),
    )
    newu = firstday.groupBy(F.col("first_day").alias("day")).agg(
        F.count("*").cast("bigint").alias("new_users")
    )
    return daily.join(F.broadcast(newu), "day", "left").select(
        "day", "n_events", "dau",
        F.round(F.col("revenue_cents") / 100.0, 2).alias("revenue"),
        mean_quantized("n_errors", "n_events").alias("error_rate"),
        F.coalesce("new_users", F.lit(0)).alias("new_users"),
    )


@query(
    "join_asof_nearest",
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
    w AS (SELECT event_id, user_id, event_type, ts_us,
                 last_value(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_click,
                 first_value(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS next_click
          FROM e)
    SELECT event_id, user_id, ts_us AS purchase_ts_us,
           CASE
             WHEN prev_click IS NULL AND next_click IS NULL THEN NULL
             WHEN next_click IS NULL THEN prev_click
             WHEN prev_click IS NULL THEN next_click
             WHEN ts_us - prev_click <= next_click - ts_us THEN prev_click
             ELSE next_click
           END AS nearest_click_ts_us,
           CASE
             WHEN prev_click IS NULL AND next_click IS NULL THEN NULL
             WHEN next_click IS NULL THEN 'backward'
             WHEN prev_click IS NULL THEN 'forward'
             WHEN ts_us - prev_click <= next_click - ts_us THEN 'backward'
             ELSE 'forward'
           END AS direction
    FROM w WHERE event_type = 'purchase'
    """,
)
def join_asof_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nearest-neighbor as-of join: each purchase pairs with its
    temporally CLOSEST click in either direction (ties prefer the
    prior event — pandas ``merge_asof(direction='nearest')``), the
    sensor-alignment/attribution variant that completes the as-of
    family next to backward ([[join_asof_attribution]]) and bounded
    ([[join_asof_tolerance]]).

    Two mirrored IGNORE-NULLS window frames over the SAME (user_id)
    sort — one shuffle, one sort, O(1) state per direction — then a
    pure per-row argmin.  No join, no interval explosion, no second
    pass."""
    ev_raw = _t(spark, sf_dir, "events")
    e = ev_raw.select(
        "event_id", "user_id", "event_type", ts_us_expr(ev_raw).alias("ts_us")
    )
    click_ts = F.when(F.col("event_type") == "click", F.col("ts_us"))
    wb = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    w = e.select(
        "event_id", "user_id", "event_type", "ts_us",
        F.last(click_ts, ignorenulls=True).over(wb).alias("prev_click"),
        F.first(click_ts, ignorenulls=True).over(wf).alias("next_click"),
    ).where(F.col("event_type") == "purchase")
    prev_n = F.col("prev_click")
    next_n = F.col("next_click")
    back_wins = F.col("ts_us") - prev_n <= next_n - F.col("ts_us")
    nearest = (
        F.when(prev_n.isNull() & next_n.isNull(), F.lit(None))
        .when(next_n.isNull(), prev_n)
        .when(prev_n.isNull(), next_n)
        .when(back_wins, prev_n)
        .otherwise(next_n)
    )
    direction = (
        F.when(prev_n.isNull() & next_n.isNull(), F.lit(None).cast("string"))
        .when(next_n.isNull(), F.lit("backward"))
        .when(prev_n.isNull(), F.lit("forward"))
        .when(back_wins, F.lit("backward"))
        .otherwise(F.lit("forward"))
    )
    return w.select(
        "event_id", "user_id",
        F.col("ts_us").alias("purchase_ts_us"),
        nearest.alias("nearest_click_ts_us"),
        direction.alias("direction"),
    )


@query(
    "stat_kaplan_meier",
    oracle="""
    WITH od AS (SELECT o_custkey,
                       CAST(floor(epoch(CAST(o_orderdate AS TIMESTAMP)) / 86400)
                            AS BIGINT) AS day
                FROM orders),
    mx AS (SELECT max(day) AS max_day FROM od),
    seq AS (SELECT o_custkey, day,
                   lead(day) OVER (PARTITION BY o_custkey ORDER BY day) AS next_day
            FROM (SELECT DISTINCT o_custkey, day FROM od)),
    dur AS (SELECT CASE WHEN next_day IS NOT NULL THEN next_day - day
                        ELSE (SELECT max_day FROM mx) - day END AS t,
                   CASE WHEN next_day IS NOT NULL THEN 1 ELSE 0 END AS ev
            FROM seq),
    dur2 AS (SELECT t, ev FROM dur WHERE t > 0),
    tot AS (SELECT CAST(count(*) AS BIGINT) AS n_total FROM dur2),
    at_t AS (SELECT t,
                    CAST(sum(ev) AS BIGINT) AS d,
                    CAST(count(*) AS BIGINT) AS removed
             FROM dur2 GROUP BY t),
    r AS (SELECT t, d, removed,
                 CAST(n_total
                   - coalesce(sum(removed) OVER (ORDER BY t
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS n_risk
          FROM at_t CROSS JOIN tot),
    km AS (SELECT t, d, n_risk,
                  CASE WHEN d = n_risk THEN 0.0
                       ELSE exp(sum(CASE WHEN d < n_risk
                                         THEN ln(1 - d / CAST(n_risk AS DOUBLE))
                                    END)
                                OVER (ORDER BY t ROWS UNBOUNDED PRECEDING))
                  END AS s
           FROM r WHERE d > 0)
    SELECT t AS gap_days, n_risk, d AS n_events, round(s, 6) AS survival
    FROM km
    """,
)
def stat_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival of customer inter-order gaps with RIGHT
    CENSORING (the time since a customer's last order is an incomplete
    observation, not an event) — the churn-analysis estimator proper,
    where naive gap averages are biased by exactly those censored
    tails.

    S(t) = Π_{tᵢ≤t} (1 − dᵢ/nᵢ) computed as exp of a windowed cumsum
    of log terms — the running product is order-pinned by the window
    sort, so the float ladder is deterministic.  The global window runs
    over DISTINCT gap lengths (bounded by the calendar span in days,
    like [[interval_coverage_profile]]'s sweep), never over customers;
    everything per-customer is one (custkey) shuffle for the lead()
    frame."""
    o = _t(spark, sf_dir, "orders")
    day = epoch_day_expr("o_orderdate")
    od = o.select("o_custkey", day.alias("day")).distinct()
    mx = od.agg(F.max("day").alias("max_day"))
    w = Window.partitionBy("o_custkey").orderBy("day")
    seq = od.select(
        "o_custkey", "day", F.lead("day").over(w).alias("next_day")
    ).crossJoin(F.broadcast(mx))
    dur = seq.select(
        F.when(
            F.col("next_day").isNotNull(), F.col("next_day") - F.col("day")
        )
        .otherwise(F.col("max_day") - F.col("day"))
        .alias("t"),
        F.when(F.col("next_day").isNotNull(), 1).otherwise(0).alias("ev"),
    ).where(F.col("t") > 0)
    tot = dur.agg(F.count("*").cast("bigint").alias("n_total"))
    at_t = dur.groupBy("t").agg(
        F.sum("ev").cast("bigint").alias("d"),
        F.count("*").cast("bigint").alias("removed"),
    )
    wt = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    r = at_t.crossJoin(F.broadcast(tot)).select(
        "t", "d",
        (
            F.col("n_total")
            - F.coalesce(F.sum("removed").over(wt), F.lit(0))
        ).alias("n_risk"),
    )
    wk = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, 0)
    term = F.when(
        F.col("d") < F.col("n_risk"),
        F.log(1 - F.col("d") / F.col("n_risk").cast("double")),
    )
    km = r.where(F.col("d") > 0).select(
        "t", "d", "n_risk",
        F.when(F.col("d") == F.col("n_risk"), F.lit(0.0))
        .otherwise(F.exp(F.sum(term).over(wk)))
        .alias("s"),
    )
    return km.select(
        F.col("t").alias("gap_days"),
        "n_risk",
        F.col("d").alias("n_events"),
        F.round("s", 6).alias("survival"),
    )


@query(
    "stat_lorenz_gini",
    oracle=f"""
    WITH rev AS (SELECT o_custkey,
                        CAST(sum({to_fixed_sql("o_totalprice", 100)})
                             AS BIGINT) AS cents
                 FROM orders GROUP BY o_custkey),
    rk AS (SELECT cents,
                  CAST(row_number() OVER (ORDER BY cents, o_custkey) AS BIGINT)
                      AS i
           FROM rev),
    agg AS (SELECT CAST(count(*) AS BIGINT) AS n,
                   CAST(sum(cents) AS BIGINT) AS total,
                   CAST(sum(i * cents) AS BIGINT) AS weighted
            FROM rk)
    SELECT n AS n_customers,
           round(total / 100.0, 2) AS total_revenue,
           {mean_quantized_signed_sql(
               "2 * CAST(weighted AS HUGEINT) - CAST(n + 1 AS HUGEINT) * total",
               "CAST(n AS HUGEINT) * total")} AS gini
    FROM agg
    """,
)
def stat_lorenz_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gini coefficient of customer revenue concentration — the
    inequality number behind 'top X% of customers drive Y% of revenue'
    (the continuous counterpart of [[abc_pareto_classification]]'s
    bands).  Computed by the rank formula G = 2·Σ(i·xᵢ)/(n·Σx) −
    (n+1)/n over ascending revenue ranks.

    Every accumulation is an exact BIGINT (cents, ranks, rank-weighted
    cents); floats appear only in the final two divisions.  The rank
    window is global but runs over the CUSTOMER aggregate (dim-sized,
    like the Pareto banding), never over order rows; ranks tie-break on
    custkey so the weighting is total-ordered."""
    from .operators.windows import global_row_number

    o = _t(spark, sf_dir, "orders")
    cents = to_fixed("o_totalprice", 100)
    rev = o.groupBy("o_custkey").agg(F.sum(cents).cast("bigint").alias("cents"))
    # distributed exact rank (round-5): customer dim can be 10⁹ rows
    rk = global_row_number(rev, ["cents", "o_custkey"], "i").select(
        "cents", "i"
    )
    agg = rk.agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("total"),
        F.sum(F.col("i") * F.col("cents")).cast("bigint").alias("weighted"),
    )
    # G = (2w − (n+1)·t)/(n·t) is one exact rational — signed quantized
    # lane on DECIMAL pre-casts (w ~ n²·cents exceeds BIGINT at dim
    # scale), not a float composition (docs/OPERATIONS.md contract)
    return agg.select(
        F.col("n").alias("n_customers"),
        F.round(F.col("total") / 100.0, 2).alias("total_revenue"),
        mean_quantized_signed(
            F.col("weighted").cast("decimal(38,0)") * 2
            - (F.col("n").cast("decimal(38,0)") + 1) * F.col("total"),
            F.col("n").cast("decimal(38,0)") * F.col("total"),
        ).alias("gini"),
    )


_BE_SCALE = 1_000_000_000  # 1e-9 fixed point for entropy terms


@query(
    "events_user_entropy",
    oracle=f"""
    WITH c AS (SELECT user_id, event_type, CAST(count(*) AS BIGINT) AS n
               FROM events GROUP BY user_id, event_type),
    t AS (SELECT user_id, CAST(sum(n) AS BIGINT) AS n_tot FROM c GROUP BY user_id),
    e AS (SELECT c.user_id, t.n_tot,
                 CAST(floor(-(c.n / CAST(t.n_tot AS DOUBLE))
                            * ln(c.n / CAST(t.n_tot AS DOUBLE))
                            * {_BE_SCALE}) AS BIGINT) AS h_q
          FROM c JOIN t ON c.user_id = t.user_id)
    SELECT user_id,
           any_value(n_tot) AS n_events,
           CAST(count(*) AS BIGINT) AS n_types,
           {mean_quantized_sql("sum(h_q)", str(_BE_SCALE))} AS entropy
    FROM e GROUP BY user_id
    """,
)
def events_user_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Behavioral-diversity score: Shannon entropy of each user's
    event-type distribution (0 = single-behavior bot-like, ln(5) =
    uniform across all types) — the segmentation feature that
    separates power users from single-action drive-bys, built the same
    fixed-point way as [[corpus_token_entropy]].

    Two combinable aggregates on the (user, type) then (user) grain;
    per-term quantization to 1e-9 BIGINTs makes the per-user sum exact
    under any fold order."""
    ev = _t(spark, sf_dir, "events")
    c = ev.groupBy("user_id", "event_type").agg(
        F.count("*").cast("bigint").alias("n")
    )
    t = c.groupBy("user_id").agg(F.sum("n").cast("bigint").alias("n_tot"))
    p = F.col("n") / F.col("n_tot").cast("double")
    h_q = F.floor(-p * F.log(p) * _BE_SCALE).cast("bigint")
    e = c.join(t, "user_id").select("user_id", "n_tot", h_q.alias("h_q"))
    return e.groupBy("user_id").agg(
        F.any_value("n_tot").alias("n_events"),
        F.count("*").cast("bigint").alias("n_types"),
        mean_quantized(F.sum("h_q"), F.lit(_BE_SCALE)).alias("entropy"),
    )


_CHI_SCALE = 1_000_000_000  # 1e-9 fixed point for chi-square terms


@query(
    "stat_chi_square_independence",
    oracle=f"""
    WITH o AS (SELECT p_brand, p_type AS cat,
                      CAST(count(*) AS BIGINT) AS obs
               FROM part GROUP BY p_brand, p_type),
    rt AS (SELECT p_brand, CAST(sum(obs) AS BIGINT) AS n_row FROM o GROUP BY p_brand),
    ct AS (SELECT cat, CAST(sum(obs) AS BIGINT) AS n_col FROM o GROUP BY cat),
    tt AS (SELECT CAST(sum(obs) AS BIGINT) AS n_tot FROM o),
    grid AS (SELECT rt.p_brand, ct.cat, rt.n_row, ct.n_col
             FROM rt CROSS JOIN ct),
    terms AS (SELECT g.p_brand, g.cat,
                     coalesce(o.obs, 0) AS obs,
                     g.n_row * CAST(g.n_col AS DOUBLE) / t.n_tot AS expected
              FROM grid g LEFT JOIN o
                ON g.p_brand = o.p_brand AND g.cat = o.cat
              CROSS JOIN tt t),
    q AS (SELECT CAST(floor((obs - expected) * (obs - expected) / expected
                            * {_CHI_SCALE}) AS BIGINT) AS chi_q
          FROM terms)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM rt) AS n_brands,
           (SELECT CAST(count(*) AS BIGINT) FROM ct) AS n_types,
           ((SELECT count(*) FROM rt) - 1) * ((SELECT count(*) FROM ct) - 1)
               AS dof,
           {mean_quantized_sql("sum(chi_q)", str(_CHI_SCALE))} AS chi_square
    FROM q
    """,
)
def stat_chi_square_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson chi-square test of independence between two categorical
    dimensions (brand × part type) — the association screen that
    belongs beside [[stat_welch_ttest]] (means), [[stat_corr_matrix]]
    (numeric), and [[basket_association_rules]] (itemsets) in the
    statistics battery.

    The contingency grid is dim × dim sized (built by crossing the two
    marginal tables — never by re-scanning facts), zero cells enter
    with their full expected-count term via the left join, and each
    (O−E)²/E term quantizes to 1e-9 fixed point before the exact
    integer total.  One (brand, type) aggregation shuffle does all the
    counting; everything after runs on broadcastable marginals."""
    p = _t(spark, sf_dir, "part")
    o = p.groupBy(F.col("p_brand"), F.col("p_type").alias("cat")).agg(
        F.count("*").cast("bigint").alias("obs")
    )
    rt = o.groupBy("p_brand").agg(F.sum("obs").cast("bigint").alias("n_row"))
    ct = o.groupBy("cat").agg(F.sum("obs").cast("bigint").alias("n_col"))
    tt = o.agg(F.sum("obs").cast("bigint").alias("n_tot"))
    grid = rt.crossJoin(F.broadcast(ct))
    terms = (
        grid.join(o, ["p_brand", "cat"], "left")
        .crossJoin(F.broadcast(tt))
        .select(
            F.coalesce("obs", F.lit(0)).alias("obs"),
            (
                F.col("n_row") * F.col("n_col").cast("double") / F.col("n_tot")
            ).alias("expected"),
        )
    )
    chi_q = F.floor(
        (F.col("obs") - F.col("expected"))
        * (F.col("obs") - F.col("expected"))
        / F.col("expected")
        * _CHI_SCALE
    ).cast("bigint")
    nb = rt.agg(F.count("*").cast("bigint").alias("n_brands"))
    nt = ct.agg(F.count("*").cast("bigint").alias("n_types"))
    tot = terms.agg(
        mean_quantized(F.sum(chi_q), F.lit(_CHI_SCALE)).alias("chi_square")
    )
    return (
        nb.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(tot))
        .select(
            "n_brands", "n_types",
            ((F.col("n_brands") - 1) * (F.col("n_types") - 1)).alias("dof"),
            "chi_square",
        )
    )


@query(
    "stat_ks_two_sample",
    oracle=f"""
    WITH g AS (SELECT n_chars,
                      CAST(count(*) FILTER (WHERE source = 'src0') AS BIGINT) AS c1,
                      CAST(count(*) FILTER (WHERE source <> 'src0') AS BIGINT) AS c2
               FROM documents GROUP BY n_chars),
    t AS (SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2 FROM g),
    cdf AS (SELECT n_chars,
                   CAST(sum(c1) OVER (ORDER BY n_chars
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS f1,
                   CAST(sum(c2) OVER (ORDER BY n_chars
                                      ROWS UNBOUNDED PRECEDING) AS BIGINT) AS f2
            FROM g)
    SELECT t.n1, t.n2,
           {mean_quantized_sql(
               "max(abs(CAST(cdf.f1 AS HUGEINT) * t.n2"
               " - CAST(cdf.f2 AS HUGEINT) * t.n1))",
               "CAST(t.n1 AS HUGEINT) * t.n2")} AS ks_d
    FROM cdf CROSS JOIN t
    GROUP BY t.n1, t.n2
    """,
)
def stat_ks_two_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Kolmogorov-Smirnov D statistic between one source's
    document-length distribution and the rest of the corpus — the
    distribution-shape drift test that catches what [[stat_welch_ttest]]
    (means only) cannot.

    Scale recipe: the empirical CDFs advance only at DISTINCT observed
    values, so the running-sum window runs over the value-histogram
    grid (bounded by the n_chars domain, like
    [[interval_coverage_profile]]'s sweep), never over document rows;
    D compares exact integer cross-products (f1·n2 vs f2·n1) so the
    max is decided in exact arithmetic and floats appear only in the
    final division."""
    d = _t(spark, sf_dir, "documents")
    g = d.groupBy("n_chars").agg(
        F.count_if(F.col("source") == "src0").cast("bigint").alias("c1"),
        F.count_if(F.col("source") != "src0").cast("bigint").alias("c2"),
    )
    t = g.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    w = Window.orderBy("n_chars").rowsBetween(Window.unboundedPreceding, 0)
    cdf = g.select(
        F.sum("c1").over(w).cast("bigint").alias("f1"),
        F.sum("c2").over(w).cast("bigint").alias("f2"),
    )
    j = cdf.crossJoin(F.broadcast(t))
    # cross-products on the DECIMAL lane — the double form lost
    # exactness past 2^53 (misordering the max by an ulp at population
    # scale) and round(max/n1n2) was the boundary-divergent ratio form.
    # mean_quantized's n > 0 guard keeps the empty-sample NULL the
    # try_divide used to provide (hostile-fixture find).
    diff = F.abs(
        F.col("f1").cast("decimal(38,0)") * F.col("n2")
        - F.col("f2").cast("decimal(38,0)") * F.col("n1")
    )
    return j.groupBy("n1", "n2").agg(
        mean_quantized(
            F.max(diff), F.col("n1").cast("decimal(38,0)") * F.col("n2")
        ).alias("ks_d")
    )


@query(
    "stat_benford_law",
    oracle=f"""
    WITH d AS (SELECT CAST(substr(CAST(CAST(floor(o_totalprice) AS BIGINT) AS VARCHAR), 1, 1)
                           AS BIGINT) AS digit
               FROM orders WHERE o_totalprice >= 1),
    c AS (SELECT digit, CAST(count(*) AS BIGINT) AS n FROM d GROUP BY digit),
    t AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM c)
    SELECT c.digit, c.n,
           {mean_quantized_sql("c.n", "t.n_tot")} AS observed_p,
           round(ln(1.0 + 1.0 / c.digit) / ln(10.0), 6) AS benford_p,
           round(abs(c.n / CAST(t.n_tot AS DOUBLE)
                     - ln(1.0 + 1.0 / c.digit) / ln(10.0)), 6) AS abs_dev
    FROM c CROSS JOIN t
    """,
)
def stat_benford_law(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law audit of order totals: observed leading-digit
    frequencies against log10(1 + 1/d) — the forensic-accounting
    screen for fabricated or systematically rounded monetary data
    (synthetic uniform-ish prices will deviate, which is itself the
    point of publishing the deviation column).

    Leading digit extracted through exact integer/string ops (no
    float log10 of the value, which misassigns at power-of-ten
    boundaries); one 9-row aggregate; the expected-p expression is a
    per-row constant."""
    o = _t(spark, sf_dir, "orders")
    digit = F.substring(
        F.floor("o_totalprice").cast("bigint").cast("string"), 1, 1
    ).cast("bigint")
    c = (
        o.where(F.col("o_totalprice") >= 1)
        .select(digit.alias("digit"))
        .groupBy("digit")
        .agg(F.count("*").cast("bigint").alias("n"))
    )
    t = c.agg(F.sum("n").cast("bigint").alias("n_tot"))
    benford = F.log(1.0 + 1.0 / F.col("digit")) / F.log(F.lit(10.0))
    obs = F.col("n") / F.col("n_tot").cast("double")
    return c.crossJoin(F.broadcast(t)).select(
        "digit", "n",
        mean_quantized("n", "n_tot").alias("observed_p"),
        F.round(benford, 6).alias("benford_p"),
        F.round(F.abs(obs - benford), 6).alias("abs_dev"),
    )


@query(
    "timeseries_autocorrelation",
    oracle=f"""
    WITH {daily_cents_sql("event_type", where="ts IS NOT NULL", name="v")},
    l AS (SELECT lag.lag, a.event_type, a.v AS x, b.v AS y
          FROM (SELECT unnest(generate_series(1, 7)) AS lag) lag
          JOIN g a ON TRUE
          JOIN g b ON a.event_type = b.event_type AND b.day = a.day + lag.lag),
    m AS (SELECT event_type, lag,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx, CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy
          FROM l GROUP BY event_type, lag)
    SELECT event_type, lag, n,
           round((n * CAST(sxy AS DOUBLE) - CAST(sx AS DOUBLE) * sy)
                 / sqrt((n * CAST(sxx AS DOUBLE) - CAST(sx AS DOUBLE) * sx)
                        * (n * CAST(syy AS DOUBLE) - CAST(sy AS DOUBLE) * sy)),
                 6) AS acf
    FROM m
    """,
)
def timeseries_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Autocorrelation function of daily revenue at lags 1-7 per event
    type — the seasonality diagnostic read before picking
    [[timeseries_ewma_smoothing]]'s memory or a forecast model's
    period (a weekly cycle shows as an acf(7) spike).

    The lag pairing is an equi-join on (type, day + k) — no window, no
    sort, co-partitioned on the same key as the daily rollup — and
    every moment (n, Σx, Σy, Σxy, Σx², Σy²) accumulates as an exact
    BIGINT over integer cents, so the Pearson ratio is bit-stable
    under any fold order.  7 lags × |types| output rows."""
    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    g = daily_cents(ev, "event_type", name="v")
    lags = spark.range(1, 8).select(F.col("id").alias("lag"))
    a = g.alias("a")
    b = g.alias("b")
    l = (
        a.crossJoin(F.broadcast(lags))
        .join(
            b,
            (F.col("a.event_type") == F.col("b.event_type"))
            & (F.col("b.day") == F.col("a.day") + F.col("lag")),
        )
        .select(
            F.col("a.event_type").alias("event_type"), "lag",
            F.col("a.v").alias("x"), F.col("b.v").alias("y"),
        )
    )
    m = l.groupBy("event_type", "lag").agg(
        F.count("*").cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    num = F.col("n") * F.col("sxy").cast("double") - F.col("sx").cast(
        "double"
    ) * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx").cast("double") - F.col("sx").cast("double") * F.col("sx"))
        * (F.col("n") * F.col("syy").cast("double") - F.col("sy").cast("double") * F.col("sy"))
    )
    return m.select(
        "event_type", "lag", "n",
        # try_divide: a constant series has zero variance — acf is
        # undefined (NULL, matching DuckDB /0), not an ANSI crash
        F.round(F.try_divide(num, den), 6).alias("acf"),
    )


@query(
    "skyline_pareto_frontier",
    oracle="""
    WITH p AS (SELECT p_partkey, p_retailprice, p_size FROM part),
    r AS (SELECT p_partkey, p_retailprice, p_size,
                 max(p_size) OVER (ORDER BY p_retailprice, p_partkey
                                   ROWS BETWEEN UNBOUNDED PRECEDING
                                   AND 1 PRECEDING) AS best_size_cheaper
          FROM p)
    SELECT p_partkey, round(p_retailprice, 2) AS price, p_size
    FROM r
    WHERE best_size_cheaper IS NULL OR p_size > best_size_cheaper
    """,
)
def skyline_pareto_frontier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D skyline (Pareto frontier): parts not dominated on
    (minimize price, maximize size) — the multi-criteria shortlist
    query (the operator family behind 'cheapest for its size class'),
    distinct from [[abc_pareto_classification]]'s share bands.

    The classic quadratic dominance self-join collapses to ONE sorted
    window: walk parts by ascending price and keep a row only when its
    size beats the running max of everything cheaper.  Single global
    sort over the dim-sized part table (strict-prior frame, price ties
    resolved by the partkey total order so equal-priced parts compare
    against earlier keys only — pinned in the oracle identically).
    At fact scale you'd pre-aggregate to the candidate dim first; the
    window never sees fact rows."""
    from .operators.windows import global_cummax

    p = _t(spark, sf_dir, "part")
    # distributed strictly-prior running max (round-5): part dim
    # 10⁹-safe via global_cummax(exclusive=True), identical values
    r = global_cummax(
        p.select("p_partkey", "p_retailprice", "p_size"),
        ["p_retailprice", "p_partkey"],
        "p_size",
        "best_size_cheaper",
        exclusive=True,
    )
    return r.where(
        F.col("best_size_cheaper").isNull()
        | (F.col("p_size") > F.col("best_size_cheaper"))
    ).select(
        "p_partkey",
        F.round("p_retailprice", 2).alias("price"),
        "p_size",
    )


@query(
    "cohort_ltv_curve",
    oracle=f"""
    WITH o AS (SELECT o_custkey,
                      CAST(date_trunc('month', CAST(o_orderdate AS TIMESTAMP)) AS DATE)
                          AS m,
                      {to_fixed_sql("o_totalprice", 100)} AS cents
               FROM orders),
    cohort AS (SELECT o_custkey, min(m) AS cohort_month FROM o GROUP BY o_custkey),
    j AS (SELECT c.cohort_month,
                 CAST(datediff('month', c.cohort_month, o.m) AS BIGINT) AS age,
                 o.cents
          FROM o JOIN cohort c ON o.o_custkey = c.o_custkey),
    sz AS (SELECT cohort_month, CAST(count(*) AS BIGINT) AS n_customers
           FROM cohort GROUP BY cohort_month),
    g AS (SELECT cohort_month, age, CAST(sum(cents) AS BIGINT) AS rev
          FROM j GROUP BY cohort_month, age),
    cum AS (SELECT cohort_month, age,
                   CAST(sum(rev) OVER (PARTITION BY cohort_month ORDER BY age
                                       ROWS UNBOUNDED PRECEDING) AS BIGINT)
                       AS cum_cents
            FROM g)
    SELECT CAST(cum.cohort_month AS VARCHAR) AS cohort_month, cum.age,
           sz.n_customers,
           round(cum.cum_cents / 100.0, 2) AS cum_revenue,
           {mean_quantized_sql("cum.cum_cents", "100 * sz.n_customers")}
               AS ltv_per_customer
    FROM cum JOIN sz ON cum.cohort_month = sz.cohort_month
    """,
)
def cohort_ltv_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort lifetime-value curves: cumulative revenue per acquisition
    -month cohort by cohort age — the growth-accounting table that
    prices acquisition spend ([[cohort_retention]] counts who stays;
    this sums what they pay).

    Revenue accumulates as exact BIGINT cents; the running sum windows
    over the bounded (cohort × age) month grid, never order rows; the
    cohort-size dim joins broadcast.  One (custkey) shuffle derives
    cohorts, one (cohort, age) rollup, one bounded window."""
    o_raw = _t(spark, sf_dir, "orders")
    o = o_raw.select(
        "o_custkey",
        F.date_trunc("month", F.col("o_orderdate")).cast("date").alias("m"),
        to_fixed("o_totalprice", 100).alias("cents"),
    )
    cohort = o.groupBy("o_custkey").agg(F.min("m").alias("cohort_month"))
    j = o.join(cohort, "o_custkey").select(
        "cohort_month",
        F.months_between(F.col("m"), F.col("cohort_month"))
        .cast("bigint")
        .alias("age"),
        "cents",
    )
    sz = cohort.groupBy("cohort_month").agg(
        F.count("*").cast("bigint").alias("n_customers")
    )
    g = j.groupBy("cohort_month", "age").agg(
        F.sum("cents").cast("bigint").alias("rev")
    )
    w = (
        Window.partitionBy("cohort_month")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    cum = g.select(
        "cohort_month", "age",
        F.sum("rev").over(w).cast("bigint").alias("cum_cents"),
    )
    return cum.join(F.broadcast(sz), "cohort_month").select(
        F.col("cohort_month").cast("string").alias("cohort_month"),
        "age",
        "n_customers",
        F.round(F.col("cum_cents") / 100.0, 2).alias("cum_revenue"),
        mean_quantized(
            "cum_cents", F.col("n_customers") * F.lit(100)
        ).alias("ltv_per_customer"),
    )
