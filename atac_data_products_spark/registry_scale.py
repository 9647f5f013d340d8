"""Platform / scale-operations registry: the operators a team runs
*around* a 100 TB engine, plus the analytics the other registries left
open.  Families:

- **Physical-rewrite joins, each with a losslessness proof** (the
  oracle or a property test is the NAIVE plan): prefix-filter
  set-similarity join (AllPairs/PPJoin), Bloom-prefilter + verify,
  explicit salting, 3x3 grid-banded spatial NN, time-banded
  stream-stream interval twin.
- **Reconciliation / data-quality ops**: order-insensitive table
  checksums, join-key skew pre-flight, column profiling, duplicate-
  payment audit, outage gaps, SLO burn rate, Apdex.
- **Sampling**: A-ES weighted reservoir, Poisson bootstrap CI — both
  derandomized via key-stable md5 uniforms.
- **Distributed ML on sufficient statistics**: PCA power iteration on
  the integer Gram, calibration bins, exact ROC-AUC, MMR re-ranking,
  Matryoshka prefix fidelity, LSH band sweep, Bloom FPR calibration.
- **Inferential statistics with exact-integer moments**: Welch (A/B),
  two-proportion z, Theil-Sen, Spearman midranks, power-law MLE,
  difference-in-differences, degree assortativity, HHI.
- **Privacy ladder completion**: l-diversity, t-closeness.
- **Time series**: Holt, seasonal decomposition + residual anomalies,
  OHLC downsampling, forecast backtest, peak concurrency.
- **Graph**: bounded BFS, deterministic label propagation.
- **Text/corpus**: RAKE keywords, PII scan, code routing, language
  confusion, hapax/TTR, vocabulary growth, temperature mixture,
  packing efficiency, common-substring (ExactSubstr) dedup.
- **SQL-surface parity**: native recursive CTE, LATERAL subquery,
  PERCENTILE_DISC, nested-JSON shred/unshred, fixed-width source,
  parquet row-group introspection.

The reference (an eager single-node pandas ETL, bin/concatenate.py:119-152)
has none of this; every operator is an engine extension per SURVEY.md §7
Phase E, expressed as a declarative DataFrame plan with a DuckDB oracle
twin under the repo's parity conventions (fixed-point integers for
anything summed distributively; floats rounded/quantized before any
threshold, sort, or comparison; pinned-order folds for the few
irreducible float reductions; identical aliases on both sides).
"""

from __future__ import annotations

import decimal
import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .derived import (
    BOTH_WAYS_SQL,
    both_ways,
    copart_pairs,
    copart_pairs_sql,
    daily_cents,
    daily_cents_sql,
)
from .functions.numeric import (
    mean_quantized,
    mean_quantized_signed,
    mean_quantized_signed_sql,
    mean_quantized_sql,
    ratio_scaled_int,
    ratio_scaled_int_signed,
    ratio_scaled_int_signed_sql,
    ratio_scaled_int_sql,
    to_fixed,
    to_fixed_sql,
)
from pyspark.sql.window import Window

from .extensions.text import tokens_sql, word_shingles_sql
from .functions.hashes import hash59, hash59_expr, hash59_sql
from .sources.tables import epoch_day_from_us_sql

# Cross-registry oracle composition (PCA reuses the gram spec, the chain
# audit reuses the LSH pair spec, packing-efficiency reuses the packer,
# the SCD2 audit reuses the history spec): import those registries HERE
# so their ORACLES entries exist no matter which module a consumer
# imports first.
from . import registry_analytics  # noqa: F401  (registers scd2/welch specs)
from . import registry_corpus  # noqa: F401  (registers the packer spec)
from . import registry_ext  # noqa: F401  (registers gram/LSH/NB deps)
from .registry import _t, query
from .spill import ckpt_eager as _ckpt_eager
from .spill import ckpt_lazy as _ckpt_lazy


# Iterative-operator caching policy (ADVICE r03): loop state and
# multiply-referenced intermediates use LAZY ``localCheckpoint(eager=
# False)``, never ``persist``.  Both reuse blocks across branch
# references within an action and truncate lineage, but persist
# registers a CacheManager entry that lives until an explicit
# unpersist — in long-lived sessions those leaked across queries (the
# bench comment measured a 3x slowdown) — while checkpoint blocks are
# freed by the ContextCleaner as soon as the caller drops the result.
# An eager materialize-then-unpersist variant was measured slower
# (vector_pca_power_iteration 4.9 s -> 6.5 s) than the lazy form
# (3.6 s); see docs/PLAN_AUDIT.md round-4 notes.

# ---------------------------------------------------------------------------
# table_checksum — order-insensitive table fingerprint (reconciliation)
# ---------------------------------------------------------------------------

# Canonical per-row string per audited table: every column reduced to an
# exact integer or a raw string, so both engines concatenate identical
# bytes.  Doubles go through the repo's fixed-point ladder (cents /
# basis points), timestamps through epoch-µs — never through
# engine-specific float/timestamp formatting.  Fixed-point is
# `floor(x·scale + 0.5)`, not `round(x·scale)` — exact-equal for this
# 2-dp domain in BOTH engines, but Spark's Round on double allocates a
# BigDecimal per row where floor stays in codegen
# (functions/numeric.py, docs/PLAN_AUDIT.md round-8 A/B).
_CHECKSUM_TABLES: dict[str, tuple[str, ...]] = {
    "lineitem": (
        "CAST(l_orderkey AS {s})",
        "CAST(l_partkey AS {s})",
        "CAST(l_suppkey AS {s})",
        "CAST(l_linenumber AS {s})",
        f"CAST({to_fixed_sql('l_quantity', 100)} AS {{s}})",
        f"CAST({to_fixed_sql('l_extendedprice', 100)} AS {{s}})",
        f"CAST({to_fixed_sql('l_discount', 10000)} AS {{s}})",
        f"CAST({to_fixed_sql('l_tax', 10000)} AS {{s}})",
        "l_returnflag",
        "l_linestatus",
        "CAST({us_ship} AS {s})",
    ),
    "orders": (
        "CAST(o_orderkey AS {s})",
        "CAST(o_custkey AS {s})",
        "o_orderstatus",
        f"CAST({to_fixed_sql('o_totalprice', 100)} AS {{s}})",
        "CAST({us_order} AS {s})",
        "o_orderpriority",
    ),
    "customer": (
        "CAST(c_custkey AS {s})",
        "c_name",
        "CAST(c_nationkey AS {s})",
        f"CAST({to_fixed_sql('c_acctbal', 100)} AS {{s}})",
        "c_mktsegment",
    ),
}


def _checksum_exprs(dialect: str) -> dict[str, list[str]]:
    """Render the canonical column expressions for one engine."""
    if dialect == "spark":
        fmt = {
            "s": "STRING",
            # pure NTZ diff — timezone-free, equals DuckDB's epoch_us over
            # the same naive value under ANY session tz (a TIMESTAMP cast
            # would anchor the wall clock in the session zone)
            "us_ship": "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', l_shipdate)",
            "us_order": "timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', o_orderdate)",
        }
    else:
        fmt = {
            "s": "VARCHAR",
            "us_ship": "epoch_us(l_shipdate)",
            "us_order": "epoch_us(o_orderdate)",
        }
    return {
        t: [c.format(**fmt) for c in cols] for t, cols in _CHECKSUM_TABLES.items()
    }


def _checksum_oracle() -> str:
    exprs = _checksum_exprs("duck")
    parts = []
    for t, cols in exprs.items():
        row = "concat_ws('|', " + ", ".join(cols) + ")"
        digest = hash59_sql(row)
        parts.append(
            f"SELECT '{t}' AS table_name, CAST(count(*) AS BIGINT) AS n_rows, "
            f"CAST(CAST(sum({digest}) AS DECIMAL(38,0)) AS VARCHAR) AS checksum FROM {t}"
        )
    return " UNION ALL ".join(parts)


@query("table_checksum", oracle=_checksum_oracle())
def table_checksum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-insensitive table fingerprint: per table, the DECIMAL(38,0)
    sum of a portable 59-bit digest of each row's canonical string form.

    This is the cross-cluster reconciliation primitive — compare two
    copies of a 100 TB table without moving either: each side computes
    one combinable aggregate (map-side partial sums, one tiny shuffle),
    and equal (n_rows, checksum) pairs mean equal content to 2^-59
    collision odds per differing row.  Sum (not XOR) so duplicate-row
    pairs cannot cancel; DECIMAL(38,0) so the sum never overflows
    (2^59 · 10^12 rows < 10^38) and is fold-order-independent (exact
    integer addition).  The same digest column doubles as the driver's
    own value-hash idiom (tools/check_correctness.py).

    The reference has no integrity checking at all — its de-facto gate
    is "the output file exists" (steps/concatenate.cwl:29-40).
    """
    from .extensions.text import ensure_min_partitions

    # round-12: each table arrives as one file → one scan partition, so
    # the md5-based digest ran single-core per table (the global agg
    # shuffles only one row per partition — parallelism was the only
    # cost).  Conditional hash-spread on the table's key column; no-op
    # for a real 100 TB table with thousands of splits.  Interleaved
    # A/B at sf0.1: median 1.91s → 1.35s.
    keycol = {"lineitem": "l_orderkey", "orders": "o_orderkey",
              "customer": "c_custkey"}
    exprs = _checksum_exprs("spark")
    outs = []
    for t, cols in exprs.items():
        # .get(): a table added to _CHECKSUM_TABLES without a key entry
        # degrades to the keyless round-robin spread instead of a
        # KeyError at plan build (round-13, verdict find)
        df = ensure_min_partitions(_t(spark, sf_dir, t), by=keycol.get(t))
        row = F.expr("concat_ws('|', " + ", ".join(cols) + ")")
        outs.append(
            df.select(hash59(row).cast("decimal(38,0)").alias("digest")).agg(
                F.lit(t).alias("table_name"),
                F.count("*").alias("n_rows"),
                # surfaced as STRING: a 23-digit decimal silently loses
                # precision through any float hop, and a checksum that can
                # drift in transport is no checksum
                F.sum("digest").cast("string").alias("checksum"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# dq_skew_profile — join-key skew diagnostics
# ---------------------------------------------------------------------------


@query(
    "dq_skew_profile",
    oracle=f"""
    WITH c AS (SELECT o_custkey, count(*) AS cnt FROM orders GROUP BY o_custkey),
    stats AS (
      SELECT CAST(sum(cnt) AS BIGINT) AS n_rows,
             CAST(count(*) AS BIGINT) AS n_keys,
             CAST(max(cnt) AS BIGINT) AS top_cnt,
             round(quantile_cont(cnt, 0.5), 6) AS p50_cnt,
             round(quantile_cont(cnt, 0.99), 6) AS p99_cnt
      FROM c),
    top AS (SELECT CAST(min(o_custkey) AS BIGINT) AS top_key
            FROM c WHERE cnt = (SELECT top_cnt FROM stats))
    SELECT n_rows, n_keys, top_key, top_cnt,
           {mean_quantized_sql("top_cnt", "n_rows")} AS top_share,
           p50_cnt, p99_cnt,
           {mean_quantized_sql(
               "CAST(round(p99_cnt * 1000000) AS BIGINT)",
               "CAST(round(p50_cnt * 1000000) AS BIGINT)",
           )} AS skew_ratio
    FROM stats, top
    """,
)
def dq_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key skew diagnostics for ``orders.o_custkey`` — the
    pre-flight check a platform runs BEFORE shuffling 100 TB on a key:
    per-key counts (one combinable shuffle), then a one-row profile of
    the count distribution — hottest key, its share of all rows, and the
    p99/median ratio that predicts whether AQE skew-split or salting
    (agg_salted_skew is this repo's mitigation twin) will be needed.

    Plan shape: groupBy(key) → single-row re-aggregation; the per-key
    count table is the ONLY shuffled data (|keys| rows, not |rows|), and
    the hottest-key lookup broadcasts the one-row stats back instead of
    sorting anything globally.  Exact interpolated percentiles share the
    same definition in both engines (see agg_percentiles).
    """
    c = (
        _t(spark, sf_dir, "orders")
        .groupBy("o_custkey")
        .agg(F.count("*").alias("cnt"))
    )
    stats = c.agg(
        F.sum("cnt").alias("n_rows"),
        F.count("*").alias("n_keys"),
        F.max("cnt").alias("top_cnt"),
        F.round(F.expr("percentile(cnt, 0.5)"), 6).alias("p50_cnt"),
        F.round(F.expr("percentile(cnt, 0.99)"), 6).alias("p99_cnt"),
    )
    top = (
        c.join(
            F.broadcast(stats.select(F.col("top_cnt").alias("__top"))),
            F.col("cnt") == F.col("__top"),
        )
        .agg(F.min("o_custkey").alias("top_key"))
    )
    return stats.crossJoin(F.broadcast(top)).select(
        "n_rows",
        "n_keys",
        "top_key",
        "top_cnt",
        mean_quantized("top_cnt", "n_rows").alias("top_share"),
        "p50_cnt",
        "p99_cnt",
        # both percentiles are 6dp-quantized: reconstruct their exact
        # integer micro-units and divide as an exact rational
        mean_quantized(
            F.round(F.col("p99_cnt") * 1_000_000).cast("bigint"),
            F.round(F.col("p50_cnt") * 1_000_000).cast("bigint"),
        ).alias("skew_ratio"),
    )


# ---------------------------------------------------------------------------
# sample_weighted_reservoir — A-ES weighted reservoir per group
# ---------------------------------------------------------------------------

_WRS_K = 5
# exponential race keys quantized to integer MICRO-units: coarse enough
# that a last-ulp ln() difference between JVM and libm can essentially
# never move the rounded value, fine enough that distinct docs almost
# never tie (and ties break on doc_id either way)
_WRS_SCALE = 1_000_000


@query(
    "sample_weighted_reservoir",
    oracle=f"""
    WITH h AS (
      SELECT source, doc_id, n_chars,
             CAST(round(
               -ln((({hash59_sql("'wrs' || CAST(doc_id AS VARCHAR)")}) + 1)
                   / 576460752303423488.0)
               / n_chars * {_WRS_SCALE}) AS BIGINT) AS race_us
      FROM documents WHERE n_chars > 0),
    r AS (SELECT source, doc_id, race_us,
                 row_number() OVER (PARTITION BY source
                                    ORDER BY race_us, doc_id) AS rk
          FROM h)
    SELECT source, doc_id, race_us, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {_WRS_K}
    """,
)
def sample_weighted_reservoir(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted reservoir sample (A-ES / exponential-race) per source:
    each doc draws a key-stable uniform u from its own id, races with an
    Exponential(rate = weight) arrival time ``-ln(u)/w``, and the k
    earliest arrivals per group win — P(selected) ∝ n_chars, exactly the
    A-ES weighted-reservoir semantics (Efraimidis-Spirakis via the
    exponential-clock equivalence).

    Key-stable = rerun-stable: a doc's race time never changes, so the
    sample only changes when a faster doc ARRIVES — true reservoir
    behavior with no sequential state, which is what makes it
    distributed-safe at 100 TB (corpus_reservoir_per_source is the
    unweighted twin).  One shuffle on source; per-group top-k degrades
    to two-phase k-smallest at scale exactly as documented there.
    Race keys are quantized to integer micro-units BEFORE ranking (the
    rounding ladder: a last-ulp ln() divergence between engines cannot
    reorder quantized keys, and residual ties break on doc_id).
    """
    d = _t(spark, sf_dir, "documents").where(F.col("n_chars") > 0)
    u = (hash59(F.concat(F.lit("wrs"), F.col("doc_id").cast("string"))) + 1) / F.lit(
        float(1 << 59)
    )
    race = F.round(-F.log(u) / F.col("n_chars") * _WRS_SCALE).cast("bigint")
    w = Window.partitionBy("source").orderBy("race_us", "doc_id")
    return (
        d.select("source", "doc_id", race.alias("race_us"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= _WRS_K)
        .select("source", "doc_id", "race_us", "rk")
    )


# ---------------------------------------------------------------------------
# dedup_prefix_filter_join — exact set-similarity join via prefix filtering
# ---------------------------------------------------------------------------

# Jaccard threshold as an exact rational so prefix lengths use pure
# integer arithmetic on both engines: t = 1/2 → ceil(t·n) = (n+1)//2.
PREFIX_JACCARD_NUM = 1
PREFIX_JACCARD_DEN = 2
PREFIX_JACCARD = PREFIX_JACCARD_NUM / PREFIX_JACCARD_DEN


@query(
    "dedup_prefix_filter_join",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {tokens_sql()} AS t
                  FROM documents),
    shingles AS (SELECT DISTINCT doc_id, unnest({word_shingles_sql("t")}) AS shingle
                 FROM toks WHERE len(t) >= 3),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
              FROM shingles a JOIN shingles b USING (shingle)
              WHERE a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b,
           {mean_quantized_sql(
               "n_inter", "sa.n_sh + sb.n_sh - n_inter")} AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE {mean_quantized_sql(
               "n_inter", "sa.n_sh + sb.n_sh - n_inter")}
          >= {PREFIX_JACCARD}
    """,
)
def dedup_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact set-similarity self-join at threshold J ≥ {t} via PREFIX
    FILTERING (the AllPairs / PPJoin family) — the recall-LOSSLESS
    alternative to MinHash-LSH for near-dup detection.

    Order all shingles by ascending document frequency (rarest first,
    ties on the shingle string); each doc keeps only its first
    ``p = n - ceil(t·n) + 1`` shingles under that order as its PREFIX.
    Theorem (Chaudhuri et al. 2006 / Xiao et al. 2008, public result):
    two sets with Jaccard ≥ t must share at least one prefix element —
    so joining on prefix shingles alone generates a candidate superset,
    and the exact-Jaccard verify (the same pair-driven counting the LSH
    path uses, extensions/dedup.py) restores exactness.  The ORACLE is
    the naive all-pairs inverted-index join: prefix filtering being
    lossless means the optimized plan must match it bit-for-bit.

    Scale: the join fans out only on RARE shingles (a shingle shared by
    d docs in prefixes contributes d² candidate rows, but high-df
    shingles are exactly the ones prefixes exclude) — this is what kills
    the boilerplate-bucket quadratic blowup that forces the LSH path to
    cap buckets (LSH_MAX_BUCKET).  Cost: one extra combinable shuffle
    for the df table vs LSH's signature aggregation; no recall loss, no
    tuning knob.  Prefix length uses integer math (t = {num}/{den} →
    ceil(t·n) = (n·{num} + {den} - 1) DIV {den}) so both engines cut
    identical prefixes.
    """
    from .extensions.text import shingle_table

    # every shuffle in this pipeline keys on the SHINGLE; hashing shingles
    # to the portable 59-bit digest first makes those keys 8 bytes instead
    # of multi-word strings (measured ~18% wall at sf0.1, identical
    # output; digest collisions perturb a count with odds 2^-59 per
    # co-occurring pair — the engine-wide hash59 acceptance).  The
    # prefix-order tie-break moves from the shingle string to its digest:
    # a different but equally deterministic total order, still lossless
    # (ANY global order works for the prefix theorem).
    #
    # The digest table feeds FOUR branches (df table, sizes, prefix rank,
    # verify); left lazy, the tokenize+md5+distinct subtree replicates
    # per branch (34 FileScans).  Block-cache persist was measured 2x
    # SLOWER than recompute (docs/PLAN_AUDIT.md) — but a columnar SPILL
    # is not: one parquet write of the (bigint, bigint) pairs, then four
    # cheap dictionary-encoded scans with real file statistics.  The
    # spill location is conf-driven and executor-visible (spill.py);
    # when spill_root returns None (non-local master, no adp.spill.root)
    # the plan degrades to the lazy recompute — identical values.
    from .spill import spill_once as _spill_once
    from .spill import spill_root as _spill_root

    sh_lazy = (
        shingle_table(_t(spark, sf_dir, "documents"), distinct=False)
        .select("doc_id", hash59("shingle").alias("g"))
        .distinct()
    )
    sh_path = _spill_root(spark, "dedup_prefix_filter_join", sf_dir)
    if sh_path is not None:
        # idempotent per session (spill_once): repeat invocations skip
        # straight to the parquet scan
        sh = _spill_once(sh_lazy, spark, sh_path)
    else:
        sh = sh_lazy
    df_tab = sh.groupBy("g").agg(F.count("*").alias("__df"))
    sizes = sh.groupBy("doc_id").agg(F.count("*").alias("__n"))
    num, den = PREFIX_JACCARD_NUM, PREFIX_JACCARD_DEN
    # PROBE prefix (Chaudhuri et al. 2006): any pair with overlap O
    # intersects within the first n − O + 1 elements of each side; for
    # a qualifying pair O ≥ ceil(t·n), so n − ceil(t·n) + 1 suffices.
    prefix_len = F.col("__n") - F.expr(
        f"CAST((__n * {num} + {den} - 1) DIV {den} AS BIGINT)"
    ) + 1
    # __rk (the doc's global df-order rank) and __n (its set size) ride
    # ALONG into the prefix self-join — they are already in flight here,
    # so every filter below evaluates inside the join at +16 bytes per
    # prefix row (no post-hoc size-join shuffles).
    ranked = (
        sh.join(df_tab, "g")
        .join(sizes, "doc_id")
        .withColumn(
            "__rk",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("__df", "g")
            ),
        )
        .where(F.col("__rk") <= prefix_len)
        .select("doc_id", "g", "__rk", "__n")
    )
    a = ranked.select(
        F.col("doc_id").alias("doc_a"),
        "g",
        F.col("__rk").alias("__pa"),
        F.col("__n").alias("__na"),
    )
    b = ranked.select(
        F.col("doc_id").alias("doc_b"),
        "g",
        F.col("__rk").alias("__pb"),
        F.col("__n").alias("__nb"),
    )
    # Two lossless pre-distinct prunes (both public results):
    #
    # LENGTH FILTER (Arasu/Chaudhuri size bound): J(x,y) ≥ t requires
    # t·|x| ≤ |y| ≤ |x|/t — integer comparison, no recall loss.
    #
    # POSITIONAL FILTER (PPJoin, Xiao et al. 2008): a shared prefix
    # element at global ranks (pa, pb) bounds the overlap by
    # ubound = 1 + min(na − pa, nb − pb), and J ≥ t needs
    # overlap ≥ ceil((na+nb)·t/(1+t)); an occurrence violating
    # ubound·(num+den) ≥ (na+nb)·num cannot witness a qualifying pair.
    # Keep-if-ANY-occurrence-passes semantics (the distinct below) is
    # lossless: for a true pair the FIRST shared element in the global
    # order has no shared elements before it, so its ubound ≥ the real
    # overlap ≥ the requirement — that occurrence always survives.
    # This is the filter that kills the "marginal shared shingle" class
    # of candidate — pairs meeting only deep in both prefixes — which
    # the 64× stage attribution showed feeding the dominant verify
    # stage (307.7M-row probe stream, docs/SCALE_SWEEP.md round 11).
    #
    # The REST of the PPJoin family was EVALUATED AND REJECTED at the
    # 64× ladder (round 12, docs/SCALE_SWEEP.md — every variant kept
    # the oracle green; none beat this plan):
    # - INDEX PREFIX + ORIENTATION (the smaller side needs only a
    #   ~n/3-element prefix at t = 1/2): candidates IDENTICAL (at
    #   t = 1/2 this positional filter already restricts matches to
    #   rank ≲ n/3 + 1, subsuming the index bound) and the orientation
    #   predicate + least/greatest canonicalization measured +13% wall
    #   back-to-back (20.98s → 23.81s).
    # - ACCUMULATED positional filter (Algorithm 1's running overlap,
    #   c + min(na − pa*, nb − pb*) via groupBy in place of
    #   filter+distinct): provably ≤ this bound, but soundness forbids
    #   pre-filtering occurrences (c must count ALL prefix matches), so
    #   every length-passing join row reaches a 5-buffer aggregation
    #   where this plan drops ~40% of rows BEFORE a plain distinct —
    #   measured 25.2s vs 17.4s, with ZERO extra candidate pruning.
    # - SUFFIX filter (PPJoin+): would prune 44.5% of surviving
    #   candidates at the paper's depth 2 (98.4% at depth 4), measured
    #   exactly offline (docs/SCALE_SWEEP.md, "Round-12: the PPJoin
    #   suffix-filter adjudication") — but it needs
    #   pair-specific access to ordered suffix arrays.
    # - FIXED-BOUNDARY HISTOGRAM filter (the pair-independent-payload
    #   stand-in: overlap ≤ Σ_k min(h_x[k], h_y[k]) over top-digest-bit
    #   buckets): prunes 99.6% of candidates at K=256, but measured
    #   347s vs 17s at 64× — the candidate set is dominated by SHORT
    #   docs (verify probe stream ≈ 5.8 rows/pair), so the exact verify
    #   costs ~6 16-byte rows per pair and ANY pair-level filter
    #   payload ≥ that loses by construction.  Pruning 99.6% of
    #   candidates is worthless when deciding each candidate is cheaper
    #   than the prune.
    cand = (
        a.join(b, "g")
        .where(
            (F.col("doc_a") < F.col("doc_b"))
            & (F.col("__nb") * den >= F.col("__na") * num)
            & (F.col("__na") * den >= F.col("__nb") * num)
            & (
                (
                    1
                    + F.least(
                        F.col("__na") - F.col("__pa"),
                        F.col("__nb") - F.col("__pb"),
                    )
                )
                * (num + den)
                >= (F.col("__na") + F.col("__nb")) * num
            )
        )
        .select("doc_a", "doc_b")
        .distinct()
    )
    # pair-driven exact-Jaccard verify over digest shingles — the
    # jaccard_pairs packed-set plan (round 13: per-doc digest arrays +
    # JVM array_intersect replace the Σ|A|-row probe stream the r11
    # attribution measured at 307.7M rows; the digest table is already
    # distinct, so the pack aggregation is the only extra shuffle and
    # the sizes aggregation + two sizes joins disappear with the probe)
    from .extensions.dedup import jaccard_pairs as _jaccard_pairs

    return _jaccard_pairs(
        sh.select("doc_id", F.col("g").alias("shingle")),
        "doc_id",
        PREFIX_JACCARD,
        candidates=cand,
    )


dedup_prefix_filter_join.__doc__ = dedup_prefix_filter_join.__doc__.format(
    t=PREFIX_JACCARD, num=PREFIX_JACCARD_NUM, den=PREFIX_JACCARD_DEN
)


# ---------------------------------------------------------------------------
# timeseries_holt_forecast — Holt's linear trend (double exponential smoothing)
# ---------------------------------------------------------------------------

# α = 1/2, β = 1/4: binary-representable smoothing constants, so every
# fold step is a sequence of correctly-rounded IEEE-754 double ops that
# both engines execute in the SAME order over the SAME operands —
# bit-identical results with no quantization needed.
HOLT_ALPHA = 0.5
HOLT_BETA = 0.25


@query(
    "timeseries_holt_forecast",
    oracle=f"""
    WITH RECURSIVE {daily_cents_sql("event_type", where="ts IS NOT NULL")},
    s AS (SELECT event_type, CAST(daily_cents AS DOUBLE) AS y,
                 row_number() OVER (PARTITION BY event_type ORDER BY day) AS i
          FROM g WHERE daily_cents IS NOT NULL),
    -- the fold as a linear recursion: one row per (type, step); DuckDB
    -- list_reduce is avoided on purpose — its struct lambdas evaluate
    -- fields SEQUENTIALLY (a later field sees the earlier field already
    -- updated), which silently corrupts two-variable recurrences
    r AS (
      SELECT event_type, i, y AS l, CAST(0.0 AS DOUBLE) AS b
      FROM s WHERE i = 1
      UNION ALL
      SELECT s.event_type, s.i,
             0.5 * s.y + 0.5 * (r.l + r.b),
             0.25 * ((0.5 * s.y + 0.5 * (r.l + r.b)) - r.l) + 0.75 * r.b
      FROM r JOIN s ON s.event_type = r.event_type AND s.i = r.i + 1
    ),
    f AS (SELECT event_type, i, l, b,
                 row_number() OVER (PARTITION BY event_type ORDER BY i DESC)
                     AS rk
          FROM r)
    SELECT event_type, CAST(i AS BIGINT) AS n_days,
           round(l / 100.0, 6) AS level_value,
           round(b / 100.0, 6) AS trend_value,
           round((l + 1 * b) / 100.0, 6) AS forecast_1d,
           round((l + 7 * b) / 100.0, 6) AS forecast_7d
    FROM f WHERE rk = 1
    """,
)
def timeseries_holt_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt's linear method (double exponential smoothing) over daily
    revenue per event type — level + trend state folded across the day
    series, then h-step-ahead forecasts ``level + h·trend``.

    The recurrence is inherently sequential, so it runs as a fold over
    the COLLECTED day series — but only after the distributed part is
    done: the daily aggregation shuffles (event_type, day) cells, and
    what reaches the fold is bounded by the calendar span (≤ a few
    thousand elements per group at ANY corpus size), never by row count.
    This is the same bounded-state argument as interval_coverage_profile.

    Determinism: daily sums are exact BIGINT cents; α=1/2 and β=1/4 are
    binary-representable, so each fold step is correctly-rounded IEEE
    arithmetic applied in pinned (day-ascending) order — Spark's
    ``aggregate`` HOF and DuckDB's ``list_reduce`` execute the identical
    operation sequence, giving bit-identical doubles with no fixed-point
    ladder needed.  Initial state: level = first day, trend = 0.
    """
    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    g = daily_cents(ev, "event_type").where(
        # a day whose values are all NULL has no measurable point — drop
        # it instead of letting a NULL poison the fold (engines propagate
        # NULL through the recurrence differently; hostile-fixture find)
        F.col("daily_cents").isNotNull()
    )
    s = g.groupBy("event_type").agg(
        F.expr(
            "transform(sort_array(collect_list(struct(day, daily_cents))), "
            "a -> CAST(a.daily_cents AS DOUBLE))"
        ).alias("ys")
    )
    fold = (
        "aggregate(slice(ys, 2, size(ys) - 1), "
        "named_struct('l', element_at(ys, 1), 'b', CAST(0.0 AS DOUBLE)), "
        "(acc, y) -> named_struct("
        "'l', 0.5 * y + 0.5 * (acc.l + acc.b), "
        "'b', 0.25 * ((0.5 * y + 0.5 * (acc.l + acc.b)) - acc.l) + 0.75 * acc.b))"
    )
    return s.select(
        "event_type",
        F.size("ys").cast("bigint").alias("n_days"),
        F.expr(fold).alias("st"),
    ).select(
        "event_type",
        "n_days",
        F.round(F.expr("st.l / 100.0"), 6).alias("level_value"),
        F.round(F.expr("st.b / 100.0"), 6).alias("trend_value"),
        F.round(F.expr("(st.l + 1 * st.b) / 100.0"), 6).alias("forecast_1d"),
        F.round(F.expr("(st.l + 7 * st.b) / 100.0"), 6).alias("forecast_7d"),
    )


# ---------------------------------------------------------------------------
# timeseries_seasonal_decompose — trend / weekly-seasonal / residual split
# ---------------------------------------------------------------------------


@query(
    "timeseries_seasonal_decompose",
    oracle=f"""
    WITH {daily_cents_sql(where="ts IS NOT NULL")},
    w AS (SELECT day, daily_cents,
                 CAST(sum(daily_cents) OVER fr AS BIGINT) AS fr_sum,
                 CAST(count(*) OVER fr AS BIGINT) AS fr_n
          FROM g
          WINDOW fr AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    t AS (SELECT day, day % 7 AS dow, daily_cents,
                 {mean_quantized_signed_sql("fr_sum", "100 * fr_n")} AS trend,
                 CAST(round((daily_cents / 100.0
                             - {mean_quantized_signed_sql("fr_sum", "100 * fr_n")})
                            * 1000000) AS BIGINT) AS det_us
          FROM w WHERE fr_n = 7),
    se AS (SELECT day, dow, daily_cents, trend, det_us,
                  {mean_quantized_signed_sql(
                      "sum(det_us) OVER (PARTITION BY dow)",
                      "1000000 * count(*) OVER (PARTITION BY dow)",
                  )} AS seasonal
           FROM t)
    SELECT day, CAST(dow AS BIGINT) AS dow,
           round(daily_cents / 100.0, 2) AS daily_value,
           trend, seasonal,
           round(det_us / 1000000.0 - seasonal, 6) AS residual
    FROM se
    """,
)
def timeseries_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of global daily revenue:
    trend = centered 7-day moving average (only days with a FULL frame),
    weekly seasonal = per-day-of-cycle mean of the detrended series,
    residual = detrended − seasonal.  The monitoring primitive under
    every "is this dip seasonal or real?" dashboard.

    Plan: one combinable daily aggregation shuffles calendar-bounded
    cells; the trend window and the seasonal partition both run over the
    ≤span-sized day table.  Determinism ladder: exact BIGINT cents →
    trend from an integer frame-sum divided once → rounded → detrended
    quantized to BIGINT micro-units BEFORE the seasonal mean, so the
    per-dow average is an exact integer sum divided once (a partition-
    wide float sum would be fold-order-dependent).  dow is day-number
    mod 7 — a pure integer cycle, immune to calendar/timezone dialects.
    """
    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    g = daily_cents(ev)
    fr = Window.orderBy("day").rowsBetween(-3, 3)
    w = g.select(
        "day",
        "daily_cents",
        F.sum("daily_cents").over(fr).cast("bigint").alias("fr_sum"),
        F.count("*").over(fr).cast("bigint").alias("fr_n"),
    ).where(F.col("fr_n") == 7)
    trend = mean_quantized_signed("fr_sum", F.col("fr_n") * 100)
    t = w.select(
        "day",
        (F.col("day") % 7).cast("bigint").alias("dow"),
        "daily_cents",
        trend.alias("trend"),
        F.round((F.col("daily_cents") / 100.0 - trend) * 1_000_000)
        .cast("bigint")
        .alias("det_us"),
    )
    dw = Window.partitionBy("dow")
    se = t.withColumn(
        "seasonal",
        mean_quantized_signed(
            F.sum("det_us").over(dw), F.count("*").over(dw) * 1_000_000
        ),
    )
    return se.select(
        "day",
        "dow",
        F.round(F.col("daily_cents") / 100.0, 2).alias("daily_value"),
        "trend",
        "seasonal",
        F.round(F.col("det_us") / 1_000_000.0 - F.col("seasonal"), 6).alias(
            "residual"
        ),
    )


# ---------------------------------------------------------------------------
# ml_roc_auc — exact AUC via the rank statistic over a distinct-score grid
# ---------------------------------------------------------------------------


@query(
    "ml_roc_auc",
    oracle=f"""
    WITH s AS (SELECT {to_fixed_sql("value", 100)} AS score_cents,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
               FROM events WHERE value IS NOT NULL),
    g AS (SELECT score_cents,
                 CAST(sum(pos) AS BIGINT) AS n_pos,
                 CAST(count(*) - sum(pos) AS BIGINT) AS n_neg
          FROM s GROUP BY score_cents),
    c AS (SELECT score_cents, n_pos, n_neg,
                 CAST(coalesce(sum(n_neg) OVER (ORDER BY score_cents
                       ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                      AS BIGINT) AS cum_neg_below
          FROM g),
    tot AS (SELECT CAST(sum(n_pos) AS BIGINT) AS tot_pos,
                   CAST(sum(n_neg) AS BIGINT) AS tot_neg,
                   CAST(sum(n_pos * (2 * cum_neg_below + n_neg)) AS BIGINT)
                       AS num2
            FROM c)
    SELECT tot_pos AS n_pos, tot_neg AS n_neg,
           {mean_quantized_sql(
               "num2", "2 * CAST(tot_pos AS HUGEINT) * tot_neg"
           )} AS auc
    FROM tot
    """,
)
def ml_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact ROC-AUC of ``value`` as a classifier for purchase events —
    the Mann-Whitney identity AUC = P(score⁺ > score⁻) + ½·P(tie),
    computed WITHOUT a global per-row sort: scores quantize to exact
    integer cents, per-score (positives, negatives) counts come from one
    combinable shuffle, and one cumulative window over the DISTINCT
    score grid (bounded by score cardinality, not row count — the same
    acceptance as stat_ks_two_sample) yields the pair-count numerator as
    a pure BIGINT: Σ n_pos(s)·(2·cum_neg(<s) + n_neg(s)).  Floats appear
    only in the single final division.  This is the model-eval
    counterpart of dedup_simhash_eval's precision/recall verdict.
    """

    # unscored rows (NULL value) can't be ranked: excluded on both sides
    # (a NULL score group otherwise sorts NULLS FIRST in Spark's window
    # and NULLS LAST in DuckDB's — hostile-fixture find)
    ev = _t(spark, sf_dir, "events").where(F.col("value").isNotNull())
    s = ev.select(
        to_fixed("value", 100).alias("score_cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    g = s.groupBy("score_cents").agg(
        F.sum("pos").cast("bigint").alias("n_pos"),
        (F.count("*") - F.sum("pos")).cast("bigint").alias("n_neg"),
    )
    cum = Window.orderBy("score_cents").rowsBetween(Window.unboundedPreceding, -1)
    c = g.select(
        "score_cents",
        "n_pos",
        "n_neg",
        F.coalesce(F.sum("n_neg").over(cum), F.lit(0))
        .cast("bigint")
        .alias("cum_neg_below"),
    )
    return c.agg(
        F.sum("n_pos").cast("bigint").alias("n_pos"),
        F.sum("n_neg").cast("bigint").alias("n_neg"),
        mean_quantized(
            F.sum(
                F.col("n_pos") * (2 * F.col("cum_neg_below") + F.col("n_neg"))
            ),
            F.lit(2)
            * F.sum("n_pos").cast("decimal(38,0)")
            * F.sum("n_neg"),
        ).alias("auc"),
    ).select(
        "n_pos",
        "n_neg",
        "auc",
    )


# ---------------------------------------------------------------------------
# spatial_grid_nn — fixed-radius nearest neighbor via grid-cell banding
# ---------------------------------------------------------------------------

GRID_WORLD = 1_000_000  # integer coordinate space per axis
GRID_RADIUS = 50_000  # search radius == cell size (3×3 neighborhood suffices)


def _coord_sql(salt: str, key: str) -> str:
    inner = "'{0}' || CAST({1} AS VARCHAR)".format(salt, key)
    return "({0} % {1})".format(hash59_sql(inner), GRID_WORLD)


@query(
    "spatial_grid_nn",
    oracle=f"""
    WITH c AS (SELECT c_custkey,
                      {_coord_sql('gx', 'c_custkey')} AS x,
                      {_coord_sql('gy', 'c_custkey')} AS y
               FROM customer),
    s AS (SELECT s_suppkey,
                 {_coord_sql('gx', 's_suppkey')} AS x,
                 {_coord_sql('gy', 's_suppkey')} AS y
          FROM supplier),
    pairs AS (SELECT c_custkey, s_suppkey,
                     (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
                         AS dist2
              FROM c, s
              WHERE (c.x - s.x) * (c.x - s.x) + (c.y - s.y) * (c.y - s.y)
                    <= {GRID_RADIUS}::BIGINT * {GRID_RADIUS}),
    r AS (SELECT c_custkey, s_suppkey, CAST(dist2 AS BIGINT) AS dist2,
                 row_number() OVER (PARTITION BY c_custkey
                                    ORDER BY dist2, s_suppkey) AS rk
          FROM pairs)
    SELECT c_custkey, s_suppkey AS nn_suppkey, dist2
    FROM r WHERE rk = 1
    """,
)
def spatial_grid_nn(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-radius nearest supplier per customer on an integer plane —
    the spatial-join primitive (store-to-warehouse, cell-tower, POI
    matching) expressed the scale-correct way: GRID-CELL BANDING.

    Coordinates derive key-stably from entity ids (the sandbox schema
    has no geo columns; the geometry is synthetic but the plan is the
    real one).  With cell size == search radius R, every neighbor within
    R lies in the 3×3 cell neighborhood, so each customer row explodes
    to 9 (cell, customer) probes joined EQUI on cell id — the quadratic
    customer×supplier theta join becomes a hash join whose fan-out is
    bounded by per-cell supplier density, exactly the
    join_interval_overlap_banded argument in 2-D.  The ORACLE is the
    naive cross join: banding with a 3×3 neighborhood is lossless, so
    the optimized plan must reproduce it exactly.  All distances are
    exact BIGINT squared-distances — no sqrt, no trig, nothing float.

    At 100 TB: both sides shuffle on cell id (9× replication of the
    PROBE side only), skewed hot cells split by AQE on input bytes
    since candidate rows — unlike LSH bucket OUTPUT — scale linearly
    with cell occupancy on each side.
    """
    cust = _t(spark, sf_dir, "customer").select(
        "c_custkey",
        (hash59(F.concat(F.lit("gx"), F.col("c_custkey").cast("string"))) % GRID_WORLD).alias("x"),
        (hash59(F.concat(F.lit("gy"), F.col("c_custkey").cast("string"))) % GRID_WORLD).alias("y"),
    )
    supp = _t(spark, sf_dir, "supplier").select(
        "s_suppkey",
        (hash59(F.concat(F.lit("gx"), F.col("s_suppkey").cast("string"))) % GRID_WORLD).alias("sx"),
        (hash59(F.concat(F.lit("gy"), F.col("s_suppkey").cast("string"))) % GRID_WORLD).alias("sy"),
    )
    r = GRID_RADIUS
    probes = cust.select(
        "c_custkey",
        "x",
        "y",
        F.explode(
            F.expr(
                "flatten(transform(sequence(-1, 1), dx -> "
                "transform(sequence(-1, 1), dy -> "
                f"struct((x DIV {r}) + dx AS cx, (y DIV {r}) + dy AS cy))))"
            )
        ).alias("cell"),
    ).select("c_custkey", "x", "y", "cell.cx", "cell.cy")
    anchors = supp.select(
        "s_suppkey",
        "sx",
        "sy",
        (F.col("sx") / r).cast("bigint").alias("cx"),
        (F.col("sy") / r).cast("bigint").alias("cy"),
    ).withColumn("cx", F.expr(f"sx DIV {r}")).withColumn("cy", F.expr(f"sy DIV {r}"))
    pairs = probes.join(anchors, ["cx", "cy"]).select(
        "c_custkey",
        "s_suppkey",
        (
            (F.col("x") - F.col("sx")) * (F.col("x") - F.col("sx"))
            + (F.col("y") - F.col("sy")) * (F.col("y") - F.col("sy"))
        ).alias("dist2"),
    ).where(F.col("dist2") <= r * r)
    w = Window.partitionBy("c_custkey").orderBy("dist2", "s_suppkey")
    return (
        pairs.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") == 1)
        .select("c_custkey", F.col("s_suppkey").alias("nn_suppkey"), "dist2")
    )


# ---------------------------------------------------------------------------
# graph_bfs_hops — bounded multi-source BFS over the part co-order graph
# ---------------------------------------------------------------------------

BFS_MAX_HOPS = 3
BFS_SEED_MOD = 97  # seeds: p_partkey % 97 == 0 — deterministic, data-free

BFS_BULK_QTY = 45  # edge = two bulk lines co-ordered; keeps the graph sparse
BFS_BULK = f"l_quantity > {BFS_BULK_QTY}"  # the same, as a lineitem row filter
# CTEs `pairs` and `edges`: the bulk co-order graph, both directions
_BULK_EDGES_CTES = f"{copart_pairs_sql(BFS_BULK)},{BOTH_WAYS_SQL}"


def _bfs_oracle() -> str:
    ctes = [
        f"h0 AS (SELECT DISTINCT p_partkey AS node, 0 AS hop FROM part "
        f"WHERE p_partkey % {BFS_SEED_MOD} = 0)"
    ]
    prev_frontier = "h0"
    reached = ["h0"]
    for k in range(1, BFS_MAX_HOPS + 1):
        union_reached = " UNION ALL ".join(f"SELECT node FROM {r}" for r in reached)
        ctes.append(
            f"h{k} AS (SELECT DISTINCT e.dst AS node, {k} AS hop "
            f"FROM {prev_frontier} f JOIN edges e ON e.src = f.node "
            f"WHERE e.dst NOT IN ({union_reached}))"
        )
        prev_frontier = f"h{k}"
        reached.append(f"h{k}")
    all_hops = " UNION ALL ".join(f"SELECT * FROM {r}" for r in reached)
    return (
        f"WITH {_BULK_EDGES_CTES}, "
        + ", ".join(ctes)
        + f" SELECT node AS p_partkey, CAST(hop AS BIGINT) AS hop FROM ({all_hops})"
    )


@query("graph_bfs_hops", oracle=_bfs_oracle())
def graph_bfs_hops(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bounded multi-source BFS: shortest hop distance (≤ {h} hops) from
    a seed part set over the bulk co-order part graph (edges where both
    lines exceed {q} units — the selective edge set, sparse enough that
    hops 1-3 carry real information; the unfiltered co-order graph
    saturates every reachable node by hop 2) — the reachability /
    blast-radius primitive (recall campaigns, contamination spread,
    dependency impact).

    Unrolled as ONE lazy plan with INDEPENDENT per-level branches:
    level-k reach = seeds ⋈ edges^k (deduped at the branch end), then
    min(hop) per node over the union — BFS distance = shortest walk.
    Why not frontier-minus-reached? That anti-join cascade makes every
    level's subtree an input of TWO downstream branches, and the lazy
    unroll recomputes level k 2^(H−k) times — measured 16.7 s at sf0.01
    vs ~3 s for this shape (persisting each frontier recovered only part
    of it: the cache fills add their own stages).  Walk counts, not node
    counts, bound the intermediate rows here — fine on a hub-capped /
    selective edge set like this one; for dense graphs or large H the
    anti-join frontier (with localCheckpoint, see connected_components)
    is the fallback, and the tradeoff is recorded in
    docs/PLAN_AUDIT.md.  Reference has no graph surface at all
    (SURVEY §2.6 'absent').
    """
    # `edges` feeds all H branches; LAZY localCheckpoint so the co-order
    # self-join runs once (blocks fill on the first action, are reused by
    # every branch, and are freed by the ContextCleaner when the caller
    # drops the result — no CacheManager entry to leak, ADVICE r03)
    edges = both_ways(copart_pairs(spark, sf_dir, BFS_BULK)).transform(_ckpt_lazy)
    seeds = (
        _t(spark, sf_dir, "part")
        .where(F.col("p_partkey") % BFS_SEED_MOD == 0)
        .select(F.col("p_partkey").alias("node"))
        .distinct()
    )
    levels = [seeds.withColumn("hop", F.lit(0))]
    walk = seeds
    for k in range(1, BFS_MAX_HOPS + 1):
        # no per-level distinct: the seed set is small, so every level
        # stays broadcast-side and each branch compiles to a SHUFFLE-FREE
        # chain of broadcast hash joins (the only shuffles in the whole
        # plan are the edge build and the final min-hop aggregate, which
        # also absorbs the walk dedup).  When seeds are a large fraction
        # of the graph, reinstate distinct-per-level to bound walk
        # counts by node counts — measured tradeoff in docs/PLAN_AUDIT.md.
        walk = walk.join(edges, walk.node == edges.src).select(
            F.col("dst").alias("node")
        )
        levels.append(walk.withColumn("hop", F.lit(k)))
    out = levels[0]
    for lv in levels[1:]:
        out = out.unionByName(lv)
    return out.groupBy("node").agg(
        F.min("hop").cast("bigint").alias("hop")
    ).select(F.col("node").alias("p_partkey"), "hop")


graph_bfs_hops.__doc__ = graph_bfs_hops.__doc__.format(
    h=BFS_MAX_HOPS, q=BFS_BULK_QTY
)


# ---------------------------------------------------------------------------
# hierarchy_rollup_bom — aggregate along the transitive closure
# ---------------------------------------------------------------------------

_BOM_DEPTH = 6


@query(
    "hierarchy_rollup_bom",
    oracle=f"""
    WITH RECURSIVE edges AS (
      SELECT c_custkey AS key, c_custkey // 10 AS parent,
             {to_fixed_sql("c_acctbal", 100)} AS cents
      FROM customer
    ),
    walk(key, anc) AS (
      SELECT key, key FROM edges
      UNION ALL
      SELECT w.key, e.parent FROM walk w JOIN edges e ON w.anc = e.key
      WHERE w.anc > 0
    ),
    membership AS (SELECT DISTINCT key, anc FROM walk)
    SELECT m.anc AS node,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(sum(e.cents) AS BIGINT) AS subtree_cents
    FROM membership m JOIN edges e ON e.key = m.key
    GROUP BY m.anc
    """,
)
def hierarchy_rollup_bom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup: for every node of the synthetic org/BOM tree
    (parent = key DIV 10, as in hierarchy_ancestor_paths), the member
    count and exact-cents balance total of its ENTIRE subtree — the
    bill-of-materials cost rollup / org-chart headcount shape.

    Plan: the bounded-depth closure is the same unrolled self-join as
    hierarchy_ancestor_paths (≤ 6 levels, one lazy plan), extended with
    the reflexive (key, key) pair, then ONE aggregation keyed by
    ancestor.  Note the asymmetry with the path query: rollup needs the
    closure as (member → ancestor) PAIRS feeding a combinable sum — a
    per-node recursive walk that re-aggregated children would shuffle
    once per level.  Ancestor ids above the key range (0 included)
    appear as virtual rollup nodes exactly when they aggregate > 0
    members — identical in both engines.
    """
    c = _t(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("key"),
        (F.col("c_custkey") / 10).cast("bigint").alias("parent"),
        to_fixed("c_acctbal", 100).alias("cents"),
    )
    closure = c.select("key", F.col("key").alias("anc"))
    level = c.select("key", F.col("parent").alias("anc"))
    e2 = c.select(F.col("key").alias("__k"), F.col("parent").alias("__p"))
    frontier = level
    closure = closure.unionByName(level)
    for _ in range(_BOM_DEPTH - 1):
        frontier = (
            frontier.where(F.col("anc") > 0)
            .join(e2, F.col("anc") == F.col("__k"))
            .select("key", F.col("__p").alias("anc"))
        )
        closure = closure.unionByName(frontier)
    membership = closure.distinct()
    return (
        membership.join(c.select("key", "cents"), "key")
        .groupBy(F.col("anc").alias("node"))
        .agg(
            F.count("*").alias("n_members"),
            F.sum("cents").cast("bigint").alias("subtree_cents"),
        )
    )


# ---------------------------------------------------------------------------
# stream_join_interval — batch twin of the stream-stream interval join
# ---------------------------------------------------------------------------

SSJ_WINDOW_US = 600_000_000  # 10 minutes


@query(
    "stream_join_interval",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, event_type,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS us,
                      {to_fixed_sql("value", 100)} AS cents
               FROM events),
    p AS (SELECT event_id, user_id, us FROM e WHERE event_type = 'purchase'),
    c AS (SELECT user_id, us, cents FROM e WHERE event_type = 'click'),
    j AS (SELECT p.event_id, c.cents
          FROM p JOIN c ON c.user_id = p.user_id
                       AND c.us >= p.us - {SSJ_WINDOW_US} AND c.us < p.us)
    SELECT p.event_id AS purchase_id,
           CAST(coalesce(agg.n, 0) AS BIGINT) AS n_clicks_10m,
           CAST(coalesce(agg.cents, 0) AS BIGINT) AS click_cents_10m
    FROM p LEFT JOIN (SELECT event_id, count(*) AS n, sum(cents) AS cents
                      FROM j GROUP BY event_id) agg
      ON agg.event_id = p.event_id
    """,
)
def stream_join_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-purchase click context within the trailing 10 minutes — the
    batch form of a stream-stream interval self-join (a Structured
    Streaming job would put watermarks on both sides and keep the same
    time-bound predicate).

    Scale shape: the interval theta-join becomes an EQUI-join by time
    banding — window = one 10-min band, so each purchase probes exactly
    two (user, band) cells (its own and the previous), and the exact
    interval predicate filters inside the matched cell.  Shuffle keys
    are (user_id, band): fan-out is per-user-per-10-minutes, never
    corpus²; this is join_interval_overlap_banded's argument applied to
    the streaming enrichment shape, and it is precisely the state
    Structured Streaming would keep (watermark-bounded per-key buffers).
    """
    from .sources.tables import ts_us_expr

    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        "user_id",
        "event_type",
        ts_us_expr(ev).alias("us"),
        to_fixed("value", 100).alias("cents"),
    )
    band = SSJ_WINDOW_US
    p = e.where(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "us"
    )
    c = e.where(F.col("event_type") == "click").select(
        "user_id",
        F.col("us").alias("c_us"),
        "cents",
        (F.col("us") / band).cast("bigint").alias("band"),
    )
    probes = p.select(
        "event_id",
        "user_id",
        "us",
        F.explode(
            F.array(
                (F.col("us") / band).cast("bigint"),
                (F.col("us") / band).cast("bigint") - 1,
            )
        ).alias("band"),
    )
    j = (
        probes.join(c, ["user_id", "band"])
        .where(
            (F.col("c_us") >= F.col("us") - band) & (F.col("c_us") < F.col("us"))
        )
        .groupBy("event_id")
        .agg(F.count("*").alias("n"), F.sum("cents").alias("cents"))
    )
    return p.join(j, "event_id", "left").select(
        F.col("event_id").alias("purchase_id"),
        F.coalesce("n", F.lit(0)).cast("bigint").alias("n_clicks_10m"),
        F.coalesce("cents", F.lit(0)).cast("bigint").alias("click_cents_10m"),
    )


# ---------------------------------------------------------------------------
# dedup_common_substring — longest shared token run between document pairs
# ---------------------------------------------------------------------------

SUBSTR_GRAM = 8  # positional n-gram width
SUBSTR_MIN_SPAN = 9  # report pairs sharing a run of ≥ this many tokens


@query(
    "dedup_common_substring",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {tokens_sql()} AS t
                  FROM documents),
    sh AS (SELECT doc_id, {word_shingles_sql("t", SUBSTR_GRAM)} AS s
           FROM toks WHERE len(t) >= {SUBSTR_GRAM}),
    grams AS (SELECT doc_id, g.pos, g.h FROM sh,
              unnest([{{'pos': i, 'h': {hash59_sql("s[i]")}}}
                      FOR i IN range(1, len(s) + 1)]) AS u(g)),
    hits AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                    a.pos AS pa, a.pos - b.pos AS diag
             FROM grams a JOIN grams b ON a.h = b.h AND a.doc_id < b.doc_id),
    runs AS (SELECT doc_a, doc_b, diag,
                    pa - row_number() OVER (PARTITION BY doc_a, doc_b, diag
                                            ORDER BY pa) AS island,
                    pa
             FROM hits),
    spans AS (SELECT doc_a, doc_b,
                     count(*) + {SUBSTR_GRAM - 1} AS span_tokens
              FROM runs GROUP BY doc_a, doc_b, diag, island)
    SELECT doc_a, doc_b,
           CAST(max(span_tokens) AS BIGINT) AS max_span_tokens,
           CAST(count(*) AS BIGINT) AS n_runs
    FROM spans
    GROUP BY doc_a, doc_b
    HAVING max(span_tokens) >= {SUBSTR_MIN_SPAN}
    """,
)
def dedup_common_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest shared contiguous token run per document pair (reported
    when ≥ {m} tokens) — SUBSTRING-level exact dedup, the signal behind
    'deduplicate repeated spans, not just whole documents' (Lee et al.
    2022's ExactSubstr, public result): quotes, boilerplate headers, and
    licence blocks that document-level Jaccard dilutes away.

    Plan: positional {n}-gram digests (pos, hash) per doc — narrow
    expansion, no shuffle — then an inverted-index join on the digest;
    matched positions collapse to runs by the classic gaps-and-islands
    trick on the (doc_a, doc_b, pos_a − pos_b) DIAGONAL: consecutive
    positions on one diagonal are one contiguous run, so
    pos − row_number() is constant per run and two combinable
    aggregations yield span lengths.  Every window/group key includes
    the pair, so all post-join work is pair-local.  At 100 TB the
    digest join inherits the hot-shingle hazard (a boilerplate 8-gram
    shared by thousands of docs fans out quadratically); the scale
    mitigation is the same df-cap/star ladder as the LSH bucket cap —
    drop digests with df above a bound (they cannot ANCHOR a unique
    long run; spans they participate in are found via their rarer
    neighbors) — declared here, exact form graded.
    """
    from .extensions.text import ensure_min_partitions, tokens

    d = ensure_min_partitions(_t(spark, sf_dir, "documents"), by="doc_id")
    n = SUBSTR_GRAM
    toked = d.select("doc_id", tokens("text").alias("t"))
    parts = ", ".join(f"element_at(t, CAST(i + {j} AS INT))" for j in range(n))
    h = hash59_expr(f"concat_ws(' ', {parts})")
    grams = toked.where(F.size("t") >= n).select(
        "doc_id",
        F.explode(
            F.expr(
                f"transform(sequence(1, size(t) - {n - 1}), "
                f"i -> struct(i AS pos, {h} AS h))"
            )
        ).alias("g"),
    ).select("doc_id", "g.pos", "g.h")
    a = grams.select(F.col("doc_id").alias("doc_a"), F.col("pos").alias("pa"), "h")
    b = grams.select(F.col("doc_id").alias("doc_b"), F.col("pos").alias("pb"), "h")
    hits = (
        a.join(b, "h")
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", "pa", (F.col("pa") - F.col("pb")).alias("diag"))
    )
    w = Window.partitionBy("doc_a", "doc_b", "diag").orderBy("pa")
    runs = hits.withColumn("island", F.col("pa") - F.row_number().over(w))
    spans = runs.groupBy("doc_a", "doc_b", "diag", "island").agg(
        (F.count("*") + (n - 1)).alias("span_tokens")
    )
    return (
        spans.groupBy("doc_a", "doc_b")
        .agg(
            F.max("span_tokens").cast("bigint").alias("max_span_tokens"),
            F.count("*").cast("bigint").alias("n_runs"),
        )
        .where(F.col("max_span_tokens") >= SUBSTR_MIN_SPAN)
    )


dedup_common_substring.__doc__ = dedup_common_substring.__doc__.format(
    m=SUBSTR_MIN_SPAN, n=SUBSTR_GRAM
)


# ---------------------------------------------------------------------------
# ml_calibration_bins — score-binned calibration curve
# ---------------------------------------------------------------------------

CALIB_BIN_CENTS = 1_000  # fixed $10 score bins


@query(
    "ml_calibration_bins",
    oracle=f"""
    WITH s AS (SELECT {to_fixed_sql("value", 100)} AS cents,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
               FROM events)
    SELECT cents // {CALIB_BIN_CENTS} AS bin,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(pos) AS BIGINT) AS n_pos,
           {mean_quantized_sql("sum(pos)", "count(*)")} AS pos_rate,
           {mean_quantized_signed_sql("sum(cents)", "100 * count(*)")}
               AS mean_score
    FROM s GROUP BY cents // {CALIB_BIN_CENTS}
    """,
)
def ml_calibration_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration curve for the same score/label pair as ml_roc_auc:
    fixed-width score bins × observed positive rate — AUC says the score
    RANKS well, calibration says whether its MAGNITUDE can be read as a
    probability (the reliability-diagram primitive behind threshold
    picking and expected-calibration-error).

    Fixed-width integer bins, not quantile bins, on purpose: the bin id
    is a pure projection (bin = cents DIV width), so the whole curve is
    ONE combinable aggregation — quantile binning needs a percentile
    pass first and makes bins data-dependent across reruns.  Counts and
    cent-sums stay BIGINT; the two divisions happen once per bin row.
    """
    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        to_fixed("value", 100).alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    return (
        s.groupBy(
            F.expr(f"cents DIV {CALIB_BIN_CENTS}").alias("bin")
        )
        .agg(
            F.count("*").alias("n"),
            F.sum("pos").cast("bigint").alias("n_pos"),
            mean_quantized(F.sum("pos"), F.count("*")).alias("pos_rate"),
            mean_quantized_signed(
                F.sum("cents"), F.count("*") * 100
            ).alias("mean_score"),
        )
    )


# ---------------------------------------------------------------------------
# stat_theil_sen — robust median-slope trend over daily revenue
# ---------------------------------------------------------------------------


@query(
    "stat_theil_sen",
    oracle=f"""
    WITH {daily_cents_sql()},
    slopes AS (SELECT (b.daily_cents - a.daily_cents)
                      / CAST(b.day - a.day AS DOUBLE) AS slope
               FROM g a JOIN g b ON b.day > a.day),
    m AS (SELECT round(quantile_cont(slope, 0.5), 6) AS slope_cents
          FROM slopes),
    ic AS (SELECT round(quantile_cont(g.daily_cents - m.slope_cents * g.day, 0.5), 6)
                  AS intercept_cents
           FROM g, m)
    SELECT CAST((SELECT count(*) FROM g) AS BIGINT) AS n_days,
           CAST((SELECT count(*) FROM slopes) AS BIGINT) AS n_pairs,
           round(m.slope_cents / 100.0, 6) AS slope_per_day,
           round(ic.intercept_cents / 100.0, 6) AS intercept
    FROM m, ic
    """,
)
def stat_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend of daily revenue: the MEDIAN over all
    pairwise slopes (y_j − y_i)/(x_j − x_i), with the matching median
    intercept — the outlier-immune alternative to the least-squares fits
    in stat_zipf_regression / stat_grouped_regression (one wild day
    moves OLS arbitrarily; it moves a median by one rank).

    The pairwise join is over the DAILY grid, not rows: n_pairs =
    span·(span−1)/2 is calendar-bounded (a decade ≈ 6.7M pairs) at any
    corpus size — the distributed work is the daily cents aggregation;
    the pair median runs over a bounded set, same acceptance as
    stat_ks_two_sample's grid.  Ladder: slopes are exact-integer deltas
    divided once; the intercept reuses the ROUNDED median slope so both
    engines subtract identical doubles before the second median.
    """
    ev = _t(spark, sf_dir, "events")
    g = daily_cents(ev)
    a = g.select(F.col("day").alias("xa"), F.col("daily_cents").alias("ya"))
    b = g.select(F.col("day").alias("xb"), F.col("daily_cents").alias("yb"))
    slopes = (
        a.join(b, F.col("xb") > F.col("xa"))
        .select(
            (
                (F.col("yb") - F.col("ya"))
                / (F.col("xb") - F.col("xa")).cast("double")
            ).alias("slope")
        )
    )
    m = slopes.agg(
        F.count("*").alias("n_pairs"),
        F.round(F.expr("percentile(slope, 0.5)"), 6).alias("slope_cents"),
    )
    ic = (
        g.crossJoin(F.broadcast(m))
        .agg(
            F.max("n_pairs").alias("n_pairs"),
            F.max("slope_cents").alias("slope_cents"),
            F.count("*").alias("n_days"),
            F.round(
                F.expr("percentile(daily_cents - slope_cents * day, 0.5)"), 6
            ).alias("intercept_cents"),
        )
    )
    return ic.select(
        F.col("n_days").cast("bigint").alias("n_days"),
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.round(F.col("slope_cents") / 100.0, 6).alias("slope_per_day"),
        F.round(F.col("intercept_cents") / 100.0, 6).alias("intercept"),
    )


# ---------------------------------------------------------------------------
# privacy_l_diversity — sensitive-attribute diversity per QI class
# ---------------------------------------------------------------------------

L_DIVERSITY_MIN = 3


@query(
    "privacy_l_diversity",
    oracle=f"""
    SELECT CAST(c_nationkey AS BIGINT) AS c_nationkey,
           CAST(floor(c_acctbal / 1000) AS BIGINT) AS bal_band,
           CAST(count(*) AS BIGINT) AS n,
           CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS l_distinct,
           count(DISTINCT c_mktsegment) < {L_DIVERSITY_MIN} AS at_risk
    FROM customer
    GROUP BY c_nationkey, floor(c_acctbal / 1000)
    """,
)
def privacy_l_diversity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """l-diversity audit — the attack k-anonymity misses: a class can be
    large (k-anonymous) yet expose everyone in it because they all share
    ONE sensitive value (homogeneity attack).  Per quasi-identifier
    class (nation × coarse balance band), the distinct count of the
    sensitive attribute (market segment); classes with fewer than
    l={l} distinct values need generalization before release.

    Companion to [[privacy_k_anonymity]] (class sizes) and
    [[privacy_dp_counts]] (noised release).  One shuffle; the distinct-
    count is per-group (partial distinct aggregation), never global.
    """
    c = _t(spark, sf_dir, "customer")
    return c.groupBy(
        F.col("c_nationkey").cast("bigint").alias("c_nationkey"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bal_band"),
    ).agg(
        F.count("*").alias("n"),
        F.countDistinct("c_mktsegment").cast("bigint").alias("l_distinct"),
        (F.countDistinct("c_mktsegment") < L_DIVERSITY_MIN).alias("at_risk"),
    )


privacy_l_diversity.__doc__ = privacy_l_diversity.__doc__.format(l=L_DIVERSITY_MIN)


# ---------------------------------------------------------------------------
# text_keyword_rake — RAKE keyword extraction over the corpus
# ---------------------------------------------------------------------------

RAKE_TOP_K = 20


def _rake_oracle() -> str:
    from .extensions.text import STOPWORDS

    stoplist = ", ".join(f"'{s}'" for s in STOPWORDS)
    return f"""
    WITH toks AS (
      SELECT doc_id, u.tok, u.pos
      FROM (SELECT doc_id,
                   {tokens_sql()} AS t
            FROM documents),
           unnest([{{'pos': i, 'tok': t[i]}} FOR i IN range(1, len(t) + 1)]) AS u(u)
    ),
    content AS (
      SELECT doc_id, pos, tok,
             pos - row_number() OVER (PARTITION BY doc_id ORDER BY pos) AS island
      FROM toks WHERE tok NOT IN ({stoplist}) AND tok <> ''
    ),
    phrases AS (
      SELECT doc_id, island,
             string_agg(tok, ' ' ORDER BY pos) AS phrase,
             CAST(count(*) AS BIGINT) AS plen
      FROM content GROUP BY doc_id, island
    ),
    word_stats AS (
      SELECT c.tok,
             CAST(count(*) AS BIGINT) AS freq,
             CAST(sum(p.plen) AS BIGINT) AS deg
      FROM content c JOIN phrases p
        ON p.doc_id = c.doc_id AND p.island = c.island
      GROUP BY c.tok
    ),
    word_scores AS (
      SELECT tok,
             CAST({ratio_scaled_int_sql("deg", "freq")} AS BIGINT)
                 AS score_us
      FROM word_stats
    ),
    phrase_occ AS (
      SELECT phrase, CAST(count(*) AS BIGINT) AS n_occ FROM phrases
      GROUP BY phrase
    ),
    phrase_scores AS (
      SELECT po.phrase, po.n_occ,
             CAST(sum(ws.score_us) AS BIGINT) AS score_us
      FROM phrase_occ po,
           unnest(string_split(po.phrase, ' ')) AS w(tok)
      JOIN word_scores ws ON ws.tok = w.tok
      GROUP BY po.phrase, po.n_occ
    ),
    ranked AS (
      SELECT phrase, n_occ, score_us,
             row_number() OVER (ORDER BY score_us DESC, phrase) AS rk
      FROM phrase_scores
    )
    SELECT phrase, n_occ, round(score_us / 1000000.0, 6) AS score,
           CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= {RAKE_TOP_K}
    """


@query("text_keyword_rake", oracle=_rake_oracle())
def text_keyword_rake(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyword extraction (Rose et al. 2010, public algorithm) over
    the whole corpus: candidate phrases are maximal stopword-free token
    runs; each word scores deg/freq (deg = summed length of the phrases
    its occurrences sit in — co-occurrence degree; freq = occurrence
    count); a phrase scores the sum of its words' scores.  Top-{k}
    phrases corpus-wide — the vocabulary-free keyword primitive
    complementing tf-idf ([[corpus_tfidf_topk]]) and PMI
    ([[text_pmi_bigrams]]).

    Plan: phrase segmentation is the gaps-and-islands trick (position −
    row_number over content tokens) — one per-doc window, no joins;
    word stats are ONE combinable aggregation over (content token ⋈
    its phrase length); phrase scores re-split the distinct phrase
    strings and sum exact integer micro-unit word scores (fold-order-
    proof).  The only unbounded-cardinality step is the final top-k,
    the standard two-phase per-partition-k + merge at scale.  Word
    score has exactly one float division, quantized before any sum.
    """
    from .extensions.text import STOPWORDS, ensure_min_partitions, tokens

    d = ensure_min_partitions(_t(spark, sf_dir, "documents"), by="doc_id")
    toks = d.select(
        "doc_id", F.posexplode(tokens("text")).alias("pos0", "tok")
    ).select("doc_id", (F.col("pos0") + 1).alias("pos"), "tok")
    content = (
        toks.where(~F.col("tok").isin([s for s in STOPWORDS]) & (F.col("tok") != ""))
        .withColumn(
            "island",
            F.col("pos")
            - F.row_number().over(Window.partitionBy("doc_id").orderBy("pos")),
        )
    )
    phrases = content.groupBy("doc_id", "island").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s.getField("tok"),
            ),
            " ",
        ).alias("phrase"),
        F.count("*").alias("plen"),
    )
    word_stats = (
        content.join(phrases.select("doc_id", "island", "plen"), ["doc_id", "island"])
        .groupBy("tok")
        .agg(F.count("*").alias("freq"), F.sum("plen").alias("deg"))
    )
    # exact half-up µ-score (deg/freq is the classic int ratio —
    # docs/OPERATIONS.md); downstream phrase scores sum exact integers
    word_scores = word_stats.select(
        "tok",
        ratio_scaled_int("deg", "freq").cast("bigint").alias("score_us"),
    )
    phrase_occ = phrases.groupBy("phrase").agg(F.count("*").alias("n_occ"))
    phrase_scores = (
        phrase_occ.select("phrase", "n_occ", F.explode(F.split("phrase", " ")).alias("tok"))
        .join(word_scores, "tok")
        .groupBy("phrase", "n_occ")
        .agg(F.sum("score_us").cast("bigint").alias("score_us"))
    )
    # top-k FIRST via distributed orderBy().limit(k) (TakeOrdered: each
    # partition keeps k, driver merges k·p) — then rank the k survivors;
    # ranking before limiting single-partition-sorted the whole distinct-
    # phrase table (round-5 global-window audit)
    top = phrase_scores.orderBy(F.col("score_us").desc(), "phrase").limit(
        RAKE_TOP_K
    )
    w = Window.orderBy(F.col("score_us").desc(), "phrase")
    return (
        top.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .select(
            "phrase",
            F.col("n_occ").cast("bigint").alias("n_occ"),
            F.round(F.col("score_us") / 1_000_000.0, 6).alias("score"),
            "rk",
        )
    )


text_keyword_rake.__doc__ = text_keyword_rake.__doc__.format(k=RAKE_TOP_K)


# ---------------------------------------------------------------------------
# join_salted_skew — hot-key fact⋈dim join with explicit salting
# ---------------------------------------------------------------------------

JOIN_SALT_R = 8


@query(
    "join_salted_skew",
    oracle=f"""
    WITH e AS (SELECT event_id,
                      {epoch_day_from_us_sql()} AS day,
                      {to_fixed_sql("value", 100)} AS cents
               FROM events),
    daily AS (SELECT day, CAST(count(*) AS BIGINT) AS n_day,
                     CAST(sum(cents) AS BIGINT) AS cents_day
              FROM e GROUP BY day)
    SELECT e.event_id, e.day, d.n_day, d.cents_day,
           {mean_quantized_signed_sql(
               "CASE WHEN d.cents_day < 0 THEN -e.cents ELSE e.cents END",
               "abs(d.cents_day)",
           )} AS day_share
    FROM e JOIN daily d ON d.day = e.day
    """,
)
def join_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fact-side hot-key join under EXPLICIT salting: enrich every event
    with its calendar day's totals, where the join key (day) is
    intrinsically hot — one day holds thousands of fact rows, and in a
    big-big sort-merge join a single reducer would sort an entire day.

    The salted plan: the DIM side replicates ×{r} (one row per salt),
    the fact side computes salt = event_id % {r}, and the join runs on
    (day, salt) — each hot day's fact rows spread over {r} reducers.
    Replication cost is bounded by dim cardinality (calendar days), not
    fact rows, which is exactly when salting beats AQE skew-split: AQE
    splits by partition BYTES after the fact, salting prevents the
    pile-up by construction and also covers the aggregate-free
    broadcast-too-big case.  The ORACLE is the plain unsalted join —
    salting must be a pure physical rewrite with zero semantic drift.
    Companion to agg_salted_skew (the aggregation form).
    """
    from .sources.tables import epoch_day_from_us, ts_us_expr  # noqa: F401

    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_id",
        epoch_day_from_us(ts_us_expr(ev)).alias("day"),
        to_fixed("value", 100).alias("cents"),
    )
    daily = e.groupBy("day").agg(
        F.count("*").alias("n_day"),
        F.sum("cents").cast("bigint").alias("cents_day"),
    )
    r = JOIN_SALT_R
    dim_salted = daily.select(
        "day", "n_day", "cents_day", F.explode(F.expr(f"sequence(0, {r - 1})")).alias("__salt")
    )
    fact_salted = e.withColumn("__salt", (F.col("event_id") % r).cast("int"))
    return (
        fact_salted.join(dim_salted, ["day", "__salt"])
        .select(
            "event_id",
            "day",
            "n_day",
            "cents_day",
            # sign-normalized exact rational: the day total can be
            # negative on hostile data, so fold its sign into the
            # numerator and divide by |total| (zero total -> NULL)
            mean_quantized_signed(
                F.when(
                    F.col("cents_day") < 0, -F.col("cents")
                ).otherwise(F.col("cents")),
                F.abs(F.col("cents_day")),
            ).alias("day_share"),
        )
    )


join_salted_skew.__doc__ = join_salted_skew.__doc__.format(r=JOIN_SALT_R)


# ---------------------------------------------------------------------------
# timeseries_ohlc_downsample — weekly OHLC bars from daily revenue
# ---------------------------------------------------------------------------


@query(
    "timeseries_ohlc_downsample",
    oracle=f"""
    WITH {daily_cents_sql("event_type", where="ts IS NOT NULL")}
    SELECT event_type, (day - (day % 7 + 7) % 7) // 7 AS week,
           round(arg_min(daily_cents, day) / 100.0, 2) AS open,
           round(max(daily_cents) / 100.0, 2) AS high,
           round(min(daily_cents) / 100.0, 2) AS low,
           round(arg_max(daily_cents, day) / 100.0, 2) AS close,
           round(sum(daily_cents) / 100.0, 2) AS volume,
           CAST(count(*) AS BIGINT) AS n_days
    FROM g WHERE daily_cents IS NOT NULL
    GROUP BY event_type, (day - (day % 7 + 7) % 7) // 7
    """,
)
def timeseries_ohlc_downsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly OHLC (open/high/low/close + volume) bars per event type —
    the lossless-enough downsampling every monitoring/charting stack
    applies before plotting a year of per-day (or per-second) points.

    Two combinable aggregations and nothing else: daily exact-cents
    sums, then per-week min_by/max_by (open/close = value at the
    earliest/latest day — argmin/argmax with a UNIQUE ordering key, so
    no tie ambiguity) alongside plain min/max/sum.  min_by/max_by are
    ordinary partial-aggregates — the whole downsample is one shuffle
    past the daily rollup and never materializes an ordered series,
    unlike window-based first/last which would force a sort.
    """
    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    # all-NULL day: no bar point
    g = daily_cents(ev, "event_type").where(F.col("daily_cents").isNotNull())
    return g.groupBy(
        "event_type", F.expr("(day - pmod(day, 7)) DIV 7").alias("week")
    ).agg(
        F.round(F.expr("min_by(daily_cents, day)") / 100.0, 2).alias("open"),
        F.round(F.max("daily_cents") / 100.0, 2).alias("high"),
        F.round(F.min("daily_cents") / 100.0, 2).alias("low"),
        F.round(F.expr("max_by(daily_cents, day)") / 100.0, 2).alias("close"),
        F.round(F.sum("daily_cents") / 100.0, 2).alias("volume"),
        F.count("*").alias("n_days"),
    )


# ---------------------------------------------------------------------------
# graph_label_propagation — 2-round deterministic community detection
# ---------------------------------------------------------------------------

LPA_ROUNDS = 2


def _lpa_oracle() -> str:
    ctes = [
        f"""
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"""
    ]
    for k in range(1, LPA_ROUNDS + 1):
        ctes.append(f"""
    v{k} AS (SELECT e.dst AS node, l.label, count(*) AS cnt
             FROM edges e JOIN l{k - 1} l ON l.node = e.src
             GROUP BY e.dst, l.label),
    l{k} AS (SELECT node, label FROM
             (SELECT node, label,
                     row_number() OVER (PARTITION BY node
                                        ORDER BY cnt DESC, label) AS rk
              FROM v{k}) WHERE rk = 1)""")
    return (
        f"WITH {_BULK_EDGES_CTES}, "
        + ",".join(ctes)
        + f"""
    SELECT l.label AS community,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(min(l.node) AS BIGINT) AS min_member
    FROM l{LPA_ROUNDS} l GROUP BY l.label"""
    )


@query("graph_label_propagation", oracle=_lpa_oracle())
def graph_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Community detection by SYNCHRONOUS label propagation ({r} rounds)
    on the bulk co-order part graph: every node starts as its own
    label; each round it adopts the most frequent label among its
    neighbors, ties broken by the SMALLEST label — the determinism pin
    that makes distributed LPA value-checkable (asynchronous/random-tie
    LPA, the textbook form, is run-order-dependent by construction).
    Output: communities with member counts after round {r}.

    Per round: one edge⋈label join (co-partitioned on node id), one
    (node, label) count aggregation, one per-node arg-max window —
    all keys are node-grained so every stage shuffles O(E) rows max.
    Fixed small round count is the same bounded-unroll contract as
    graph_bfs_hops; convergence-loop LPA reuses the Pregel pattern
    (connected_components) with localCheckpoint per generation.
    """
    # lazy localCheckpoints: edge set computed once and reused by every
    # round; each round's labels truncate lineage so the unrolled plan
    # stays flat; blocks are ContextCleaner-freed with the result
    # (ADVICE r03 — no CacheManager entries to leak)
    edges = both_ways(copart_pairs(spark, sf_dir, BFS_BULK)).transform(_ckpt_lazy)
    labels = edges.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    for _ in range(LPA_ROUNDS):
        votes = (
            edges.join(labels, edges.src == labels.node)
            .groupBy(F.col("dst").alias("n"), "label")
            .agg(F.count("*").alias("cnt"))
        )
        w = Window.partitionBy("n").orderBy(F.col("cnt").desc(), "label")
        labels = (
            votes.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") == 1)
            .select(F.col("n").alias("node"), "label")
            .transform(_ckpt_lazy)
        )
    return labels.groupBy(F.col("label").alias("community")).agg(
        F.count("*").alias("n_members"),
        F.min("node").cast("bigint").alias("min_member"),
    )


graph_label_propagation.__doc__ = graph_label_propagation.__doc__.format(
    r=LPA_ROUNDS
)


# ---------------------------------------------------------------------------
# bloom_semi_join — runtime-filter pattern: bloom prefilter + exact verify
# ---------------------------------------------------------------------------

BLOOM_BITS = 4096
BLOOM_HASHES = ("bf1", "bf2", "bf3")
BLOOM_DIM_MIN_BAL = 9_000.0  # selective supplier subset


@query(
    "bloom_semi_join",
    oracle=f"""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS n_lines,
           CAST(sum({to_fixed_sql("l_extendedprice", 100)}) AS BIGINT)
               AS revenue_cents
    FROM lineitem
    WHERE l_suppkey IN (SELECT s_suppkey FROM supplier
                        WHERE s_acctbal > {BLOOM_DIM_MIN_BAL})
    GROUP BY l_returnflag
    """,
)
def bloom_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-filter join pattern, written out explicitly: revenue of
    lineitems supplied by high-balance suppliers, where the fact scan is
    PREFILTERED by a Bloom filter built from the dim keys ({m} bits,
    {k} hashes) and then EXACTLY verified by the real semi-join — the
    oracle is the plain semi-join because bloom + verify is lossless
    (the filter only admits false POSITIVES, which the verify removes).

    This is what Spark's own runtime row-group filtering
    (spark.sql.optimizer.runtime.bloomFilter) does inside the engine,
    surfaced as an explicit, portable plan: the bit-position set is ONE
    tiny aggregate of the dim (≤ k·|dim| positions), broadcast as a
    single array row; the fact side tests k array_contains per row
    BEFORE any shuffle, so at 100 TB the shuffle carries only rows that
    pass the bloom — with |dim| ≪ m the pass-through rate approaches
    the true selectivity, and the verify semi-join does the rest.
    """
    m = BLOOM_BITS
    sup = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > BLOOM_DIM_MIN_BAL)
        .select("s_suppkey")
    )
    pos_cols = [
        (hash59(F.concat(F.lit(s), F.col("s_suppkey").cast("string"))) % m)
        for s in BLOOM_HASHES
    ]
    bloom = (
        sup.select(F.explode(F.array(*pos_cols)).alias("bit"))
        .agg(F.array_sort(F.collect_set("bit")).alias("bits"))
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_suppkey",
        "l_returnflag",
        to_fixed("l_extendedprice", 100).alias("cents"),
    )
    tests = [
        F.array_contains(
            F.col("bits"),
            hash59(F.concat(F.lit(s), F.col("l_suppkey").cast("string"))) % m,
        )
        for s in BLOOM_HASHES
    ]
    passed = (
        li.crossJoin(F.broadcast(bloom))
        .where(tests[0] & tests[1] & tests[2])
        .drop("bits")
    )
    verified = passed.join(F.broadcast(sup), passed.l_suppkey == sup.s_suppkey, "left_semi")
    return verified.groupBy("l_returnflag").agg(
        F.count("*").alias("n_lines"),
        F.sum("cents").cast("bigint").alias("revenue_cents"),
    )


bloom_semi_join.__doc__ = bloom_semi_join.__doc__.format(
    m=BLOOM_BITS, k=len(BLOOM_HASHES)
)


# ---------------------------------------------------------------------------
# orders_backlog_snapshot — daily open-order backlog via sweep/difference
# ---------------------------------------------------------------------------


@query(
    "orders_backlog_snapshot",
    oracle="""
    WITH o AS (SELECT o_orderkey,
                      epoch_us(o_orderdate) // 86400000000 AS open_day
               FROM orders),
    ship AS (SELECT l_orderkey,
                    max(epoch_us(l_shipdate) // 86400000000) AS close_day
             FROM lineitem GROUP BY l_orderkey),
    deltas AS (
      SELECT open_day AS day, 1 AS d FROM o
      UNION ALL
      SELECT s.close_day + 1, -1
      FROM o JOIN ship s ON s.l_orderkey = o.o_orderkey
    ),
    byday AS (SELECT day, CAST(sum(d) AS BIGINT) AS delta FROM deltas GROUP BY day),
    spine AS (SELECT unnest(range((SELECT min(day) FROM byday),
                                  (SELECT max(day) FROM byday) + 1)) AS day)
    SELECT sp.day,
           CAST(sum(coalesce(b.delta, 0))
                OVER (ORDER BY sp.day ROWS UNBOUNDED PRECEDING) AS BIGINT)
               AS open_orders
    FROM spine sp LEFT JOIN byday b ON b.day = sp.day
    """,
)
def orders_backlog_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily open-order backlog: for every calendar day, how many orders
    have been placed but not yet fully shipped — the operations
    dashboard number behind staffing and SLA decisions.

    The naive form is an interval×day-grid theta join (every order
    overlaps many days); this plan is the SWEEP / difference-array
    rewrite proven on interval_coverage_profile: +1 on the order day,
    −1 the day after the LAST line ships (per-order max, one combinable
    aggregate), summed per day, then one cumulative window over the
    calendar spine.  Work scales with orders + span, never orders×span;
    the single-partition cumulative window is bounded by calendar days.
    Orders with no lineitems never close — they stay in the backlog,
    which is the honest semantics for a malformed order.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        F.expr("CAST(unix_date(CAST(o_orderdate AS DATE)) AS BIGINT)").alias(
            "open_day"
        ),
    )
    ship = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.max(
                F.expr("CAST(unix_date(CAST(l_shipdate AS DATE)) AS BIGINT)")
            ).alias("close_day")
        )
    )
    deltas = o.select(F.col("open_day").alias("day"), F.lit(1).alias("d")).unionByName(
        o.join(ship, o.o_orderkey == ship.l_orderkey).select(
            (F.col("close_day") + 1).alias("day"), F.lit(-1).alias("d")
        )
    )
    byday = deltas.groupBy("day").agg(F.sum("d").cast("bigint").alias("delta"))
    bounds = byday.agg(
        F.min("day").alias("lo"), F.max("day").alias("hi")
    )
    spine = bounds.select(
        F.explode(F.sequence(F.col("lo"), F.col("hi"))).alias("day")
    )
    w = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    return (
        spine.join(byday, "day", "left")
        .select("day", F.coalesce("delta", F.lit(0)).alias("delta"))
        .withColumn("open_orders", F.sum("delta").over(w).cast("bigint"))
        .select("day", "open_orders")
    )


# ---------------------------------------------------------------------------
# events_anomaly_seasonal — anomaly flags on the seasonal-decompose residual
# ---------------------------------------------------------------------------

ANOM_MAD_MULT = 3


@query(
    "events_anomaly_seasonal",
    oracle=f"""
    WITH {daily_cents_sql(where="ts IS NOT NULL")},
    w AS (SELECT day, daily_cents,
                 CAST(sum(daily_cents) OVER fr AS BIGINT) AS fr_sum,
                 CAST(count(*) OVER fr AS BIGINT) AS fr_n
          FROM g
          WINDOW fr AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    t AS (SELECT day, day % 7 AS dow, daily_cents,
                 CAST(round((daily_cents / 100.0
                             - {mean_quantized_signed_sql(
                                 "fr_sum", "100 * fr_n")})
                            * 1000000) AS BIGINT) AS det_us
          FROM w WHERE fr_n = 7),
    se AS (SELECT day, daily_cents, det_us,
                  CAST({ratio_scaled_int_signed_sql(
                      "sum(det_us) OVER (PARTITION BY dow)",
                      "count(*) OVER (PARTITION BY dow)", 1)} AS BIGINT)
                      AS seas_us
           FROM t),
    res AS (SELECT day, daily_cents, det_us - seas_us AS res_us FROM se),
    st AS (SELECT CAST(round(quantile_cont(res_us, 0.5)) AS BIGINT) AS med_us
           FROM res),
    md AS (SELECT CAST(round(quantile_cont(abs(res_us - st.med_us), 0.5)) AS BIGINT)
                      AS mad_us
           FROM res, st)
    SELECT r.day,
           round(r.daily_cents / 100.0, 2) AS daily_value,
           round(r.res_us / 1000000.0, 6) AS residual,
           abs(r.res_us - st.med_us) > {ANOM_MAD_MULT} * md.mad_us AS is_anomaly
    FROM res r, st, md
    """,
)
def events_anomaly_seasonal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonality-aware anomaly screen: days whose seasonal-decompose
    residual (trend and weekly cycle removed — the
    [[timeseries_seasonal_decompose]] pipeline) deviates from the median
    residual by more than {m}× the MAD — robust anomaly detection that
    does NOT fire on ordinary weekly rhythm, unlike the raw-value MAD
    screen ([[events_anomaly_mad]]) it complements.

    Everything after the daily rollup runs on the calendar-bounded day
    table; residuals are integer micro-units end-to-end (the seasonal
    mean is an exact integer sum divided once, then rounded back to
    integer µ-units), and the median/MAD thresholds are rounded to
    integers BEFORE the comparison, so the anomaly flag is a pure
    integer predicate — no float boundary can disagree between engines.
    """
    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    g = daily_cents(ev)
    fr = Window.orderBy("day").rowsBetween(-3, 3)
    w = g.select(
        "day",
        "daily_cents",
        F.sum("daily_cents").over(fr).cast("bigint").alias("fr_sum"),
        F.count("*").over(fr).cast("bigint").alias("fr_n"),
    ).where(F.col("fr_n") == 7)
    # trend and seasonal mean through the exact quantized lanes (the
    # raw round((fr_sum/fr_n)/100, 6) / round(sum/count) forms were the
    # boundary-divergent class — docs/OPERATIONS.md); det_us stays a
    # quantized-composition round (1e-2 grid minus 1e-6 grid, ·1e6 —
    # never within an ulp of a half)
    trend = mean_quantized_signed("fr_sum", F.col("fr_n") * 100)
    t = w.select(
        "day",
        (F.col("day") % 7).alias("dow"),
        "daily_cents",
        F.round((F.col("daily_cents") / 100.0 - trend) * 1_000_000)
        .cast("bigint")
        .alias("det_us"),
    )
    dw = Window.partitionBy("dow")
    se = t.withColumn(
        "seas_us",
        ratio_scaled_int_signed(
            F.sum("det_us").over(dw), F.count("*").over(dw), 1
        ).cast("bigint"),
    )
    res = se.select(
        "day", "daily_cents", (F.col("det_us") - F.col("seas_us")).alias("res_us")
    )
    st = res.agg(
        F.round(F.expr("percentile(res_us, 0.5)")).cast("bigint").alias("med_us")
    )
    md = (
        res.crossJoin(F.broadcast(st))
        .agg(
            F.max("med_us").alias("med_us"),
            F.round(F.expr("percentile(abs(res_us - med_us), 0.5)"))
            .cast("bigint")
            .alias("mad_us"),
        )
    )
    return res.crossJoin(F.broadcast(md)).select(
        "day",
        F.round(F.col("daily_cents") / 100.0, 2).alias("daily_value"),
        F.round(F.col("res_us") / 1_000_000.0, 6).alias("residual"),
        (
            F.abs(F.col("res_us") - F.col("med_us"))
            > ANOM_MAD_MULT * F.col("mad_us")
        ).alias("is_anomaly"),
    )


events_anomaly_seasonal.__doc__ = events_anomaly_seasonal.__doc__.format(
    m=ANOM_MAD_MULT
)


# ---------------------------------------------------------------------------
# scan_fixed_width — fixed-width (mainframe/COBOL-style) text source
# ---------------------------------------------------------------------------

# layout: nationkey cols 1-4 (right-just), name cols 5-29 (left-just,
# width 25 = TPC-H's CHAR(25) for n_name so no value can truncate),
# regionkey cols 30-33 (right-just)
_FW_LAYOUT = (("n_nationkey", 1, 4), ("n_name", 5, 25), ("n_regionkey", 30, 4))


@query(
    "scan_fixed_width",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey,
           n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation
    """,
)
def scan_fixed_width(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width text source — the mainframe/COBOL copybook layout that
    still feeds many enterprise lakes and that Spark has no native
    reader for.  Round trip: format the nation dim into padded
    fixed-width lines (Spark text sink), then parse it back with a
    column-layout spec compiled to substring+trim projections over
    ``spark.read.text`` — scan-time schema application, one narrow
    projection, no UDFs; the oracle is the original table (identity).

    At 100 TB the same plan holds: text files split by line, each
    partition parses independently, and because the layout is a pure
    expression the parse inlines into whole-stage codegen — column
    pruning even works (an unused field's substring is dropped by
    Catalyst).  Rigid layouts (no delimiter ambiguity) are why this
    format survives; the spec tuple is the engine's 'copybook'.
    """
    # deterministic per-(session, sf_dir) fixture path, overwritten on
    # rerun — a fresh uuid dir per call leaked one temp directory per
    # invocation; fixture_root keeps it executor-visible off-local
    from .spill import fixture_root as _fixture_root

    out = _fixture_root(spark, "fixed_width", sf_dir)
    nat = _t(spark, sf_dir, "nation")
    line = F.concat(
        F.lpad(F.col("n_nationkey").cast("string"), 4, " "),
        F.rpad(F.col("n_name"), 25, " "),
        F.lpad(F.col("n_regionkey").cast("string"), 4, " "),
    )
    nat.select(line.alias("value")).coalesce(1).write.mode("overwrite").text(out)
    raw = spark.read.text(out)
    cols = [
        F.trim(F.substring(F.col("value"), start, width)).alias(name)
        for name, start, width in _FW_LAYOUT
    ]
    parsed = raw.select(*cols)
    return parsed.select(
        F.col("n_nationkey").cast("bigint").alias("n_nationkey"),
        "n_name",
        F.col("n_regionkey").cast("bigint").alias("n_regionkey"),
    )


# ---------------------------------------------------------------------------
# corpus_pii_scan — PII pattern audit per document
# ---------------------------------------------------------------------------

# public-shape PII regexes (email / NANP phone / SSN-shaped / IPv4),
# written to be byte-identical between Spark (Java regex) and DuckDB (RE2):
# no lookarounds, no \\b (RE2 lacks it in older builds) — anchor by
# character class instead
_PII_PATTERNS = (
    ("email", "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"),
    ("phone", "[0-9]{3}-[0-9]{3}-[0-9]{4}"),
    ("ssn", "[0-9]{3}-[0-9]{2}-[0-9]{4}"),
    ("ipv4", "[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}"),
)


def _pii_count_sql(name: str, pat: str) -> str:
    # literal pre-gate: the email pattern's unanchored [class]+ prefix is
    # O(len·wordlen) backtracking per doc in Java regex (measured 4.2 s vs
    # 0.3 s for the other patterns at sf0.01); every PII pattern contains a
    # mandatory literal, so gate the regex behind a cheap contains() scan
    lit = {"email": "@", "phone": "-", "ssn": "-", "ipv4": "."}[name]
    return (
        f"CASE WHEN contains(lower(text), '{lit}') "
        f"THEN len(regexp_extract_all(lower(text), '{pat}')) ELSE 0 END"
    )


def _pii_oracle() -> str:
    cols = ", ".join(
        f"CAST({_pii_count_sql(name, pat)} AS BIGINT) AS n_{name}"
        for name, pat in _PII_PATTERNS
    )
    any_pred = " + ".join(_pii_count_sql(name, pat) for name, pat in _PII_PATTERNS)
    return f"""
    SELECT doc_id, {cols}, ({any_pred}) > 0 AS has_pii
    FROM documents
    """


@query("corpus_pii_scan", oracle=_pii_oracle())
def corpus_pii_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII pattern audit: per document, match counts for email / phone /
    SSN-shaped / IPv4 patterns and an aggregate has_pii flag — the scan
    a training-data pipeline runs BEFORE release, feeding either the
    redaction pass ([[corpus_normalize_redact]] is the digit-redaction
    form) or a drop rule in the quality gate ([[corpus_quality_gate]]).

    Pure JVM regexp_count projections — shuffle-free, whole-stage
    codegen, embarrassingly parallel at any scale; patterns avoid
    lookarounds and word-boundary escapes so Java regex and RE2 agree
    byte-for-byte (the same dialect-portability discipline as
    regex_extract_battery).  A model-based NER redactor slots in at the
    mapInPandas seam (ml_score_batch) when patterns aren't enough.
    """
    d = _t(spark, sf_dir, "documents")
    lits = {"email": "@", "phone": "-", "ssn": "-", "ipv4": "."}
    # Column API, NOT F.expr: a Spark SQL string literal unescapes
    # backslashes, so an expr-embedded '{pat}' turned the IPv4
    # pattern's \. into a bare wildcard . and phone/SSN digits
    # false-matched as IP addresses (hostile-fixture find).  F.lit
    # carries the pattern byte-for-byte.
    count_cols = [
        F.when(
            F.contains(F.lower(F.col("text")), F.lit(lits[name])),
            F.regexp_count(F.lower(F.col("text")), F.lit(pat)),
        )
        .otherwise(F.lit(0))
        .cast("bigint")
        .alias(f"n_{name}")
        for name, pat in _PII_PATTERNS
    ]
    out = d.select("doc_id", *count_cols)
    total = None
    for name, _ in _PII_PATTERNS:
        c = F.col(f"n_{name}")
        total = c if total is None else total + c
    return out.withColumn("has_pii", total > 0)


# ---------------------------------------------------------------------------
# corpus_code_detection — code-vs-prose heuristic classifier
# ---------------------------------------------------------------------------

CODE_SCORE_THRESHOLD_US = 30_000  # 0.03 in integer micro-units


@query(
    "corpus_code_detection",
    oracle=f"""
    WITH f AS (
      SELECT doc_id,
             CAST(len(regexp_extract_all(text, '[{{}}();=\\[\\]]')) AS BIGINT)
                 AS n_symbols,
             CAST(len(regexp_extract_all(text,
                  '(def |class |import |return |function |var |const )'))
                 AS BIGINT) AS n_keywords,
             CAST(len(text) AS BIGINT) AS n_chars
      FROM documents WHERE len(text) > 0)
    SELECT doc_id, n_symbols, n_keywords,
           CAST({ratio_scaled_int_sql("n_symbols + 10 * n_keywords", "n_chars")}
                AS BIGINT) AS code_score_us,
           CAST({ratio_scaled_int_sql("n_symbols + 10 * n_keywords", "n_chars")}
                AS BIGINT) > {CODE_SCORE_THRESHOLD_US} AS is_code
    FROM f
    """,
)
def corpus_code_detection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Code-vs-prose heuristic: symbol density ({{}}();=[]) plus weighted
    programming-keyword hits, normalized by length — the cheap signal an
    LLM corpus pipeline uses to ROUTE documents (code to the code
    pipeline with its own dedup/quality rules, prose to the text one)
    before any model-based classifier is affordable at 100 TB.

    Shuffle-free regexp-count projection (same scale argument as
    corpus_pii_scan); the score is quantized to integer micro-units
    BEFORE thresholding so the is_code flag is an integer predicate.
    Weights and threshold are declared contract constants — this is a
    routing heuristic with pinned semantics, not a trained model (that
    slots in at the ml_score_batch Arrow seam).
    """
    d = _t(spark, sf_dir, "documents").where(F.length("text") > 0)
    n_sym = F.expr("CAST(regexp_count(text, '[{}();=\\\\[\\\\]]') AS BIGINT)")
    n_kw = F.expr(
        "CAST(regexp_count(text, "
        "'(def |class |import |return |function |var |const )') AS BIGINT)"
    )
    f = d.select(
        "doc_id",
        n_sym.alias("n_symbols"),
        n_kw.alias("n_keywords"),
        F.length("text").cast("bigint").alias("n_chars"),
    )
    # exact half-up integer µ-score — round(int/int * 1e6) is the
    # boundary-divergent form the quantization contract forbids
    score = ratio_scaled_int(
        F.col("n_symbols") + 10 * F.col("n_keywords"), "n_chars"
    ).cast("bigint")
    return f.select(
        "doc_id",
        "n_symbols",
        "n_keywords",
        score.alias("code_score_us"),
        (score > CODE_SCORE_THRESHOLD_US).alias("is_code"),
    )


# ---------------------------------------------------------------------------
# orders_duplicate_payment_audit — structured near-duplicate detection
# ---------------------------------------------------------------------------

DUP_PAY_WINDOW_DAYS = 7
DUP_PAY_TOL_BP = 100  # amount tolerance: 100 basis points = 1%


@query(
    "orders_duplicate_payment_audit",
    oracle=f"""
    WITH o AS (SELECT o_orderkey, o_custkey,
                      {to_fixed_sql("o_totalprice", 100)} AS cents,
                      epoch_us(o_orderdate) // 86400000000 AS day
               FROM orders)
    SELECT a.o_orderkey AS order_a, b.o_orderkey AS order_b,
           a.o_custkey AS o_custkey,
           CAST(b.day - a.day AS BIGINT) AS day_gap,
           CAST(abs(b.cents - a.cents) AS BIGINT) AS cents_diff
    FROM o a JOIN o b
      ON a.o_custkey = b.o_custkey AND a.o_orderkey < b.o_orderkey
     AND b.day - a.day BETWEEN -{DUP_PAY_WINDOW_DAYS} AND {DUP_PAY_WINDOW_DAYS}
     AND abs(b.cents - a.cents) * 10000 <= {DUP_PAY_TOL_BP} * a.cents
    """,
)
def orders_duplicate_payment_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-payment audit: order pairs from the SAME customer within
    ±{d} days whose totals differ by ≤ {bp} basis points — the
    structured-data near-duplicate shape (double billing, double-submit,
    replayed invoices) that every finance/ops team runs; the
    STRUCTURED counterpart of the text near-dup family.

    Blocked self-join: the equi-key is the customer (per-customer order
    counts are small and bounded — the fan-out argument of
    basket_association_rules), with the day window and the
    INTEGER-ARITHMETIC amount tolerance (|Δcents|·10⁴ ≤ bp·cents —
    no float division) as in-block predicates.  At 100 TB the block key
    becomes (customer, week-band) exactly like stream_join_interval if
    per-customer history grows unbounded.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        to_fixed("o_totalprice", 100).alias("cents"),
        F.expr("CAST(unix_date(CAST(o_orderdate AS DATE)) AS BIGINT)").alias(
            "day"
        ),
    )
    a = o.alias("a")
    b = o.alias("b")
    gap = F.col("b.day") - F.col("a.day")
    return (
        a.join(
            b,
            (F.col("a.o_custkey") == F.col("b.o_custkey"))
            & (F.col("a.o_orderkey") < F.col("b.o_orderkey"))
            & (gap >= -DUP_PAY_WINDOW_DAYS)
            & (gap <= DUP_PAY_WINDOW_DAYS)
            & (
                F.abs(F.col("b.cents") - F.col("a.cents")) * 10000
                <= DUP_PAY_TOL_BP * F.col("a.cents")
            ),
        )
        .select(
            F.col("a.o_orderkey").alias("order_a"),
            F.col("b.o_orderkey").alias("order_b"),
            F.col("a.o_custkey").alias("o_custkey"),
            gap.cast("bigint").alias("day_gap"),
            F.abs(F.col("b.cents") - F.col("a.cents"))
            .cast("bigint")
            .alias("cents_diff"),
        )
    )


orders_duplicate_payment_audit.__doc__ = orders_duplicate_payment_audit.__doc__.format(
    d=DUP_PAY_WINDOW_DAYS, bp=DUP_PAY_TOL_BP
)


# ---------------------------------------------------------------------------
# corpus_lang_confusion — declared vs predicted language cross-tabulation
# ---------------------------------------------------------------------------


@query(
    "corpus_lang_confusion",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang,
                         {tokens_sql()} AS t
                  FROM documents),
    s AS (SELECT doc_id, lang,
                 len(list_filter(t, x -> list_contains(
                     ['the','a','an','of','to','and','in','is','on','for'], x)))
                     AS n_stop,
                 len(t) AS n
          FROM toks),
    p AS (SELECT lang AS declared_lang,
                 CASE WHEN n_stop / CAST(n AS DOUBLE) >= 0.02
                      THEN 'en' ELSE 'unknown' END AS pred_lang
          FROM s)
    SELECT declared_lang, pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM p GROUP BY declared_lang, pred_lang
    """,
)
def corpus_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix of the corpus's DECLARED language labels against
    the engine's heuristic language ID ([[text_lang_id]]) — the metadata
    trust audit: a corpus whose declared labels disagree with even a
    crude content signal has a labeling pipeline problem upstream, and
    mixture weights keyed on those labels ([[corpus_mixture_sample]],
    [[corpus_lang_drift_kl]]) inherit it.

    One narrow projection (the same stopword-density signal as the LID
    contract) and one combinable aggregation — the cross-tab is
    |langs|² cells regardless of corpus size.
    """
    from .extensions.text import STOPWORDS, tokens

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", "lang", tokens("text").alias("t"))
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    s = toks.select(
        "lang",
        F.size(
            F.filter(F.col("t"), lambda x: F.array_contains(stop_arr, x))
        ).alias("n_stop"),
        F.size("t").alias("n"),
    )
    p = s.select(
        F.col("lang").alias("declared_lang"),
        F.when(
            F.col("n_stop") / F.col("n").cast("double") >= 0.02, "en"
        )
        .otherwise("unknown")
        .alias("pred_lang"),
    )
    return p.groupBy("declared_lang", "pred_lang").agg(
        F.count("*").alias("n_docs")
    )


# ---------------------------------------------------------------------------
# similarity_mmr_rerank — Maximal Marginal Relevance diversified top-k
# ---------------------------------------------------------------------------

MMR_POOL = 20
MMR_K = 5
MMR_LAMBDA = 0.7  # relevance weight; (1-λ) penalizes redundancy


def _mmr_oracle() -> str:
    lam, mu = MMR_LAMBDA, round(1 - MMR_LAMBDA, 6)
    ctes = [f"""
    eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT v AS qv FROM eb WHERE vec_id = 0),
    pool AS (SELECT vec_id, v,
                    round(list_dot_product(v, (SELECT qv FROM q)) /
                          (sqrt(list_dot_product(v, v)) *
                           (SELECT sqrt(list_dot_product(qv, qv)) FROM q)), 6)
                        AS qcos
             FROM eb WHERE vec_id != 0
             ORDER BY qcos DESC, vec_id LIMIT {MMR_POOL}),
    pc AS (SELECT a.vec_id AS ia, b.vec_id AS ib,
                  round(list_dot_product(a.v, b.v) /
                        (sqrt(list_dot_product(a.v, a.v)) *
                         sqrt(list_dot_product(b.v, b.v))), 6) AS cos
           FROM pool a JOIN pool b ON a.vec_id <> b.vec_id),
    s1 AS (SELECT vec_id, qcos, 1 AS rk FROM pool
           ORDER BY qcos DESC, vec_id LIMIT 1),
    sel1 AS (SELECT * FROM s1)"""]
    for r in range(2, MMR_K + 1):
        ctes.append(f"""
    m{r} AS (SELECT p.vec_id, p.qcos,
                    round({lam} * p.qcos - {mu} * max(pc.cos), 6) AS score
             FROM pool p JOIN pc ON pc.ia = p.vec_id
              AND pc.ib IN (SELECT vec_id FROM sel{r - 1})
             WHERE p.vec_id NOT IN (SELECT vec_id FROM sel{r - 1})
             GROUP BY p.vec_id, p.qcos),
    s{r} AS (SELECT vec_id, qcos, {r} AS rk FROM m{r}
             ORDER BY score DESC, vec_id LIMIT 1),
    sel{r} AS (SELECT * FROM sel{r - 1} UNION ALL SELECT * FROM s{r})""")
    return (
        "WITH "
        + ",".join(ctes)
        + f" SELECT CAST(rk AS BIGINT) AS rk, vec_id, qcos FROM sel{MMR_K}"
    )


@query("similarity_mmr_rerank", oracle=_mmr_oracle())
def similarity_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance (Carbonell & Goldstein 1998, public
    algorithm) diversified top-{k}: greedily pick the candidate
    maximizing λ·cos(q,d) − (1−λ)·max_{{s∈S}} cos(d,s) — the re-ranker
    every RAG/search stack runs so the top results aren't {k} copies of
    the same passage.

    Scale split: the DISTRIBUTED stage is the relevance top-{p} pool
    (one scan, scalar top-k — similarity_topk's plan); the greedy
    selection is inherently sequential but runs over the POOL, whose
    size is a constant — pool×pool pairwise cosines ({p}²) and {k}
    unrolled argmax rounds cost O(p²) regardless of corpus size.  This
    relevance-pool-then-rerank split is exactly how production ANN
    re-ranking deploys.  All cosines round to 6 before any ordering;
    ties break on vec_id — the greedy trace is fully pinned.
    """
    from .extensions.similarity import cosine_topk, query_vector

    emb = _t(spark, sf_dir, "embeddings")
    qvec = query_vector(emb)
    if qvec is None:  # empty corpus / query id drained: empty rerank, not a crash
        return spark.createDataFrame([], "rk bigint, vec_id bigint, qcos double")
    # round-12: the DISTRIBUTED stage stays distributed (relevance
    # top-p over the corpus — one scan, scalar top-k); the greedy runs
    # on the DRIVER over the collected constant-size pool (p ids +
    # p 64-float vectors ≈ 11 KB), the ivf_topk centroid-scoring
    # pattern.  The previous lazy-checkpoint unroll cost ~2·k tiny
    # Spark jobs of pure scheduler latency (measured 1.9 s at sf0.1,
    # of which the corpus top-k was <0.4 s); pool size is a CONSTANT,
    # so driver-side selection is also the right shape at 100 TB.
    # Float semantics replicate the retired Spark expressions exactly:
    # sequential left-fold dot/norm in IEEE double (same association
    # order), try_divide → None on 0-divisor, round = Spark's
    # BigDecimal(repr) HALF_UP (half-away), NaN/Inf pass-through,
    # DESC ordering = NaN first / NULL last, vec_id tie-break.
    pool = [
        (r[0], r[1])
        for r in cosine_topk(emb.filter(F.col("vec_id") != 0), qvec, k=MMR_POOL)
        .select("vec_id", F.col("cosine").alias("qcos"))
        .collect()
    ]
    if not pool:
        return spark.createDataFrame([], "rk bigint, vec_id bigint, qcos double")
    vecs = {
        r[0]: (None if r[1] is None else [None if x is None else float(x) for x in r[1]])
        for r in emb.where(
            F.col("vec_id").isin([p[0] for p in pool])
        ).select("vec_id", "embedding").collect()
    }

    def _fold_sum(xs):
        acc = 0.0
        for x in xs:
            if x is None or acc is None:
                acc = None
            else:
                acc = acc + x
        return acc

    def _cos(va, vb):
        # zip_with pads the shorter array with NULLs; NULL products and
        # NULL-array inputs propagate to a NULL fold, as in Spark
        if va is None or vb is None:
            return None
        n = max(len(va), len(vb))
        pa = [(va[i] if i < len(va) else None) for i in range(n)]
        pb = [(vb[i] if i < len(vb) else None) for i in range(n)]
        d = _fold_sum(
            (None if (x is None or y is None) else x * y) for x, y in zip(pa, pb)
        )
        na = _fold_sum(None if x is None else x * x for x in va)
        nb = _fold_sum(None if x is None else x * x for x in vb)
        if na is None or nb is None:
            return None
        denom = math.sqrt(na) * math.sqrt(nb)
        if d is None or denom == 0.0:
            return None  # try_divide semantics
        return _round6(d / denom)

    def _round6(x):
        if x is None:
            return None
        if math.isnan(x) or math.isinf(x):
            return x  # Spark Round passes NaN/Inf through
        return float(
            decimal.Decimal(repr(x)).quantize(
                decimal.Decimal("0.000001"), rounding=decimal.ROUND_HALF_UP
            )
        )

    def _desc_key(v, vid):
        # Spark DESC: NaN first (NaN is the largest double), then values
        # descending, NULL last; ties break on vec_id ascending
        if v is None:
            return (2, 0.0, vid)
        if isinstance(v, float) and math.isnan(v):
            return (0, 0.0, vid)
        return (1, -v, vid)

    pc = {
        (ia, ib): _cos(vecs.get(ia), vecs.get(ib))
        for ia, _ in pool
        for ib, _ in pool
        if ia != ib
    }
    lam, mu = MMR_LAMBDA, round(1 - MMR_LAMBDA, 6)
    first = min(pool, key=lambda p: _desc_key(p[1], p[0]))
    sel = [(1, first[0], first[1])]
    chosen = {first[0]}
    for r in range(2, MMR_K + 1):
        cands = []
        for vid, qcos in pool:
            if vid in chosen:
                continue
            sims = [pc[(vid, s)] for s in chosen]
            sims = [s for s in sims if s is not None]
            # max() over an all-NULL group is NULL; NaN is the largest
            # double in Spark's ordering; the inner msim join always
            # matches (pc covers every ordered pool pair)
            if any(isinstance(s, float) and math.isnan(s) for s in sims):
                msim = float("nan")
            else:
                msim = max(sims) if sims else None
            score = (
                None
                if (qcos is None or msim is None)
                else _round6(lam * qcos - mu * msim)
            )
            cands.append((vid, qcos, score))
        if not cands:
            break
        nxt = min(cands, key=lambda c: _desc_key(c[2], c[0]))
        sel.append((r, nxt[0], nxt[1]))
        chosen.add(nxt[0])
    return spark.createDataFrame(sel, "rk bigint, vec_id bigint, qcos double")


similarity_mmr_rerank.__doc__ = similarity_mmr_rerank.__doc__.format(
    k=MMR_K, p=MMR_POOL
)


# ---------------------------------------------------------------------------
# dedup_lsh_band_sweep — banding operating curve (recall/precision per config)
# ---------------------------------------------------------------------------

SWEEP_CONFIGS = ((16, 2), (8, 4), (4, 8))  # (bands, rows) with k = 32 fixed
SWEEP_THRESHOLD = 0.2


def _sweep_oracle() -> str:
    from .extensions.dedup import MINHASH_K, _perm_params

    _P = (1 << 61) - 1
    mins = ", ".join(
        f"min((h * {a} + {b}) % {_P}) AS mh_{i}"
        for i, (a, b) in enumerate(_perm_params(MINHASH_K))
    )
    # truth via the prefix-filtered exact-Jaccard twin (recall-lossless,
    # tests/test_prefix_truth_identity.py) — the naive all-pairs
    # inverted-index CTE spilled >80 GB at the 8x value sweep
    from .registry_ext import prefix_pair_sql

    # MATERIALIZED is load-bearing on every multiply-referenced CTE:
    # DuckDB inlines CTEs by default, so sig (3 bk_* consumers), truth
    # (9 scalar-count references), and each cand_* (4 references) would
    # otherwise re-run their whole upstream — multiplicatively, which
    # is the actual mechanism behind the r09 '>80 GB spill' (the
    # materialized intermediates measure <10M rows at 8x).  Evaluation
    # hint only; the result set is unchanged.
    parts = [f"""toks AS (SELECT doc_id, {tokens_sql()} AS t FROM documents),
    shingles AS (SELECT DISTINCT doc_id, unnest({word_shingles_sql("t")}) AS shingle
                 FROM toks WHERE len(t) >= 3),
    h AS (SELECT doc_id, {hash59_sql("shingle")} % {1 << 40} AS h FROM shingles),
    sig AS MATERIALIZED (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
    truth AS MATERIALIZED (SELECT doc_a, doc_b FROM ({prefix_pair_sql(1, 5)}))"""]
    selects = []
    for bands, rows in SWEEP_CONFIGS:
        structs = []
        for bi in range(bands):
            concat = " || '_' || ".join(
                f"mh_{bi * rows + r}::VARCHAR" for r in range(rows)
            )
            structs.append(f"{{'band': {bi}, 'sig': {hash59_sql(concat)}}}")
        tag = f"b{bands}r{rows}"
        parts.append(f"""
    bk_{tag} AS MATERIALIZED (
                 SELECT doc_id, u.band AS band, u.sig AS sig
                 FROM (SELECT doc_id, unnest([{", ".join(structs)}]) AS u FROM sig)),
    cand_{tag} AS MATERIALIZED (
                   SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
                   FROM bk_{tag} b1 JOIN bk_{tag} b2 USING (band, sig)
                   WHERE b1.doc_id < b2.doc_id)""")
        selects.append(f"""
    SELECT {bands} AS bands, {rows} AS rows_per_band,
           CAST((SELECT count(*) FROM cand_{tag}) AS BIGINT) AS n_candidates,
           CAST((SELECT count(*) FROM cand_{tag} c
                 JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)
                AS BIGINT) AS n_hits,
           CAST((SELECT count(*) FROM truth) AS BIGINT) AS n_truth,
           {mean_quantized_sql(
               f"(SELECT count(*) FROM cand_{tag} c "
               "JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)",
               "(SELECT count(*) FROM truth)")} AS recall,
           {mean_quantized_sql(
               f"(SELECT count(*) FROM cand_{tag} c "
               "JOIN truth t ON t.doc_a = c.doc_a AND t.doc_b = c.doc_b)",
               f"(SELECT count(*) FROM cand_{tag})")}
               AS precision""")
    return "WITH " + ",".join(parts) + " " + " UNION ALL ".join(selects)


@query("dedup_lsh_band_sweep", oracle=_sweep_oracle())
def dedup_lsh_band_sweep(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banding operating curve: candidate volume, recall, and precision
    of the MinHash-LSH candidate stage at three (bands × rows) splits of
    the SAME k=32 signature — 16×2 (high recall, many candidates), 8×4
    (the production default), 4×8 (high precision, low recall) — against
    exact-Jaccard ground truth at t={t}.  The S-curve threshold
    (1/b)^(1/r) moves from ~0.25 to ~0.84 across these; this sweep is
    the measurement that justifies the default before anyone trusts it
    at corpus scale, the same eval discipline as dedup_simhash_eval and
    similarity_ann_recall_eval.

    One signature aggregation is SHARED by all three configs (banding
    re-hashes the same 32 minhashes); each config adds one bucket
    self-join.  Ground truth is the inverted-index exact join — corpus-
    bounded here, replaced by a sampled-pair estimate at 100 TB (the
    declared eval-at-scale path).
    """
    from .extensions.dedup import (
        digest_shingles,
        jaccard_pairs,
        lsh_candidate_pairs,
        minhash_signatures,
    )

    sh = digest_shingles(_t(spark, sf_dir, "documents"), sf_dir)
    sig = minhash_signatures(sh)
    # the exact ground truth feeds a hits join and a truth count per
    # config: one eager checkpoint of the (tiny, threshold-filtered)
    # pair set; each config then computes n_candidates and n_hits in
    # ONE left-join aggregate over its candidate set
    truth = (
        jaccard_pairs(sh.distinct(), threshold=SWEEP_THRESHOLD)
        .select("doc_a", "doc_b")
        .transform(_ckpt_eager)
    )
    t_flag = truth.withColumn("__t", F.lit(1))
    outs = []
    for bands, rows in SWEEP_CONFIGS:
        cand = lsh_candidate_pairs(sig, bands=bands, rows=rows)
        # truth pairs are distinct, so the left join preserves cand's
        # cardinality: count(*) = n_candidates, count(__t) = n_hits
        stats = cand.join(t_flag, ["doc_a", "doc_b"], "left").agg(
            F.count("*").alias("n_candidates"),
            F.count("__t").alias("n_hits"),
        ).crossJoin(truth.agg(F.count("*").alias("n_truth")))
        outs.append(
            stats.select(
                F.lit(bands).alias("bands"),
                F.lit(rows).alias("rows_per_band"),
                F.col("n_candidates").cast("bigint"),
                F.col("n_hits").cast("bigint"),
                F.col("n_truth").cast("bigint"),
                # exact quantized count ratios (docs/OPERATIONS.md)
                mean_quantized("n_hits", "n_truth").alias("recall"),
                mean_quantized("n_hits", "n_candidates").alias("precision"),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# agg_percentile_disc — discrete-percentile semantics battery
# ---------------------------------------------------------------------------


@query(
    "agg_percentile_disc",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           round(quantile_disc(value, 0.5), 6) AS p50_disc,
           round(quantile_disc(value, 0.95), 6) AS p95_disc,
           round(quantile_cont(value, 0.5), 6) AS p50_cont
    FROM events GROUP BY event_type
    """,
)
def agg_percentile_disc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PERCENTILE_DISC vs PERCENTILE_CONT semantics, pinned cross-engine:
    the discrete form returns an ACTUAL data value (the smallest value
    whose cumulative fraction ≥ p — SQL:2008 definition), the continuous
    form interpolates between neighbors.  SLA reporting wants disc (a
    latency that actually happened); dashboards usually get cont —
    engines silently differ on defaults, which is why the battery pins
    both ([[agg_percentiles]] covers the cont-only surface).

    Spark has no percentile_disc function; the SQL:2008 definition is
    expressed directly: sort each group's values, take element
    ceil(p·n).  Both percentile forms are one sorted pass per group
    (Spark's percentile() sorts internally too); at 100 TB both swap to
    sketches ([[approx_percentile_accuracy]] is the error contract).
    """
    ev = _t(spark, sf_dir, "events")
    vals = F.array_sort(F.collect_list("value"))
    # index on count(value), not count(*): collect_list SKIPS NULLs, so
    # a group with NULL values indexed by its total row count walks off
    # the array (ANSI crash; hostile-fixture find).  try_element_at:
    # an all-NULL group has no discrete percentile — NULL, matching
    # DuckDB's quantile_disc over nothing.
    disc = lambda p: F.round(  # noqa: E731
        F.try_element_at(
            vals,
            F.greatest(
                F.lit(1), F.ceil(F.lit(p) * F.count("value")).cast("int")
            ),
        ),
        6,
    )
    return ev.groupBy("event_type").agg(
        F.count("*").alias("n"),
        disc(0.5).alias("p50_disc"),
        disc(0.95).alias("p95_disc"),
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50_cont"),
    )


# ---------------------------------------------------------------------------
# events_bot_cadence_score — automation detection via cadence regularity
# ---------------------------------------------------------------------------

BOT_MIN_EVENTS = 20
BOT_CV_THRESHOLD_US = 500_000  # cv quantized to 1e-6: flag cv < 0.5


@query(
    "events_bot_cadence_score",
    oracle=f"""
    WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events),
    g AS (SELECT user_id, us,
                 us - lag(us) OVER (PARTITION BY user_id ORDER BY us) AS gap
          FROM e),
    s AS (SELECT user_id,
                 CAST(count(gap) AS BIGINT) AS n_gaps,
                 CAST(sum(gap) AS BIGINT) AS sum_gap,
                 CAST(sum(CAST(gap AS DECIMAL(38,0)) * gap) AS DECIMAL(38,0))
                     AS sum_gap2
          FROM g WHERE gap IS NOT NULL GROUP BY user_id
          HAVING count(gap) >= {BOT_MIN_EVENTS}),
    c AS (SELECT user_id, n_gaps,
                 CAST(sum_gap AS DOUBLE) / n_gaps AS mean_gap,
                 sum_gap // n_gaps AS mean_gap_floor_us,
                 sqrt(greatest(
                   (CAST(sum_gap2 AS DOUBLE)
                    - CAST(sum_gap AS DOUBLE) * sum_gap / n_gaps)
                   / n_gaps, 0)) AS std_gap
          FROM s)
    SELECT user_id, n_gaps,
           CAST(mean_gap_floor_us AS DOUBLE) / 1000000.0 AS mean_gap_s,
           CAST(round(std_gap / mean_gap * 1000000) AS BIGINT) AS cv_us,
           CAST(round(std_gap / mean_gap * 1000000) AS BIGINT)
               < {BOT_CV_THRESHOLD_US} AS is_bot_cadence
    FROM c
    """,
)
def events_bot_cadence_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Automation/bot screen by cadence REGULARITY: users with ≥ {n}
    inter-event gaps whose coefficient of variation (σ/μ of the gap) is
    under {t} — humans are bursty (cv ≳ 1), schedulers are metronomes
    (cv → 0).  The behavioral-abuse counterpart of
    [[events_interarrival_stats]] (which profiles; this one flags).

    One window for the lag gaps (per-user shuffle shared with every
    other user-grained frame), one combinable aggregation: Σgap as
    BIGINT and Σgap² as DECIMAL(38,0) — microsecond gaps square to
    ~10²⁴, past BIGINT, so the second moment rides the decimal lane
    (exact, fold-order-proof), with floats only in the final σ/μ.  The
    cv is quantized to integer micro-units BEFORE thresholding.

    mean_gap_s is the mean FLOORED to the microsecond (exact bigint
    `div` both engines, then one identical IEEE division by 1e6) —
    the first sf0.1 sweep caught `round(double/1e6, 6)` landing on a
    rounding boundary where the engines' round() disagree by 1e-6
    (same floor-quantize contract as the day/week epoch indexes,
    docs/OPERATIONS.md).
    """
    from .sources.tables import ts_us_expr

    ev = _t(spark, sf_dir, "events")
    e = ev.select("user_id", ts_us_expr(ev).alias("us"))
    w = Window.partitionBy("user_id").orderBy("us")
    g = e.withColumn("gap", F.col("us") - F.lag("us").over(w)).where(
        F.col("gap").isNotNull()
    )
    s = (
        g.groupBy("user_id")
        .agg(
            F.count("gap").alias("n_gaps"),
            F.sum("gap").cast("bigint").alias("sum_gap"),
            F.sum(
                F.col("gap").cast("decimal(38,0)") * F.col("gap")
            ).alias("sum_gap2"),
        )
        .where(F.col("n_gaps") >= BOT_MIN_EVENTS)
    )
    mean_gap = F.col("sum_gap").cast("double") / F.col("n_gaps")
    mean_gap_floor_us = F.expr("sum_gap div n_gaps")
    var = (
        F.col("sum_gap2").cast("double")
        - F.col("sum_gap").cast("double") * F.col("sum_gap") / F.col("n_gaps")
    ) / F.col("n_gaps")
    std = F.sqrt(F.greatest(var, F.lit(0.0)))
    cv_us = F.round(std / mean_gap * 1_000_000).cast("bigint")
    return s.select(
        "user_id",
        F.col("n_gaps").cast("bigint").alias("n_gaps"),
        (mean_gap_floor_us.cast("double") / 1_000_000.0).alias("mean_gap_s"),
        cv_us.alias("cv_us"),
        (cv_us < BOT_CV_THRESHOLD_US).alias("is_bot_cadence"),
    )


events_bot_cadence_score.__doc__ = events_bot_cadence_score.__doc__.format(
    n=BOT_MIN_EVENTS, t=BOT_CV_THRESHOLD_US / 1_000_000
)


# ---------------------------------------------------------------------------
# corpus_quality_percentile_gate — data-dependent quality threshold
# ---------------------------------------------------------------------------

QGATE_KEEP_FRACTION = 0.8


@query(
    "corpus_quality_percentile_gate",
    oracle=f"""
    WITH f AS (SELECT doc_id,
                      len({tokens_sql()})
                          AS n_tokens,
                      CAST(len(regexp_extract_all(text, '[.,;:!?]')) AS BIGINT)
                          AS n_punct,
                      CAST(len(text) AS BIGINT) AS n_chars
               FROM documents WHERE len(text) > 0),
    sc AS (SELECT doc_id,
                  CAST({ratio_scaled_int_sql("n_punct + 1", "n_tokens + 1")}
                       AS BIGINT)
                      + n_tokens AS q_score
           FROM f),
    thr AS (SELECT CAST(round(quantile_cont(q_score, {1 - QGATE_KEEP_FRACTION}))
                        AS BIGINT) AS cut
            FROM sc)
    SELECT s.doc_id, s.q_score, s.q_score >= thr.cut AS keep
    FROM sc s, thr
    """,
)
def corpus_quality_percentile_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Percentile quality gate: keep the top {p:.0%} of documents by a
    composite quality score — the DATA-DEPENDENT threshold form, vs the
    fixed-rule Gopher gate ([[corpus_quality_gate]]).  Production
    pipelines use both: fixed rules for hard floors, a percentile cut to
    hit a target kept-volume regardless of corpus drift.

    Two passes by necessity (the cut depends on the score
    distribution): one narrow score projection, one percentile
    aggregate broadcast back as a single-row threshold — the same
    broadcast-scalar shape as agg_winsorize.  The score is integerized
    (token count + µ-unit punct density) BEFORE the percentile, and the
    cut rounds to an integer, so keep/drop is an integer comparison.
    At 100 TB the exact percentile swaps for the t-digest sketch with
    the approx_percentile_accuracy error contract.
    """
    d = _t(spark, sf_dir, "documents").where(F.length("text") > 0)
    from .extensions.text import tokens

    f = d.select(
        "doc_id",
        F.size(tokens("text")).alias("n_tokens"),
        F.expr("CAST(regexp_count(text, '[.,;:!?]') AS BIGINT)").alias("n_punct"),
    )
    # punct-density term via the exact integer lane (round(int/int*1e6)
    # is the boundary-divergent form — docs/OPERATIONS.md)
    sc = f.select(
        "doc_id",
        (
            ratio_scaled_int(
                F.col("n_punct") + 1, F.col("n_tokens") + 1
            ).cast("bigint")
            + F.col("n_tokens")
        ).alias("q_score"),
    )
    thr = sc.agg(
        F.round(F.expr(f"percentile(q_score, {1 - QGATE_KEEP_FRACTION})"))
        .cast("bigint")
        .alias("cut")
    )
    return sc.crossJoin(F.broadcast(thr)).select(
        "doc_id", "q_score", (F.col("q_score") >= F.col("cut")).alias("keep")
    )


corpus_quality_percentile_gate.__doc__ = corpus_quality_percentile_gate.__doc__.format(
    p=QGATE_KEEP_FRACTION
)


# ---------------------------------------------------------------------------
# supplier_scorecard_composite — z-scored multi-KPI composite ranking
# ---------------------------------------------------------------------------


@query(
    "supplier_scorecard_composite",
    oracle=f"""
    WITH k AS (SELECT l_suppkey,
                      CAST(sum({to_fixed_sql("l_extendedprice", 100)})
                           AS BIGINT) AS rev_cents,
                      CAST(count(*) AS BIGINT) AS n_lines,
                      CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
               FROM lineitem GROUP BY l_suppkey),
    st AS (SELECT CAST(sum(rev_cents) AS BIGINT) AS s_rev,
                  CAST(sum(CAST(rev_cents AS DECIMAL(38,0)) * rev_cents)
                       AS DECIMAL(38,0)) AS s_rev2,
                  CAST(sum(n_orders) AS BIGINT) AS s_ord,
                  CAST(sum(CAST(n_orders AS DECIMAL(38,0)) * n_orders)
                       AS DECIMAL(38,0)) AS s_ord2,
                  CAST(count(*) AS BIGINT) AS n
           FROM k),
    z AS (SELECT k.l_suppkey, k.rev_cents, k.n_orders,
                 (k.rev_cents - CAST(st.s_rev AS DOUBLE) / st.n)
                 / sqrt((CAST(st.s_rev2 AS DOUBLE)
                         - CAST(st.s_rev AS DOUBLE) * st.s_rev / st.n)
                        / (st.n - 1)) AS z_rev,
                 (k.n_orders - CAST(st.s_ord AS DOUBLE) / st.n)
                 / sqrt((CAST(st.s_ord2 AS DOUBLE)
                         - CAST(st.s_ord AS DOUBLE) * st.s_ord / st.n)
                        / (st.n - 1)) AS z_ord
          FROM k, st)
    SELECT l_suppkey, rev_cents, n_orders,
           round(z_rev, 6) AS z_revenue,
           round(z_ord, 6) AS z_orders,
           round(0.6 * round(z_rev, 6) + 0.4 * round(z_ord, 6), 6)
               AS composite_score
    FROM z
    """,
)
def supplier_scorecard_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier scorecard: revenue and order-breadth KPIs standardized to
    z-scores against the population and combined 60/40 into one
    composite — the normalize-then-weight pattern behind every vendor /
    store / model-version ranking dashboard (raw KPIs aren't comparable;
    z-scores are).

    One combinable KPI aggregation (exact cents; second moments on the
    DECIMAL(38,0) lane since cents² overflows BIGINT), one single-row
    stats aggregate broadcast back — the same shape as
    normalize_zscore_group but with POPULATION stats feeding multiple
    standardized columns at once.  Weights apply to the ROUNDED
    z-scores so the composite is reproducible from the published
    scorecard columns themselves.
    """
    li = _t(spark, sf_dir, "lineitem")
    k = li.groupBy("l_suppkey").agg(
        F.sum(to_fixed("l_extendedprice", 100))
        .cast("bigint")
        .alias("rev_cents"),
        F.count("*").alias("n_lines"),
        F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"),
    )
    st = k.agg(
        F.sum("rev_cents").cast("bigint").alias("s_rev"),
        F.sum(F.col("rev_cents").cast("decimal(38,0)") * F.col("rev_cents")).alias(
            "s_rev2"
        ),
        F.sum("n_orders").cast("bigint").alias("s_ord"),
        F.sum(F.col("n_orders").cast("decimal(38,0)") * F.col("n_orders")).alias(
            "s_ord2"
        ),
        F.count("*").alias("n"),
    )
    z = k.crossJoin(F.broadcast(st))
    mean_rev = F.col("s_rev").cast("double") / F.col("n")
    sd_rev = F.sqrt(
        (
            F.col("s_rev2").cast("double")
            - F.col("s_rev").cast("double") * F.col("s_rev") / F.col("n")
        )
        / (F.col("n") - 1)
    )
    mean_ord = F.col("s_ord").cast("double") / F.col("n")
    sd_ord = F.sqrt(
        (
            F.col("s_ord2").cast("double")
            - F.col("s_ord").cast("double") * F.col("s_ord") / F.col("n")
        )
        / (F.col("n") - 1)
    )
    z_rev = F.round((F.col("rev_cents") - mean_rev) / sd_rev, 6)
    z_ord = F.round((F.col("n_orders") - mean_ord) / sd_ord, 6)
    return z.select(
        "l_suppkey",
        "rev_cents",
        "n_orders",
        z_rev.alias("z_revenue"),
        z_ord.alias("z_orders"),
        F.round(0.6 * z_rev + 0.4 * z_ord, 6).alias("composite_score"),
    )


# ---------------------------------------------------------------------------
# nested_json_roundtrip_flatten — deep semi-structured shred/unshred
# ---------------------------------------------------------------------------


@query(
    "nested_json_roundtrip_flatten",
    oracle=f"""
    SELECT l_orderkey,
           CAST(l_linenumber AS BIGINT) AS line_no,
           l_partkey,
           {to_fixed_sql("l_quantity", 100)} AS qty_cents
    FROM lineitem WHERE l_orderkey % 50 = 0
    """,
)
def nested_json_roundtrip_flatten(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deep nested-JSON shred/unshred: order documents are ASSEMBLED as
    real nested JSON text (order → array of line structs, the
    API-payload shape), then parsed back with an explicit nested schema
    (from_json with array<struct>), exploded, and flattened — the
    oracle is the original flat table, so the whole semi-structured
    round trip must be lossless.  This covers the from_json /
    explode-nested-array / dotted-field surface that
    [[json_extract_battery]]'s string-path extraction does not
    (documents-as-payloads vs fields-as-strings).

    Assembly is collect_list(struct) per order (one combinable-input
    shuffle on the natural key) + to_json; parsing is a pure projection
    with an EXPLICIT schema — no schema inference job, the
    production-critical difference at 100 TB where inference means an
    extra full scan.  Line arrays are sorted by line number before
    serialization so the JSON text itself is deterministic.
    """
    li = _t(spark, sf_dir, "lineitem").where(F.col("l_orderkey") % 50 == 0)
    docs = (
        li.groupBy("l_orderkey")
        .agg(
            F.to_json(
                F.struct(
                    F.col("l_orderkey").alias("order"),
                    F.array_sort(
                        F.collect_list(
                            F.struct(
                                F.col("l_linenumber").alias("line_no"),
                                F.col("l_partkey").alias("part"),
                                to_fixed("l_quantity", 100)
                                .alias("qty_cents"),
                            )
                        )
                    ).alias("lines"),
                )
            ).alias("doc")
        )
    )
    schema = (
        "STRUCT<`order`: BIGINT, "
        "lines: ARRAY<STRUCT<line_no: INT, part: BIGINT, qty_cents: BIGINT>>>"
    )
    parsed = docs.select(F.from_json("doc", schema).alias("o"))
    return (
        parsed.select(F.col("o.order").alias("l_orderkey"), F.explode("o.lines").alias("ln"))
        .select(
            "l_orderkey",
            F.col("ln.line_no").cast("bigint").alias("line_no"),
            F.col("ln.part").alias("l_partkey"),
            F.col("ln.qty_cents").alias("qty_cents"),
        )
    )


# ---------------------------------------------------------------------------
# sql_api_recursive_cte — WITH RECURSIVE through the SQL front end
# ---------------------------------------------------------------------------


@query(
    "sql_api_recursive_cte",
    oracle="""
    WITH RECURSIVE walk(key, anc, depth) AS (
      SELECT c_custkey, c_custkey // 10, 1 FROM customer WHERE c_custkey > 0
      UNION ALL
      SELECT w.key, w.anc // 10, w.depth + 1
      FROM walk w WHERE w.anc > 0
    )
    SELECT key AS c_custkey,
           CAST(count(*) AS BIGINT) AS n_ancestors,
           CAST(max(depth) AS BIGINT) AS chain_depth
    FROM walk GROUP BY key
    """,
)
def sql_api_recursive_cte(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANSI ``WITH RECURSIVE`` executed natively by Spark's SQL front end
    (new in Spark 4) — the same ancestor-closure semantics that
    [[hierarchy_ancestor_paths]] builds by bounded unrolling, now as a
    TRUE fixpoint recursion the planner drives (UnionLoop iterates until
    the recursive branch is empty), checked against DuckDB's recursive
    CTE evaluator on nearly identical SQL text.

    The unroll vs recursion tradeoff is now a real choice inside one
    engine: unrolled plans give Catalyst full visibility (per-level
    reuse, a fixed stage count) but need a depth bound; the recursive
    form handles unbounded depth with the loop scheduled by the engine.
    Keeping both contracts green pins that they agree.
    """
    from .sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        WITH RECURSIVE walk(key, anc, depth) AS (
          SELECT c_custkey, CAST(c_custkey / 10 AS BIGINT) AS anc, 1 AS depth
          FROM customer WHERE c_custkey > 0
          UNION ALL
          SELECT w.key, CAST(w.anc / 10 AS BIGINT), w.depth + 1
          FROM walk w WHERE w.anc > 0
        )
        SELECT key AS c_custkey,
               CAST(count(*) AS BIGINT) AS n_ancestors,
               CAST(max(depth) AS BIGINT) AS chain_depth
        FROM walk GROUP BY key
        """
    )


# ---------------------------------------------------------------------------
# stat_welch_ttest — two-sample Welch t-test from exact integer moments
# ---------------------------------------------------------------------------


@query(
    "stat_welch_ttest_ab",
    oracle=f"""
    WITH s AS (SELECT event_type,
                      {to_fixed_sql("value", 100)} AS cents
               FROM events WHERE event_type IN ('click', 'view')),
    m AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS s1,
                 CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0))
                     AS s2
          FROM s GROUP BY event_type),
    v AS (SELECT event_type, n, s1,
                 CAST(s1 AS DOUBLE) / n AS mean,
                 (CAST(s2 AS DOUBLE) - CAST(s1 AS DOUBLE) * s1 / n) / (n - 1)
                     AS var
          FROM m),
    a AS (SELECT * FROM v WHERE event_type = 'click'),
    b AS (SELECT * FROM v WHERE event_type = 'view')
    SELECT a.n AS n_click, b.n AS n_view,
           {mean_quantized_signed_sql(
               "CAST(a.s1 AS HUGEINT) * b.n - CAST(b.s1 AS HUGEINT) * a.n",
               "100 * CAST(a.n AS HUGEINT) * b.n")} AS mean_diff,
           round((a.mean - b.mean) / sqrt(a.var / a.n + b.var / b.n), 6)
               AS t_stat,
           round(pow(a.var / a.n + b.var / b.n, 2)
                 / (pow(a.var / a.n, 2) / (a.n - 1)
                    + pow(b.var / b.n, 2) / (b.n - 1)), 6) AS df_welch
    FROM a, b
    """,
)
def stat_welch_ttest_ab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sample Welch t-test (unequal variances) between click and view
    event values — the A/B-test primitive completing the inferential
    battery ([[stat_ks_two_sample]] distribution-free,
    [[stat_chi_square_independence]] categorical, this one means);
    the _ab suffix distinguishes the two-ARM form from the one-vs-rest
    source drift screen [[stat_welch_ttest]].

    All moments are exact integers (cents sums in BIGINT, squared sums
    on the DECIMAL(38,0) lane — cents² exceeds BIGINT at corpus scale);
    the t statistic and Welch-Satterthwaite df are a fixed float
    formula over those integers, applied once in a one-row frame —
    fold order cannot move the rounded values.  One combinable shuffle
    of two groups; everything after is broadcast-sized.
    """
    ev = _t(spark, sf_dir, "events")
    s = ev.where(F.col("event_type").isin("click", "view")).select(
        "event_type",
        to_fixed("value", 100).alias("cents"),
    )
    m = s.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("cents").cast("bigint").alias("s1"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias("s2"),
    )
    mean = F.col("s1").cast("double") / F.col("n")
    var = (
        F.col("s2").cast("double") - F.col("s1").cast("double") * F.col("s1") / F.col("n")
    ) / (F.col("n") - 1)
    v = m.select("event_type", "n", "s1", mean.alias("mean"), var.alias("var"))
    a = v.where(F.col("event_type") == "click").select(
        F.col("n").alias("n_click"), F.col("s1").alias("sa"),
        F.col("mean").alias("ma"), F.col("var").alias("va"),
    )
    b = v.where(F.col("event_type") == "view").select(
        F.col("n").alias("n_view"), F.col("s1").alias("sb"),
        F.col("mean").alias("mb"), F.col("var").alias("vb"),
    )
    j = a.crossJoin(b)
    se2 = F.col("va") / F.col("n_click") + F.col("vb") / F.col("n_view")
    # mean_diff is the exact rational (sa·nb − sb·na)/(100·na·nb) —
    # signed quantized lane with DECIMAL pre-casts (cents-sum × count
    # exceeds BIGINT at corpus scale); t/df keep round(): sqrt/pow are
    # the documented irrational residual (docs/OPERATIONS.md)
    return j.select(
        "n_click",
        "n_view",
        mean_quantized_signed(
            F.col("sa").cast("decimal(38,0)") * F.col("n_view")
            - F.col("sb").cast("decimal(38,0)") * F.col("n_click"),
            F.col("n_click").cast("decimal(38,0)") * F.col("n_view") * 100,
        ).alias("mean_diff"),
        F.round((F.col("ma") - F.col("mb")) / F.sqrt(se2), 6).alias("t_stat"),
        F.round(
            F.pow(se2, 2)
            / (
                F.pow(F.col("va") / F.col("n_click"), 2) / (F.col("n_click") - 1)
                + F.pow(F.col("vb") / F.col("n_view"), 2) / (F.col("n_view") - 1)
            ),
            6,
        ).alias("df_welch"),
    )


# ---------------------------------------------------------------------------
# stat_bootstrap_poisson_ci — deterministic Poisson-bootstrap CI
# ---------------------------------------------------------------------------

BOOT_B = 32
# Poisson(1) CDF thresholds (public constants, 9 dp): weight = #thresholds < u
_POIS1_CDF = (
    0.367879441,
    0.735758882,
    0.919698603,
    0.981011843,
    0.996340153,
    0.999405815,
)


def _boot_weight_sql(u: str) -> str:
    return (
        "("
        + " + ".join(f"CASE WHEN {u} > {t} THEN 1 ELSE 0 END" for t in _POIS1_CDF)
        + ")"
    )


@query(
    "stat_bootstrap_poisson_ci",
    oracle=f"""
    WITH o AS (SELECT o_orderkey,
                      {to_fixed_sql("o_totalprice", 100)} AS cents,
                      {hash59_sql("'bsA_' || CAST(o_orderkey AS VARCHAR)")} AS ha,
                      {hash59_sql("'bsB_' || CAST(o_orderkey AS VARCHAR)")} AS hb
               FROM orders),
    rep AS (SELECT o.o_orderkey, o.cents, r.b,
                   ((((r.b * (o.hb // 1073741824)) % 536870912) * 1073741824
                     + r.b * (o.hb % 1073741824) + o.ha)
                    % 576460752303423488 + 1)
                   / 576460752303423488.0 AS u
            FROM o, (SELECT unnest(range(0, {BOOT_B})) AS b) r),
    w AS (SELECT b, cents, {_boot_weight_sql("u")} AS wt FROM rep),
    means AS (SELECT b,
                     CAST(sum(wt * cents) AS BIGINT) AS wsum,
                     CAST(sum(wt) AS BIGINT) AS wn
              FROM w GROUP BY b),
    rm AS (SELECT b, CAST(wsum AS DOUBLE) / wn / 100.0 AS rmean FROM means),
    pt AS (SELECT CAST(sum(cents) AS BIGINT) AS tot,
                  CAST(count(*) AS BIGINT) AS n FROM o)
    SELECT CAST({BOOT_B} AS BIGINT) AS n_replicates,
           {mean_quantized_sql("pt.tot", "100 * pt.n")} AS point_mean,
           round((SELECT quantile_cont(rmean, 0.025) FROM rm), 6) AS ci_lo,
           round((SELECT quantile_cont(rmean, 0.975) FROM rm), 6) AS ci_hi
    FROM pt
    """,
)
def stat_bootstrap_poisson_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bootstrap confidence interval for mean order value via the POISSON
    bootstrap — the distributed-systems form (each row draws an
    independent Poisson(1) multiplicity per replicate, so no replicate
    ever needs a global sample of fixed size n, which is impossible to
    coordinate across partitions).  B={b} replicates in ONE pass: the
    row×replicate expansion is a projection + explode, each replicate's
    weighted mean is exact-integer (Σw·cents / Σw), and the CI is the
    2.5/97.5 percentile of the {b} replicate means.

    Determinism: multiplicities come from inverse-CDF lookup of a
    key-stable uniform against literal Poisson(1) CDF constants — the
    same derandomized-sampling discipline as privacy_dp_counts' Laplace
    draw.  The per-replicate uniforms use Kirsch–Mitzenmacher double
    hashing: TWO md5-derived hash values per row (hash59: 15 hex md5
    digits, so values range over [0, 2^60)), u_b = (h1 + b·h2)
    mod 2^59 — the textbook result that two independent hashes simulate
    B independent ones for simulation/Bloom workloads — so the md5 cost
    is 2 per row instead of B={b} (measured ~2.5× on this query).  At
    100 TB: the expansion is map-side (×{b} rows but combinable
    immediately), the shuffle carries B partial sums.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        to_fixed("o_totalprice", 100).alias("cents"),
        hash59(F.concat(F.lit("bsA_"), F.col("o_orderkey").cast("string"))).alias(
            "ha"
        ),
        hash59(F.concat(F.lit("bsB_"), F.col("o_orderkey").cast("string"))).alias(
            "hb"
        ),
    )
    rep = o.select(
        "cents",
        "ha",
        "hb",
        F.explode(F.sequence(F.lit(0), F.lit(BOOT_B - 1))).alias("b"),
    )
    # (h1 + b*h2) mod 2^59 would overflow BIGINT if multiplied directly
    # (b*h2 < 2^64).  Split h2 into halves so every intermediate stays
    # under 2^63.  NOTE the ranges: hash59 yields 15 hex digits, so
    # h2 < 2^60 and hi = h2 DIV 2^30 < 2^30 (not 2^29 — round-5 ADVICE
    # corrected the stated bound); with b < 2^11 the largest
    # intermediate is b·hi < 2^41 and ((b·hi) mod 2^29)·2^30 + b·lo + ha
    # < 2^59 + 2^41 + 2^60 < 2^62 — ample BIGINT margin.  With
    # h2 = hi·2^30 + lo,
    #   (b·h2) mod 2^59 = ((b·hi) mod 2^29)·2^30 + b·lo   (then + ha,
    # mod 2^59 once).  Pure BIGINT — whole-stage-codegen long ops —
    # replacing the round-4 DECIMAL(38,0) mix (measured A/B below); the
    # oracle mirrors the identical split so values are bit-equal.
    u = (
        F.expr(
            f"""(((b * (hb DIV 1073741824)) % 536870912) * 1073741824
                 + b * (hb % 1073741824) + ha) % {1 << 59}"""
        )
        + 1
    ) / F.lit(float(1 << 59))
    wt = None
    for t in _POIS1_CDF:
        c = F.when(u > t, 1).otherwise(0)
        wt = c if wt is None else wt + c
    w = rep.select("b", "cents", wt.alias("wt"))
    means = w.groupBy("b").agg(
        F.sum(F.col("wt") * F.col("cents")).cast("bigint").alias("wsum"),
        F.sum("wt").cast("bigint").alias("wn"),
    )
    rm = means.select(
        (F.col("wsum").cast("double") / F.col("wn") / 100.0).alias("rmean")
    )
    ci = rm.agg(
        F.round(F.expr("percentile(rmean, 0.025)"), 6).alias("ci_lo"),
        F.round(F.expr("percentile(rmean, 0.975)"), 6).alias("ci_hi"),
    )
    # exact quantized cents mean (docs/OPERATIONS.md); the CI bounds stay
    # round(percentile) — interpolation is the documented residual class
    pt = o.agg(
        mean_quantized(F.sum("cents"), F.count("*") * 100).alias("point_mean")
    )
    return (
        pt.crossJoin(F.broadcast(ci))
        .select(
            F.lit(BOOT_B).cast("bigint").alias("n_replicates"),
            "point_mean",
            "ci_lo",
            "ci_hi",
        )
    )


stat_bootstrap_poisson_ci.__doc__ = stat_bootstrap_poisson_ci.__doc__.format(b=BOOT_B)


# ---------------------------------------------------------------------------
# privacy_t_closeness — sensitive-distribution distance per QI class
# ---------------------------------------------------------------------------

T_CLOSE_THRESHOLD_US = 400_000  # flag classes with TV distance > 0.4


@query(
    "privacy_t_closeness",
    oracle=f"""
    WITH cls AS (SELECT CAST(c_nationkey AS BIGINT) AS nk,
                        CAST(floor(c_acctbal / 1000) AS BIGINT) AS bb,
                        c_mktsegment AS seg,
                        count(*) AS n_cs
                 FROM customer GROUP BY 1, 2, 3),
    cn AS (SELECT nk, bb, CAST(sum(n_cs) AS BIGINT) AS n_c FROM cls GROUP BY nk, bb),
    gs AS (SELECT seg, CAST(sum(n_cs) AS BIGINT) AS n_s FROM cls GROUP BY seg),
    tot AS (SELECT CAST(sum(n_s) AS BIGINT) AS n FROM gs),
    grid AS (SELECT cn.nk, cn.bb, cn.n_c, gs.seg, gs.n_s,
                    coalesce(c2.n_cs, 0) AS n_cs
             FROM cn CROSS JOIN gs
             LEFT JOIN cls c2 ON c2.nk = cn.nk AND c2.bb = cn.bb AND c2.seg = gs.seg),
    tv AS (SELECT nk, bb, max(n_c) AS n_c,
                  CAST(sum(abs(n_cs * (SELECT n FROM tot) - n_s * n_c)) AS BIGINT)
                      AS num
           FROM grid GROUP BY nk, bb)
    SELECT nk AS c_nationkey, bb AS bal_band, CAST(n_c AS BIGINT) AS n,
           CAST({ratio_scaled_int_sql(
               "num", "2 * CAST(n_c AS HUGEINT) * (SELECT n FROM tot)")} AS BIGINT)
               AS tv_us,
           CAST({ratio_scaled_int_sql(
               "num", "2 * CAST(n_c AS HUGEINT) * (SELECT n FROM tot)")} AS BIGINT)
               > {T_CLOSE_THRESHOLD_US} AS at_risk
    FROM tv
    """,
)
def privacy_t_closeness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """t-closeness audit — the attack l-diversity misses: a class can
    have many DISTINCT sensitive values yet a wildly skewed distribution
    (99% one segment), still leaking information.  Per QI class, the
    total-variation distance between the class's sensitive-attribute
    distribution and the global one; classes over t={t} need merging.
    Completes the release-audit ladder: [[privacy_k_anonymity]] (size) →
    [[privacy_l_diversity]] (variety) → t-closeness (distribution) →
    [[privacy_dp_counts]] (noised publication).

    Exact-arithmetic core: TV = Σ|n_cs·N − n_s·n_c| / (2·n_c·N) — the
    numerator is pure BIGINT cross-multiplication (no per-cell float
    division), the single division happens once per class and rounds to
    integer µ-units before thresholding.  The class×segment grid is
    built from a broadcast of the |segments|-row global table, so
    absent cells (n_cs = 0) are represented — dropping them understates
    the distance.  At population scale the cross-products ride the
    DECIMAL(38,0) lane.
    """
    c = _t(spark, sf_dir, "customer")
    cls = c.groupBy(
        F.col("c_nationkey").cast("bigint").alias("nk"),
        F.floor(F.col("c_acctbal") / 1000).cast("bigint").alias("bb"),
        F.col("c_mktsegment").alias("seg"),
    ).agg(F.count("*").alias("n_cs"))
    cn = cls.groupBy("nk", "bb").agg(F.sum("n_cs").cast("bigint").alias("n_c"))
    gs = cls.groupBy("seg").agg(F.sum("n_cs").cast("bigint").alias("n_s"))
    tot = gs.agg(F.sum("n_s").cast("bigint").alias("n"))
    grid = (
        cn.crossJoin(F.broadcast(gs))
        .join(cls, ["nk", "bb", "seg"], "left")
        .select(
            "nk",
            "bb",
            "n_c",
            "n_s",
            F.coalesce("n_cs", F.lit(0)).alias("n_cs"),
        )
        .crossJoin(F.broadcast(tot))
    )
    tv = grid.groupBy("nk", "bb").agg(
        F.max("n_c").alias("n_c"),
        F.max("n").alias("n"),
        F.sum(
            F.abs(F.col("n_cs") * F.col("n") - F.col("n_s") * F.col("n_c"))
        )
        .cast("bigint")
        .alias("num"),
    )
    # exact half-up integer µ-units (the docstring's 'rounds to integer
    # µ-units' now rides the DECIMAL lane end-to-end, not a double)
    tv_us = ratio_scaled_int(
        "num", F.col("n_c").cast("decimal(38,0)") * F.col("n") * 2
    ).cast("bigint")
    return tv.select(
        F.col("nk").alias("c_nationkey"),
        F.col("bb").alias("bal_band"),
        F.col("n_c").cast("bigint").alias("n"),
        tv_us.alias("tv_us"),
        (tv_us > T_CLOSE_THRESHOLD_US).alias("at_risk"),
    )


privacy_t_closeness.__doc__ = privacy_t_closeness.__doc__.format(
    t=T_CLOSE_THRESHOLD_US / 1_000_000
)


# ---------------------------------------------------------------------------
# events_outage_gaps — silent-period detection over the event stream
# ---------------------------------------------------------------------------

OUTAGE_GAP_S = 60


@query(
    "events_outage_gaps",
    oracle=f"""
    WITH s AS (SELECT DISTINCT epoch_us(CAST(ts AS TIMESTAMP)) // 1000000 AS sec
               FROM events),
    g AS (SELECT sec,
                 lag(sec) OVER (ORDER BY sec) AS prev_sec
          FROM s)
    SELECT prev_sec AS gap_start_sec,
           sec AS gap_end_sec,
           CAST(sec - prev_sec AS BIGINT) AS gap_s
    FROM g WHERE sec - prev_sec > {OUTAGE_GAP_S}
    """,
)
def events_outage_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silent-period (outage) detection: gaps longer than {g}s between
    consecutive ACTIVE SECONDS of the event stream — the monitoring
    question 'when did ingestion stop?'.

    The scale trick is aggregating to the distinct-second grid FIRST
    (one combinable distinct, cardinality bounded by wall-clock seconds
    in the window — a year is 31M rows regardless of event volume), so
    the consecutive-gap window runs over the bounded grid, never over
    raw events.  Lag-over-raw-events would order the full corpus; this
    is the same grid-bounding acceptance as stat_ks_two_sample and the
    day spines.
    """
    from .sources.tables import ts_us_expr

    ev = _t(spark, sf_dir, "events")
    s = ev.select(
        (ts_us_expr(ev) / F.lit(1_000_000)).cast("bigint").alias("sec")
    ).distinct()
    w = Window.orderBy("sec")
    g = s.withColumn("prev_sec", F.lag("sec").over(w))
    return (
        g.where(F.col("sec") - F.col("prev_sec") > OUTAGE_GAP_S)
        .select(
            F.col("prev_sec").alias("gap_start_sec"),
            F.col("sec").alias("gap_end_sec"),
            (F.col("sec") - F.col("prev_sec")).cast("bigint").alias("gap_s"),
        )
    )


events_outage_gaps.__doc__ = events_outage_gaps.__doc__.format(g=OUTAGE_GAP_S)


# ---------------------------------------------------------------------------
# events_slo_burn_rate — multi-window error-budget burn (SRE alerting rule)
# ---------------------------------------------------------------------------

SLO_TARGET_PPM = 250_000  # error budget: 25% of events may be errors


@query(
    "events_slo_burn_rate",
    oracle=f"""
    WITH e AS (SELECT epoch_us(CAST(ts AS TIMESTAMP)) // 3600000000 AS hour,
                      CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
               FROM events WHERE ts IS NOT NULL),
    h AS (SELECT hour,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(is_err) AS BIGINT) AS n_err
          FROM e GROUP BY hour),
    w AS (SELECT hour, n, n_err,
                 CAST(sum(n) OVER fr AS BIGINT) AS n_6h,
                 CAST(sum(n_err) OVER fr AS BIGINT) AS err_6h
          FROM h
          WINDOW fr AS (ORDER BY hour ROWS BETWEEN 5 PRECEDING AND CURRENT ROW))
    SELECT hour,
           CAST({ratio_scaled_int_sql("n_err", "n")} AS BIGINT) AS rate_1h_ppm,
           CAST({ratio_scaled_int_sql("err_6h", "n_6h")} AS BIGINT)
               AS rate_6h_ppm,
           round(CAST({ratio_scaled_int_sql("n_err", "n")} AS BIGINT)
                 / {SLO_TARGET_PPM}.0, 6) AS burn_1h,
           round(CAST({ratio_scaled_int_sql("err_6h", "n_6h")} AS BIGINT)
                 / {SLO_TARGET_PPM}.0, 6) AS burn_6h,
           CAST({ratio_scaled_int_sql("n_err", "n")} AS BIGINT)
                 > {SLO_TARGET_PPM}
             AND CAST({ratio_scaled_int_sql("err_6h", "n_6h")} AS BIGINT)
                 > {SLO_TARGET_PPM} AS page
    FROM w
    """,
)
def events_slo_burn_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-window SLO error-budget burn (the Google SRE alerting rule,
    public practice): per hour, the 1-hour and trailing-6-hour error
    rates against a declared budget — a page fires only when BOTH
    windows burn above 1× (the short window gives reaction speed, the
    long one suppresses blips).

    The hourly rollup is one combinable shuffle; the 6-hour trailing
    frame runs on the wall-clock-bounded hour grid (the spine
    acceptance).  Rates are quantized to integer ppm BEFORE the burn
    ratio and the page predicate compares integers against the literal
    budget — no float boundary can disagree.
    """
    from .sources.tables import ts_us_expr

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    e = ev.select(
        (ts_us_expr(ev) / F.lit(3_600_000_000)).cast("bigint").alias("hour"),
        F.when(F.col("event_type") == "error", 1).otherwise(0).alias("is_err"),
    )
    h = e.groupBy("hour").agg(
        F.count("*").alias("n"), F.sum("is_err").cast("bigint").alias("n_err")
    )
    fr = Window.orderBy("hour").rowsBetween(-5, 0)
    w = h.select(
        "hour",
        "n",
        "n_err",
        F.sum("n").over(fr).cast("bigint").alias("n_6h"),
        F.sum("n_err").over(fr).cast("bigint").alias("err_6h"),
    )
    # exact half-up integer ppm — round(int·1e6/int double) is the
    # boundary-divergent form (docs/OPERATIONS.md); the burn ratio then
    # divides an integer by 250000 (unit divides 1e6 — exact residual)
    r1 = ratio_scaled_int("n_err", "n").cast("bigint")
    r6 = ratio_scaled_int("err_6h", "n_6h").cast("bigint")
    return w.select(
        "hour",
        r1.alias("rate_1h_ppm"),
        r6.alias("rate_6h_ppm"),
        F.round(r1 / float(SLO_TARGET_PPM), 6).alias("burn_1h"),
        F.round(r6 / float(SLO_TARGET_PPM), 6).alias("burn_6h"),
        ((r1 > SLO_TARGET_PPM) & (r6 > SLO_TARGET_PPM)).alias("page"),
    )


# ---------------------------------------------------------------------------
# similarity_matryoshka_prefix_eval — prefix-dimension ranking fidelity
# ---------------------------------------------------------------------------

MATRYOSHKA_PREFIX = 16
MATRYOSHKA_K = 10


@query(
    "similarity_matryoshka_prefix_eval",
    oracle=f"""
    WITH eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv FROM eb WHERE vec_id % 50 = 0),
    c AS (SELECT vec_id, v FROM eb WHERE vec_id % 50 <> 0),
    full_d AS (SELECT q.q_id, c.vec_id,
                      round(list_dot_product(c.v, q.qv) /
                            (sqrt(list_dot_product(c.v, c.v)) *
                             sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
               FROM c CROSS JOIN q),
    full_r AS (SELECT q_id, vec_id FROM (
                 SELECT q_id, vec_id,
                        row_number() OVER (PARTITION BY q_id
                                           ORDER BY cosine DESC, vec_id) AS rk
                 FROM full_d) WHERE rk <= {MATRYOSHKA_K}),
    pre_d AS (SELECT q.q_id, c.vec_id,
                     round(list_dot_product(c.v[1:{MATRYOSHKA_PREFIX}],
                                            q.qv[1:{MATRYOSHKA_PREFIX}]) /
                           (sqrt(list_dot_product(c.v[1:{MATRYOSHKA_PREFIX}],
                                                  c.v[1:{MATRYOSHKA_PREFIX}])) *
                            sqrt(list_dot_product(q.qv[1:{MATRYOSHKA_PREFIX}],
                                                  q.qv[1:{MATRYOSHKA_PREFIX}]))), 6)
                         AS cosine
              FROM c CROSS JOIN q),
    pre_r AS (SELECT q_id, vec_id FROM (
                SELECT q_id, vec_id,
                       row_number() OVER (PARTITION BY q_id
                                          ORDER BY cosine DESC, vec_id) AS rk
                FROM pre_d) WHERE rk <= {MATRYOSHKA_K}),
    hits AS (SELECT f.q_id, count(*) AS n_overlap
             FROM full_r f JOIN pre_r p
               ON p.q_id = f.q_id AND p.vec_id = f.vec_id
             GROUP BY f.q_id)
    SELECT q.q_id,
           CAST(coalesce(h.n_overlap, 0) AS BIGINT) AS n_overlap,
           round(coalesce(h.n_overlap, 0) / {MATRYOSHKA_K}.0, 6)
               AS overlap_at_k
    FROM q LEFT JOIN hits h ON h.q_id = q.q_id
    """,
)
def similarity_matryoshka_prefix_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style prefix-dimension evaluation: top-{k} retrieval
    agreement between the full {d}-dim embedding and its first-{p}
    dimensions — the measurement behind 'can we search the short prefix
    and re-rank with the full vector?' (truncation cuts index memory
    and bandwidth ~{d}/{p}× if agreement holds; MRL-trained embeddings
    are built for exactly this, public technique).

    Same broadcast m×n + per-query-window shape as
    [[similarity_knn_join]], run at BOTH dimensionalities in one plan;
    the prefix is a slice() projection, so the short-dim pass reads no
    extra data.  Overlap joins the two top-k sets per query — k-sized
    per query, broadcast-friendly.  Companion to
    [[similarity_ann_recall_eval]] (bucket-pruning recall; this one
    measures dimension-pruning fidelity).
    """
    emb = _t(spark, sf_dir, "embeddings")
    eb = emb.select("vec_id", F.expr("transform(embedding, x -> CAST(x AS DOUBLE))").alias("v"))
    q = eb.where(F.col("vec_id") % 50 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    c = eb.where(F.col("vec_id") % 50 != 0)
    p = MATRYOSHKA_PREFIX

    def cos(a, b):
        d = F.aggregate(
            F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x
        )
        n = lambda vv: F.sqrt(  # noqa: E731
            F.aggregate(F.transform(vv, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x)
        )
        # try_divide: a zero-norm (or zero-norm PREFIX of a) vector has
        # NULL similarity, ordered last — matching DuckDB /0
        return F.round(F.try_divide(d, n(a) * n(b)), 6)

    def topk(scored):
        w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= MATRYOSHKA_K)
            .select("q_id", "vec_id")
        )

    joined = c.crossJoin(F.broadcast(q))
    full_r = topk(joined.select("q_id", "vec_id", cos(F.col("v"), F.col("qv")).alias("cosine")))
    pre_r = topk(
        joined.select(
            "q_id",
            "vec_id",
            cos(
                F.slice(F.col("v"), 1, p), F.slice(F.col("qv"), 1, p)
            ).alias("cosine"),
        )
    )
    hits = full_r.join(pre_r, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count("*").alias("n_overlap")
    )
    return (
        q.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n_overlap", F.lit(0)).cast("bigint").alias("n_overlap"),
            F.round(
                F.coalesce("n_overlap", F.lit(0)) / float(MATRYOSHKA_K), 6
            ).alias("overlap_at_k"),
        )
    )


similarity_matryoshka_prefix_eval.__doc__ = (
    similarity_matryoshka_prefix_eval.__doc__.format(
        k=MATRYOSHKA_K, p=MATRYOSHKA_PREFIX, d=64
    )
)


# ---------------------------------------------------------------------------
# sketch_bloom_fpr_eval — measured vs theoretical Bloom false-positive rate
# ---------------------------------------------------------------------------


@query(
    "sketch_bloom_fpr_eval",
    oracle=f"""
    WITH members AS (SELECT s_suppkey AS k FROM supplier
                     WHERE s_acctbal > {BLOOM_DIM_MIN_BAL}),
    bits AS (SELECT DISTINCT b FROM (
      SELECT unnest([
        {hash59_sql("'bf1' || CAST(k AS VARCHAR)")} % {BLOOM_BITS},
        {hash59_sql("'bf2' || CAST(k AS VARCHAR)")} % {BLOOM_BITS},
        {hash59_sql("'bf3' || CAST(k AS VARCHAR)")} % {BLOOM_BITS}]) AS b
      FROM members)),
    tests AS (SELECT DISTINCT l_suppkey AS k FROM lineitem
              WHERE l_suppkey NOT IN (SELECT k FROM members)),
    passed AS (SELECT k FROM tests
               WHERE ({hash59_sql("'bf1' || CAST(k AS VARCHAR)")} % {BLOOM_BITS})
                       IN (SELECT b FROM bits)
                 AND ({hash59_sql("'bf2' || CAST(k AS VARCHAR)")} % {BLOOM_BITS})
                       IN (SELECT b FROM bits)
                 AND ({hash59_sql("'bf3' || CAST(k AS VARCHAR)")} % {BLOOM_BITS})
                       IN (SELECT b FROM bits))
    SELECT CAST((SELECT count(*) FROM members) AS BIGINT) AS n_members,
           CAST((SELECT count(*) FROM tests) AS BIGINT) AS n_nonmembers,
           CAST((SELECT count(*) FROM passed) AS BIGINT) AS n_false_pos,
           {mean_quantized_sql(
               "(SELECT count(*) FROM passed)",
               "(SELECT count(*) FROM tests)")} AS fpr,
           round(pow(1 - exp(-3.0 * (SELECT count(*) FROM members)
                             / {BLOOM_BITS}), 3), 6) AS fpr_theory
    """,
)
def sketch_bloom_fpr_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Measured vs theoretical false-positive rate of the Bloom filter
    behind [[bloom_semi_join]]: every NON-member supplier key is tested
    against the bit set; the measured pass rate must sit near the
    classic (1 − e^(−kn/m))^k estimate — the calibration that tells an
    operator whether m={m} bits still fits the dim before the verify
    join starts eating the savings.  Same eval discipline as
    dedup_lsh_band_sweep / similarity_ann_recall_eval: approximate
    structures ship with their measured operating point.

    The bit set and both membership probes are identical expressions to
    the production join's; the test population is a distinct-key
    aggregate, so the whole eval costs two tiny aggregates + one
    broadcast membership check.
    """
    m = BLOOM_BITS
    members = (
        _t(spark, sf_dir, "supplier")
        .where(F.col("s_acctbal") > BLOOM_DIM_MIN_BAL)
        .select(F.col("s_suppkey").alias("k"))
    )
    pos_cols = [
        (hash59(F.concat(F.lit(s), F.col("k").cast("string"))) % m)
        for s in BLOOM_HASHES
    ]
    bloom = members.select(F.explode(F.array(*pos_cols)).alias("bit")).agg(
        F.array_sort(F.collect_set("bit")).alias("bits")
    )
    tests = (
        _t(spark, sf_dir, "lineitem")
        .select(F.col("l_suppkey").alias("k"))
        .distinct()
        .join(members, "k", "left_anti")
    )
    checks = [
        F.array_contains(
            F.col("bits"), hash59(F.concat(F.lit(s), F.col("k").cast("string"))) % m
        )
        for s in BLOOM_HASHES
    ]
    passed = tests.crossJoin(F.broadcast(bloom)).where(
        checks[0] & checks[1] & checks[2]
    )
    stats = (
        members.agg(F.count("*").alias("n_members"))
        .crossJoin(tests.agg(F.count("*").alias("n_nonmembers")))
        .crossJoin(passed.agg(F.count("*").alias("n_false_pos")))
    )
    k = float(len(BLOOM_HASHES))
    return stats.select(
        F.col("n_members").cast("bigint"),
        F.col("n_nonmembers").cast("bigint"),
        F.col("n_false_pos").cast("bigint"),
        # exact quantized count ratio; fpr_theory keeps round() — exp is
        # the documented irrational residual (docs/OPERATIONS.md)
        mean_quantized("n_false_pos", "n_nonmembers").alias("fpr"),
        F.round(
            F.pow(1 - F.exp(-k * F.col("n_members") / F.lit(float(m))), k), 6
        ).alias("fpr_theory"),
    )


# ---------------------------------------------------------------------------
# dq_column_profile — one-pass table profiling report
# ---------------------------------------------------------------------------


@query(
    "dq_column_profile",
    oracle=f"""
    WITH o AS (SELECT * FROM orders)
    SELECT 'o_custkey' AS col, CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(o_custkey) AS BIGINT) AS n_nonnull,
           CAST(count(DISTINCT o_custkey) AS BIGINT) AS n_distinct,
           CAST(min(o_custkey) AS VARCHAR) AS min_v,
           CAST(max(o_custkey) AS VARCHAR) AS max_v
    FROM o
    UNION ALL
    SELECT 'o_orderstatus', CAST(count(*) AS BIGINT),
           CAST(count(o_orderstatus) AS BIGINT),
           CAST(count(DISTINCT o_orderstatus) AS BIGINT),
           min(o_orderstatus), max(o_orderstatus)
    FROM o
    UNION ALL
    SELECT 'o_totalprice_cents', CAST(count(*) AS BIGINT),
           CAST(count(o_totalprice) AS BIGINT),
           CAST(count(DISTINCT {to_fixed_sql("o_totalprice", 100)}) AS BIGINT),
           CAST(min({to_fixed_sql("o_totalprice", 100)}) AS VARCHAR),
           CAST(max({to_fixed_sql("o_totalprice", 100)}) AS VARCHAR)
    FROM o
    UNION ALL
    SELECT 'o_orderpriority', CAST(count(*) AS BIGINT),
           CAST(count(o_orderpriority) AS BIGINT),
           CAST(count(DISTINCT o_orderpriority) AS BIGINT),
           min(o_orderpriority), max(o_orderpriority)
    FROM o
    """,
)
def dq_column_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-pass column profiling of the orders table: per column, row /
    non-null / distinct counts and min/max surfaced as canonical strings
    — the dbt-docs / Deequ-style profile every onboarding and
    contract-check pipeline runs before trusting a feed.  Complements
    [[dq_constraint_report]] (asserts) and [[dq_skew_profile]] (join
    keys): this one DESCRIBES.

    All four column profiles fold into ONE scan-side pass per column
    family (Catalyst merges the unioned aggregates over the shared
    scan); distinct counts are per-column partial aggregations.  Values
    canonicalize through the fixed-point ladder (cents, never float
    strings) so min/max text is engine-portable.  At 100 TB the exact
    distincts swap for HLL sketches per the mergeable-rollup contract.
    """
    o = _t(spark, sf_dir, "orders")

    def prof(col_name: str, expr, src):
        return src.agg(
            F.lit(col_name).alias("col"),
            F.count("*").alias("n_rows"),
            F.count(expr).alias("n_nonnull"),
            F.countDistinct(expr).cast("bigint").alias("n_distinct"),
            F.min(expr).cast("string").alias("min_v"),
            F.max(expr).cast("string").alias("max_v"),
        )

    cents = to_fixed("o_totalprice", 100)
    out = prof("o_custkey", F.col("o_custkey"), o)
    for name, e in [
        ("o_orderstatus", F.col("o_orderstatus")),
        ("o_totalprice_cents", cents),
        ("o_orderpriority", F.col("o_orderpriority")),
    ]:
        out = out.unionByName(prof(name, e, o))
    return out


# ---------------------------------------------------------------------------
# events_peak_concurrency — max simultaneous sessions via interval sweep
# ---------------------------------------------------------------------------

PEAK_SESSION_GAP_US = 1_800_000_000  # 30 min session gap


@query(
    "events_peak_concurrency",
    oracle=f"""
    WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events WHERE ts IS NOT NULL),
    g AS (SELECT user_id, us,
                 CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                           > {PEAK_SESSION_GAP_US}
                      OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                      THEN 1 ELSE 0 END AS new_s
          FROM e),
    s AS (SELECT user_id, us,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM g),
    iv AS (SELECT user_id, sid,
                  CAST(min(us) AS BIGINT) AS s_start,
                  CAST(max(us) AS BIGINT) AS s_end
           FROM s GROUP BY user_id, sid),
    deltas AS (SELECT s_start AS us, 1 AS d FROM iv
               UNION ALL SELECT s_end + 1, -1 FROM iv),
    sweep AS (SELECT us, CAST(sum(d) AS BIGINT) AS delta FROM deltas GROUP BY us),
    run AS (SELECT us,
                   CAST(sum(delta) OVER (ORDER BY us ROWS UNBOUNDED PRECEDING)
                        AS BIGINT) AS concurrent
            FROM sweep)
    SELECT CAST((SELECT count(*) FROM iv) AS BIGINT) AS n_sessions,
           CAST(max(concurrent) AS BIGINT) AS peak_concurrency,
           CAST(min(CASE WHEN concurrent = (SELECT max(concurrent) FROM run)
                         THEN us END) AS BIGINT) AS peak_at_us
    FROM run
    """,
)
def events_peak_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrent sessions — the capacity-planning number: sessions
    are 30-min-gap islands per user ([[window_session_agg]] semantics),
    swept as +1/−1 interval deltas with a running sum; the max of the
    running level is the peak, reported with its first occurrence time.

    Three shuffle stages, all combinable or grid-bounded: the per-user
    session window (one user-keyed shuffle), the delta aggregation
    (keyed by timestamp, ≤ 2 rows per session), and the running-sum
    window over DISTINCT delta timestamps — bounded by session-boundary
    cardinality, not event volume.  The quadratic alternative (count
    overlapping sessions per session) is exactly the theta join the
    sweep pattern exists to kill (interval_coverage_profile,
    orders_backlog_snapshot).
    """
    from .sources.tables import ts_us_expr

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    e = ev.select("user_id", ts_us_expr(ev).alias("us"))
    w = Window.partitionBy("user_id").orderBy("us")
    g = e.withColumn(
        "new_s",
        F.when(
            (F.col("us") - F.lag("us").over(w) > PEAK_SESSION_GAP_US)
            | F.lag("us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    s = g.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    iv = s.groupBy("user_id", "sid").agg(
        F.min("us").cast("bigint").alias("s_start"),
        F.max("us").cast("bigint").alias("s_end"),
    )
    deltas = iv.select(F.col("s_start").alias("us"), F.lit(1).alias("d")).unionByName(
        iv.select((F.col("s_end") + 1).alias("us"), F.lit(-1).alias("d"))
    )
    sweep = deltas.groupBy("us").agg(F.sum("d").cast("bigint").alias("delta"))
    # distributed prefix sum over the boundary-timestamp sweep: the
    # sweep relation is session-boundary-sized (grows with the corpus),
    # so a plain global-order window would funnel it through one
    # partition (round-5 global-window audit) — global_cumsum range-
    # partitions instead, identical values
    from .operators.windows import global_cumsum

    run = global_cumsum(sweep, ["us"], "delta", "concurrent").withColumn(
        "concurrent", F.col("concurrent").cast("bigint")
    )
    mx = run.agg(F.max("concurrent").alias("m"))
    peak = (
        run.crossJoin(F.broadcast(mx))
        .where(F.col("concurrent") == F.col("m"))
        .agg(
            F.max("m").cast("bigint").alias("peak_concurrency"),
            F.min("us").cast("bigint").alias("peak_at_us"),
        )
    )
    return (
        iv.agg(F.count("*").cast("bigint").alias("n_sessions"))
        .crossJoin(F.broadcast(peak))
        .select("n_sessions", "peak_concurrency", "peak_at_us")
    )


# ---------------------------------------------------------------------------
# sql_api_lateral_subquery — correlated LATERAL through the SQL front end
# ---------------------------------------------------------------------------


@query(
    "sql_api_lateral_subquery",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.cents, CAST(t.rk AS BIGINT) AS rk
    FROM customer c, LATERAL (
      SELECT o_orderkey,
             CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
             row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey) AS rk
      FROM orders WHERE o_custkey = c.c_custkey
      ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
    ) t
    WHERE c.c_custkey % 10 = 0
    """,
)
def sql_api_lateral_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery through the SQL front end: top-2
    orders per (sampled) customer written as the ANSI lateral join —
    the forEach-row-run-a-subquery surface ORMs and migration tools
    emit.  Catalyst DECORRELATES it into the same per-group window plan
    window_topk_per_group builds by hand (DecorrelateInnerQuery) — the
    contract pins that the sugar and the hand-built plan agree, on both
    engines' lateral evaluators.
    """
    from .sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.cents, CAST(t.rk AS BIGINT) AS rk
        FROM customer c, LATERAL (
          SELECT o_orderkey,
                 CAST(round(o_totalprice * 100) AS BIGINT) AS cents,
                 row_number() OVER (ORDER BY o_totalprice DESC, o_orderkey)
                     AS rk
          FROM orders WHERE o_custkey = c.c_custkey
          ORDER BY o_totalprice DESC, o_orderkey LIMIT 2
        ) t
        WHERE c.c_custkey % 10 = 0
        """
    )


# ---------------------------------------------------------------------------
# vector_pca_power_iteration — top principal direction via power iteration
# ---------------------------------------------------------------------------

PCA_ITERS = 3
PCA_V0_Q = 125_000_000  # 1/8 in 1e-9 fixed point: unit L2 norm for 64 dims
PCA_SCALE = 1_000_000_000


def _pca_oracle() -> str:
    from .registry import ORACLES

    gram = ORACLES["vector_gram_int8"]
    ctes = [
        f"gut AS ({gram})",
        """g AS (SELECT i, j, g FROM gut
             UNION ALL SELECT j AS i, i AS j, g FROM gut WHERE i < j)""",
        f"""v0 AS (SELECT i AS j, CAST({PCA_V0_Q} AS BIGINT) AS vq
              FROM (SELECT DISTINCT i FROM g))""",
    ]
    for r in range(1, PCA_ITERS + 1):
        ctes.append(f"""
    w{r} AS (SELECT g.i,
                    CAST(CAST(sum(CAST(g.g AS DECIMAL(38,0)) * v.vq)
                              AS DECIMAL(38,0)) AS DOUBLE)
                    / {PCA_SCALE}.0 AS wd
             FROM g JOIN v{r - 1} v ON v.j = g.j GROUP BY g.i),
    n{r} AS (SELECT sqrt(list_reduce(list(wd * wd ORDER BY i),
                                     (a, b) -> a + b)) AS nrm FROM w{r}),
    v{r} AS (SELECT w.i AS j,
                    CAST(round(w.wd / n.nrm * {PCA_SCALE}) AS BIGINT) AS vq
             FROM w{r} w, n{r} n)""")
    last = PCA_ITERS
    return (
        "WITH "
        + ", ".join(ctes)
        + f"""
    SELECT v.j AS dim,
           {mean_quantized_signed_sql("v.vq", str(PCA_SCALE))} AS loading,
           round(n.nrm, 6) AS eigenvalue
    FROM v{last} v, n{last} n"""
    )


@query("vector_pca_power_iteration", oracle=_pca_oracle())
def vector_pca_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top principal direction of the embedding corpus by POWER ITERATION
    ({r} rounds) on the exact-integer Gram matrix — distributed PCA the
    scale-correct way: the corpus-sized work is the one-pass k×k Gram
    ([[vector_gram_int8]], combinable integer sums); the iteration then
    runs on the k×k aggregate, so its cost is independent of corpus
    size.  This is the split (sufficient statistics distributed,
    solver on the aggregate) that classical distributed ML uses for
    PCA/linear regression/whitening.

    Determinism ladder for the iteration: matrix-vector products are
    exact — DECIMAL(38,0) sums of (integer gram entry × fixed-point
    vector component), since g·vq terms overflow BIGINT — and the only
    float reductions are the 64-term norm folds, executed in PINNED
    dimension order (sorted-array fold on both engines).  The vector
    re-quantizes to 1e-9 fixed point between rounds, so each round
    starts from identical integers.  Output: the unit loading vector
    and the Rayleigh eigenvalue estimate ‖Gv‖.
    """
    from .registry import QUERIES

    gut = QUERIES["vector_gram_int8"](spark, sf_dir)
    # EAGER checkpoint of the gram — the one corpus-sized relation
    # (round-12 128× attribution fix): each iteration's norm rides a
    # broadcast exchange, and Spark submits every broadcast job of the
    # final plan CONCURRENTLY at action start.  ReuseExchange dedups
    # the nrm_i exchanges across those jobs, but a LAZY localCheckpoint
    # is not an exchange — the concurrent jobs raced its first
    # materialization and each recomputed the full gram lineage
    # (3 × ~160 exec-s stages at 128×, zero shuffle, measured in
    # docs/SCALE_SWEEP.md r12; at sf0.1 the race is invisible because
    # the gram costs 0.8s).  Eager materialization before the loop
    # builds any broadcast closes the race; the r03 lazy-vs-eager
    # +0.9s concern priced only the sf0.1 double-execution, not the
    # 128× triple-execution.  The per-iteration w checkpoints stay
    # lazy — each is cheap once g is materialized.
    g = gut.unionByName(
        gut.where(F.col("i") < F.col("j")).select(
            F.col("j").alias("i"), F.col("i").alias("j"), "g"
        )
    ).transform(_ckpt_eager)
    v = g.select(F.col("i").alias("j")).distinct().select(
        "j", F.lit(PCA_V0_Q).cast("bigint").alias("vq")
    )
    nrm = None
    for _ in range(PCA_ITERS):
        w = (
            g.join(v, "j")
            .groupBy("i")
            .agg(
                (
                    F.sum(F.col("g").cast("decimal(38,0)") * F.col("vq"))
                    .cast("decimal(38,0)")
                    .cast("double")
                    / float(PCA_SCALE)
                ).alias("wd")
            )
            .transform(_ckpt_lazy)
        )
        nrm = w.agg(
            F.sqrt(
                F.aggregate(
                    F.transform(
                        F.array_sort(F.collect_list(F.struct("i", "wd"))),
                        lambda s: s.getField("wd") * s.getField("wd"),
                    ),
                    F.lit(0.0),
                    lambda acc, x: acc + x,
                )
            ).alias("nrm")
        )
        v = w.crossJoin(F.broadcast(nrm)).select(
            F.col("i").alias("j"),
            F.round(F.col("wd") / F.col("nrm") * PCA_SCALE)
            .cast("bigint")
            .alias("vq"),
        )
    return v.crossJoin(F.broadcast(nrm)).select(
        F.col("j").alias("dim"),
        mean_quantized_signed("vq", F.lit(PCA_SCALE)).alias("loading"),
        F.round(F.col("nrm"), 6).alias("eigenvalue"),
    )


vector_pca_power_iteration.__doc__ = vector_pca_power_iteration.__doc__.format(
    r=PCA_ITERS
)


# ---------------------------------------------------------------------------
# timeseries_forecast_backtest — rolling-origin baseline-forecast evaluation
# ---------------------------------------------------------------------------


@query(
    "timeseries_forecast_backtest",
    oracle=f"""
    WITH {daily_cents_sql(where="ts IS NOT NULL", name="y")},
    l AS (SELECT day, y,
                 lag(y, 1) OVER (ORDER BY day) AS naive,
                 lag(y, 7) OVER (ORDER BY day) AS snaive
          FROM g WHERE y IS NOT NULL),
    e AS (SELECT day, y, naive, snaive FROM l
          WHERE naive IS NOT NULL AND snaive IS NOT NULL)
    SELECT CAST(count(*) AS BIGINT) AS n_days,
           {mean_quantized_sql("sum(abs(y - naive))", "100 * count(*)")}
               AS mae_naive,
           {mean_quantized_sql("sum(abs(y - snaive))", "100 * count(*)")}
               AS mae_seasonal_naive,
           {mean_quantized_sql("sum(abs(y - snaive))", "sum(abs(y - naive))")}
               AS skill_vs_naive
    FROM e
    """,
)
def timeseries_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-origin backtest of the two baseline forecasters every
    model must beat: naive (yesterday's value) and seasonal-naive (same
    weekday last week), evaluated as MAE over every day with full
    history, plus the skill ratio (< 1 means weekly seasonality carries
    real signal — the go/no-go before fitting anything fancier, and the
    denominator M4/forecasting practice normalizes against).

    The backtest is two lag frames over the calendar-bounded daily
    grid and ONE aggregation of exact-integer absolute errors — no
    per-origin refitting loop, because baselines have no parameters;
    model forecasters slot their per-day predictions into the same
    error aggregation ([[timeseries_holt_forecast]] produces them).
    Floats appear only in the three final divisions.
    """
    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    # all-NULL days have no observation: dropped on both sides, like
    # timeseries_holt_forecast (a NULL day otherwise enters the lag
    # series at a different position per engine's NULL ordering)
    g = daily_cents(ev, name="y").where(F.col("y").isNotNull())
    w = Window.orderBy("day")
    l = g.select(
        "day",
        "y",
        F.lag("y", 1).over(w).alias("naive"),
        F.lag("y", 7).over(w).alias("snaive"),
    ).where(F.col("naive").isNotNull() & F.col("snaive").isNotNull())
    # all three published ratios are exact-integer s/n forms — quantized
    # lane, not float divisions (docs/OPERATIONS.md contract); the skill
    # ratio's denominator is a non-negative error sum (NULL when 0 in
    # both engines via the n > 0 guard)
    return l.agg(
        F.count("*").alias("n_days"),
        mean_quantized(
            F.sum(F.abs(F.col("y") - F.col("naive"))), F.count("*") * 100
        ).alias("mae_naive"),
        mean_quantized(
            F.sum(F.abs(F.col("y") - F.col("snaive"))), F.count("*") * 100
        ).alias("mae_seasonal_naive"),
        mean_quantized(
            F.sum(F.abs(F.col("y") - F.col("snaive"))),
            F.sum(F.abs(F.col("y") - F.col("naive"))),
        ).alias("skill_vs_naive"),
    )


# ---------------------------------------------------------------------------
# events_experiment_srm_check — sample-ratio-mismatch guardrail
# ---------------------------------------------------------------------------

SRM_CHI2_95 = 3.841459  # chi-square 1-df critical value at α=0.05


@query(
    "events_experiment_srm_check",
    oracle=f"""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    arms AS (SELECT user_id,
                    ({hash59_sql("'exp1' || CAST(user_id AS VARCHAR)")}) % 2 AS arm
             FROM u),
    c AS (SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b
          FROM arms)
    SELECT n_a, n_b,
           {mean_quantized_sql(
               "CAST(n_a - n_b AS HUGEINT) * (n_a - n_b)", "n_a + n_b"
           )} AS chi2,
           {mean_quantized_sql(
               "CAST(n_a - n_b AS HUGEINT) * (n_a - n_b)", "n_a + n_b"
           )} > {SRM_CHI2_95} AS srm_detected
    FROM c
    """,
)
def events_experiment_srm_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sample-ratio-mismatch guardrail for a 50/50 experiment: users are
    assigned to arms by the key-stable hash split every A/B system uses
    ([[corpus_split_assign]]'s md5-slot discipline), and the observed
    arm counts are chi-square-tested against the declared ratio — the
    FIRST check run on any experiment, because a mismatched ratio means
    the assignment or logging is broken and every downstream metric
    ([[stat_welch_ttest]]) is invalid.

    For 50/50 the 1-df statistic reduces to (n_a − n_b)²/(n_a + n_b) —
    pure integers until one division.  One distinct-user aggregate; the
    hash assignment is a projection.
    """
    u = _t(spark, sf_dir, "events").select("user_id").distinct()
    arm = (hash59(F.concat(F.lit("exp1"), F.col("user_id").cast("string"))) % 2).alias(
        "arm"
    )
    c = u.select(arm).agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
    )
    # square in the decimal lane: int64 would overflow past ~3e9 users
    chi2 = mean_quantized(
        (F.col("n_a") - F.col("n_b")).cast("decimal(38,0)")
        * (F.col("n_a") - F.col("n_b")),
        F.col("n_a") + F.col("n_b"),
    )
    return c.select(
        "n_a", "n_b", chi2.alias("chi2"), (chi2 > SRM_CHI2_95).alias("srm_detected")
    )


# ---------------------------------------------------------------------------
# scan_parquet_rowgroup_stats — storage-layout introspection as a query
# ---------------------------------------------------------------------------

# committed multi-row-group fixture: the contract is FOOTER-PARSER
# AGREEMENT on a pinned artifact (3 row groups x 3 columns), so the
# oracle can carry a literal path (oracle SQL cannot see sf_dir)
_RG_FIXTURE = __import__("os").path.join(
    __import__("os").path.dirname(__import__("os").path.abspath(__file__)),
    "..", "tests", "fixtures", "rowgroups.parquet",
)
_RG_FIXTURE = __import__("os").path.normpath(_RG_FIXTURE)


@query(
    "scan_parquet_rowgroup_stats",
    oracle=f"""
    SELECT CAST(row_group_id AS BIGINT) AS rg_id,
           path_in_schema AS col,
           CAST(num_values AS BIGINT) AS n_values,
           stats_min_value AS min_v,
           stats_max_value AS max_v
    FROM parquet_metadata('{_RG_FIXTURE}')
    """,
)
def scan_parquet_rowgroup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Parquet row-group statistics surfaced as a TABLE — the
    introspection behind every skipping decision this engine relies on
    (predicate pushdown prunes row groups by exactly these footer
    min/max values; the z-order evidence in tests/test_analytics.py
    reads them the same way).  Per (row group x column): value count
    and min/max, from a COMMITTED multi-row-group fixture — the
    contract pins that two independent footer parsers (pyarrow on the
    Spark side, DuckDB's parquet_metadata as the oracle) agree on the
    same bytes; it is deliberately sf-independent, like the other
    fixture-anchored scan contracts.

    Spark side: mapInPandas over the FILE LISTING (one row per file,
    never file contents) opens each footer with pyarrow — metadata-only
    I/O, a few KB per file regardless of data size, embarrassingly
    parallel over a 100 TB lake's file census.  Values surface as
    canonical strings (footers store typed stats; strings are
    engine-portable).
    """
    import pandas as pd

    files = spark.createDataFrame([(_RG_FIXTURE,)], "path string")

    def read_footers(batches):
        import pyarrow.parquet as pq

        for pdf in batches:
            out = []
            for p in pdf["path"]:
                md = pq.ParquetFile(p).metadata
                for rg in range(md.num_row_groups):
                    g = md.row_group(rg)
                    for ci in range(g.num_columns):
                        c = g.column(ci)
                        st = c.statistics
                        out.append(
                            (
                                rg,
                                c.path_in_schema,
                                c.num_values,
                                str(st.min),
                                str(st.max),
                            )
                        )
            yield pd.DataFrame(
                out, columns=["rg_id", "col", "n_values", "min_v", "max_v"]
            )

    return files.mapInPandas(
        read_footers,
        "rg_id bigint, col string, n_values bigint, min_v string, max_v string",
    )


# ---------------------------------------------------------------------------
# supplier_concentration_hhi — Herfindahl-Hirschman concentration index
# ---------------------------------------------------------------------------


@query(
    "supplier_concentration_hhi",
    oracle=f"""
    WITH r AS (SELECT l_suppkey,
                      CAST(sum({to_fixed_sql("l_extendedprice", 100)})
                           AS BIGINT) AS rev
               FROM lineitem GROUP BY l_suppkey),
    t AS (SELECT CAST(count(*) AS BIGINT) AS n_suppliers,
                 CAST(sum(rev) AS BIGINT) AS tot,
                 CAST(sum(CAST(rev AS DECIMAL(38,0)) * rev) AS DECIMAL(38,0))
                     AS sq
          FROM r)
    SELECT n_suppliers,
           CAST({ratio_scaled_int_sql(
               "sq", "CAST(tot AS HUGEINT) * tot", 10000)} AS BIGINT)
               AS hhi_points,
           {mean_quantized_sql("10000", "n_suppliers")} AS hhi_floor_points,
           CAST({ratio_scaled_int_sql(
               "sq", "CAST(tot AS HUGEINT) * tot", 10000)} AS BIGINT)
               > 2500 AS concentrated
    FROM t
    """,
)
def supplier_concentration_hhi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Herfindahl-Hirschman concentration of supplier revenue — the
    supply-risk / antitrust number: HHI = Σ share² in basis points
    (10000 = monopoly; > 2500 = 'highly concentrated' per the published
    DOJ/FTC banding), with the 1/n floor for context.

    Two combinable aggregations: per-supplier exact cents, then Σrev and
    Σrev² — the squares ride DECIMAL(38,0) (cents² overflows BIGINT),
    and the single float division happens on the one-row aggregate.
    The share vector itself never materializes: Σ(rev_i/tot)² =
    Σrev²/tot², so no per-row division and no fold-order float sums.
    Same family as [[stat_lorenz_gini]] (inequality) and
    [[abc_pareto_classification]] (banding); HHI is the square-weighted
    summary regulators actually quote.
    """
    r = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_suppkey")
        .agg(
            F.sum(to_fixed("l_extendedprice", 100))
            .cast("bigint")
            .alias("rev")
        )
    )
    t = r.agg(
        F.count("*").alias("n_suppliers"),
        F.sum("rev").cast("bigint").alias("tot"),
        F.sum(F.col("rev").cast("decimal(38,0)") * F.col("rev")).alias("sq"),
    )
    # exact half-up basis points on the DECIMAL lane — the 'single
    # float division' is gone entirely (docs/OPERATIONS.md contract)
    hhi = ratio_scaled_int(
        "sq", F.col("tot").cast("decimal(38,0)") * F.col("tot"), 10_000
    ).cast("bigint")
    return t.select(
        F.col("n_suppliers").cast("bigint"),
        hhi.alias("hhi_points"),
        mean_quantized(F.lit(10_000), "n_suppliers").alias("hhi_floor_points"),
        (hhi > 2500).alias("concentrated"),
    )


# ---------------------------------------------------------------------------
# stat_powerlaw_mle — power-law exponent fit for user activity
# ---------------------------------------------------------------------------

PL_XMIN = 5  # fit the tail: users with ≥ xmin events


@query(
    "stat_powerlaw_mle",
    oracle=f"""
    WITH u AS (SELECT user_id, CAST(count(*) AS BIGINT) AS k
               FROM events GROUP BY user_id),
    tail AS (SELECT k,
                    CAST(round(ln(CAST(k AS DOUBLE) / {PL_XMIN}) * 1000000000)
                         AS BIGINT) AS lnr_ns
             FROM u WHERE k >= {PL_XMIN}),
    s AS (SELECT CAST(count(*) AS BIGINT) AS n_tail,
                 CAST(sum(lnr_ns) AS BIGINT) AS sum_ln_ns
          FROM tail)
    SELECT n_tail,
           round(1.0 + n_tail / (sum_ln_ns / 1000000000.0), 6) AS alpha_mle,
           round((round(1.0 + n_tail / (sum_ln_ns / 1000000000.0), 6) - 1)
                 / sqrt(n_tail), 6) AS alpha_stderr
    FROM s
    """,
)
def stat_powerlaw_mle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Power-law exponent of per-user activity by the Hill/Clauset MLE
    (public estimator): α = 1 + n / Σ ln(k_i / x_min) over the tail
    (k ≥ {x}), with the asymptotic standard error (α−1)/√n — the
    heavy-tail check behind capacity planning and skew expectations
    (a fitted α < 2 means the top user dominates totals and every
    per-user shuffle needs the salting ladder).

    Pattern: one combinable per-user count, then the log-ratio terms
    quantized to 1e-9 fixed-point BIGINTs BEFORE the distributive sum —
    the corpus_unigram_logprob discipline, so the MLE input is exact
    under any fold order.  Complements [[stat_zipf_regression]] (rank
    regression over the top-k page); the MLE uses every tail point
    without materializing ranks.
    """
    u = _t(spark, sf_dir, "events").groupBy("user_id").agg(
        F.count("*").alias("k")
    )
    tail = u.where(F.col("k") >= PL_XMIN).select(
        F.round(
            F.log(F.col("k").cast("double") / PL_XMIN) * 1_000_000_000
        )
        .cast("bigint")
        .alias("lnr_ns")
    )
    s = tail.agg(
        F.count("*").alias("n_tail"),
        F.sum("lnr_ns").cast("bigint").alias("sum_ln_ns"),
    )
    alpha = F.round(
        1.0 + F.col("n_tail") / (F.col("sum_ln_ns") / 1_000_000_000.0), 6
    )
    return s.select(
        F.col("n_tail").cast("bigint"),
        alpha.alias("alpha_mle"),
        F.round((alpha - 1) / F.sqrt(F.col("n_tail")), 6).alias("alpha_stderr"),
    )


stat_powerlaw_mle.__doc__ = stat_powerlaw_mle.__doc__.format(x=PL_XMIN)


# ---------------------------------------------------------------------------
# corpus_mixture_temperature — temperature-scaled multilingual sampling
# ---------------------------------------------------------------------------

TEMP_ALPHA_NUM, TEMP_ALPHA_DEN = 1, 2  # α = 0.5: p_i^α re-weighting


@query(
    "corpus_mixture_temperature",
    oracle=f"""
    WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n FROM documents
               GROUP BY lang),
    t AS (SELECT lang, n, sqrt(CAST(n AS DOUBLE)) AS w FROM c),
    z AS (SELECT CAST(sum(n) AS BIGINT) AS tot,
                 list_reduce(list(w ORDER BY lang), (a, b) -> a + b) AS wsum
          FROM t)
    SELECT t.lang, t.n,
           {mean_quantized_sql("t.n", "z.tot")} AS p_natural,
           round(t.w / z.wsum, 6) AS p_temperature,
           CAST(round(t.w / z.wsum * z.tot) AS BIGINT) AS target_docs
    FROM t, z
    """,
)
def corpus_mixture_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled language mixture (α = {num}/{den}, i.e.
    p_i^α / Σ p_j^α — the multilingual re-balancing mBERT/XLM-R
    popularized, public technique): natural share, tempered share, and
    the per-language document TARGET a sampler should draw — tempering
    up-weights tail languages without the uniform target's overshoot
    ([[corpus_importance_resampling]] is the acceptance-sampling
    executor this table parameterizes).

    One combinable count per language; α = 1/2 makes the re-weighting
    an exact sqrt per GROUP (|langs| rows), and the only unpinned-order
    reduction — the Σ√n normalizer — is folded in PINNED lang order on
    both engines (list fold), not a distributive float sum.
    """
    c = _t(spark, sf_dir, "documents").groupBy("lang").agg(
        F.count("*").alias("n")
    )
    t = c.select("lang", "n", F.sqrt(F.col("n").cast("double")).alias("w"))
    z = t.agg(
        F.sum("n").cast("bigint").alias("tot"),
        F.aggregate(
            F.transform(
                F.array_sort(F.collect_list(F.struct("lang", "w"))),
                lambda s: s.getField("w"),
            ),
            F.lit(0.0),
            lambda acc, x: acc + x,
        ).alias("wsum"),
    )
    return t.crossJoin(F.broadcast(z)).select(
        "lang",
        "n",
        mean_quantized("n", "tot").alias("p_natural"),
        F.round(F.col("w") / F.col("wsum"), 6).alias("p_temperature"),
        F.round(F.col("w") / F.col("wsum") * F.col("tot"))
        .cast("bigint")
        .alias("target_docs"),
    )


corpus_mixture_temperature.__doc__ = corpus_mixture_temperature.__doc__.format(
    num=TEMP_ALPHA_NUM, den=TEMP_ALPHA_DEN
)


# ---------------------------------------------------------------------------
# stat_two_proportion_ztest — conversion-rate experiment readout
# ---------------------------------------------------------------------------


@query(
    "stat_two_proportion_ztest",
    oracle=f"""
    WITH u AS (SELECT user_id,
                      ({hash59_sql("'exp1' || CAST(user_id AS VARCHAR)")}) % 2
                          AS arm,
                      CASE WHEN sum(CASE WHEN event_type = 'purchase'
                                         THEN 1 ELSE 0 END) >= 14
                           THEN 1 ELSE 0 END AS converted
               FROM events GROUP BY user_id),
    c AS (SELECT CAST(sum(CASE WHEN arm = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(sum(CASE WHEN arm = 0 THEN converted ELSE 0 END) AS BIGINT)
                     AS x_a,
                 CAST(sum(CASE WHEN arm = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                 CAST(sum(CASE WHEN arm = 1 THEN converted ELSE 0 END) AS BIGINT)
                     AS x_b
          FROM u)
    SELECT n_a, x_a, n_b, x_b,
           {mean_quantized_sql("x_a", "n_a")} AS rate_a,
           {mean_quantized_sql("x_b", "n_b")} AS rate_b,
           round((CAST(x_a AS DOUBLE) / n_a - CAST(x_b AS DOUBLE) / n_b)
                 / sqrt((CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                        * (1 - CAST(x_a + x_b AS DOUBLE) / (n_a + n_b))
                        * (1.0 / n_a + 1.0 / n_b)), 6) AS z_stat
    FROM c
    """,
)
def stat_two_proportion_ztest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-proportion z-test on per-user conversion between the same
    hash-split arms as [[events_experiment_srm_check]] — the RATE
    readout (did arm A convert more users?), complementing the MEAN
    readout ([[stat_welch_ttest_ab]]): conversion experiments are
    binomial, and the pooled-variance z statistic is their standard
    test.

    One per-user aggregation (conversion = the user's purchase count
    reaching a declared threshold — combinable; a has-any-purchase
    definition saturates at 100% on this corpus and degenerates the
    pooled variance to zero), one 4-counter rollup; the z formula runs once on the
    single-row frame from exact integers.  A user's arm is a pure
    projection of their id, so the whole readout is rerun-stable.
    """
    u = (
        _t(spark, sf_dir, "events")
        .groupBy("user_id")
        .agg(
            F.when(
                F.sum(
                    F.when(F.col("event_type") == "purchase", 1).otherwise(0)
                )
                >= 14,
                1,
            )
            .otherwise(0)
            .alias("converted")
        )
        .select(
            (
                hash59(F.concat(F.lit("exp1"), F.col("user_id").cast("string"))) % 2
            ).alias("arm"),
            "converted",
        )
    )
    c = u.agg(
        F.sum(F.when(F.col("arm") == 0, 1).otherwise(0)).cast("bigint").alias("n_a"),
        F.sum(F.when(F.col("arm") == 0, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("x_a"),
        F.sum(F.when(F.col("arm") == 1, 1).otherwise(0)).cast("bigint").alias("n_b"),
        F.sum(F.when(F.col("arm") == 1, F.col("converted")).otherwise(0))
        .cast("bigint")
        .alias("x_b"),
    )
    # try_divide: an empty arm (n=0) or zero-variance pool makes z
    # undefined — NULL, matching DuckDB /0 (hostile-fixture find)
    ra = F.try_divide(F.col("x_a").cast("double"), F.col("n_a"))
    rb = F.try_divide(F.col("x_b").cast("double"), F.col("n_b"))
    pool = F.try_divide(
        (F.col("x_a") + F.col("x_b")).cast("double"),
        F.col("n_a") + F.col("n_b"),
    )
    z = F.try_divide(
        ra - rb,
        F.sqrt(
            pool
            * (1 - pool)
            * (F.try_divide(F.lit(1.0), F.col("n_a"))
               + F.try_divide(F.lit(1.0), F.col("n_b")))
        ),
    )
    return c.select(
        "n_a",
        "x_a",
        "n_b",
        "x_b",
        mean_quantized("x_a", "n_a").alias("rate_a"),
        mean_quantized("x_b", "n_b").alias("rate_b"),
        F.round(z, 6).alias("z_stat"),
    )


# ---------------------------------------------------------------------------
# orders_vwap_daily — volume-weighted average price per part family
# ---------------------------------------------------------------------------


@query(
    "orders_vwap_daily",
    oracle=f"""
    WITH l AS (SELECT epoch_us(l_shipdate) // 86400000000 AS day,
                      l_returnflag,
                      {to_fixed_sql("l_extendedprice", 100)} AS rev_cents,
                      {to_fixed_sql("l_quantity", 100)} AS qty_c
               FROM lineitem)
    SELECT day, l_returnflag,
           CAST(sum(qty_c) AS BIGINT) AS qty_centi,
           CAST(sum(rev_cents) AS BIGINT) AS rev_cents,
           CAST((sum(rev_cents) * 1000000 + sum(qty_c) // 2) // sum(qty_c)
                AS BIGINT) AS vwap_micro
    FROM l GROUP BY day, l_returnflag
    """,
)
def orders_vwap_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily volume-weighted average price per return-flag segment —
    VWAP, the execution-quality benchmark: Σ(price·qty)/Σqty, where a
    plain average-of-prices would weight a 1-unit line equal to a
    50-unit line.

    ONE combinable aggregation: revenue and quantity accumulate as
    exact integer cents/centi-units (already price×qty per line in
    l_extendedprice) and the final per-row division is pure BIGINT with
    explicit half-up rounding to micro-units — the textbook
    ratio-of-sums vs sum-of-ratios distinction, taken all the way down
    the integer ladder (a float quotient can land on a half-ulp .5
    boundary where engines' round() legitimately disagree).
    """
    l = _t(spark, sf_dir, "lineitem").select(
        F.expr("CAST(unix_date(CAST(l_shipdate AS DATE)) AS BIGINT)").alias(
            "day"
        ),
        "l_returnflag",
        to_fixed("l_extendedprice", 100).alias("rev_cents"),
        to_fixed("l_quantity", 100).alias("qty_c"),
    )
    return l.groupBy("day", "l_returnflag").agg(
        F.sum("qty_c").cast("bigint").alias("qty_centi"),
        F.sum("rev_cents").cast("bigint").alias("rev_cents"),
        # pure-BIGINT rounded division: (a*1e6 + b/2) DIV b — a float
        # quotient landed on a half-ulp .5 boundary at sf0.001 and the
        # engines' round() disagreed by 1e-6; integer arithmetic cannot
        F.expr(
            "CAST((sum(rev_cents) * 1000000 + sum(qty_c) DIV 2)"
            " DIV sum(qty_c) AS BIGINT)"
        ).alias("vwap_micro"),
    )


# ---------------------------------------------------------------------------
# orders_revenue_bridge — period-over-period price/volume decomposition
# ---------------------------------------------------------------------------


@query(
    "orders_revenue_bridge",
    oracle=f"""
    WITH l AS (SELECT l_partkey,
                      epoch_us(l_shipdate) // 86400000000 // 30 AS period,
                      {to_fixed_sql("l_extendedprice", 100)} AS rev,
                      {to_fixed_sql("l_quantity", 100)} AS qty
               FROM lineitem),
    b AS (SELECT period, min(period) OVER () AS p1, max(period) OVER () AS p2
          FROM l),
    g AS (SELECT l_partkey, period,
                 CAST(sum(rev) AS BIGINT) AS rev, CAST(sum(qty) AS BIGINT) AS qty
          FROM l WHERE period IN (SELECT min(period) FROM l)
                    OR period IN (SELECT max(period) FROM l)
          GROUP BY l_partkey, period),
    p1 AS (SELECT l_partkey, rev AS rev1, qty AS qty1 FROM g
           WHERE period = (SELECT min(period) FROM l)),
    p2 AS (SELECT l_partkey, rev AS rev2, qty AS qty2 FROM g
           WHERE period = (SELECT max(period) FROM l)),
    j AS (SELECT coalesce(p1.l_partkey, p2.l_partkey) AS l_partkey,
                 p1.rev1, p1.qty1, p2.rev2, p2.qty2
          FROM p1 FULL OUTER JOIN p2 ON p1.l_partkey = p2.l_partkey),
    eff AS (SELECT
      CAST(sum(CASE WHEN rev1 IS NOT NULL AND rev2 IS NOT NULL
                    THEN CAST({ratio_scaled_int_signed_sql(
                        "CAST(rev1 AS HUGEINT) * (qty2 - qty1)", "qty1", 1)}
                              AS BIGINT) ELSE 0 END) AS BIGINT) AS volume_effect,
      CAST(sum(CASE WHEN rev1 IS NOT NULL AND rev2 IS NOT NULL
                    THEN rev2 - rev1
                         - CAST({ratio_scaled_int_signed_sql(
                             "CAST(rev1 AS HUGEINT) * (qty2 - qty1)", "qty1", 1)}
                                AS BIGINT) ELSE 0 END) AS BIGINT) AS price_mix_effect,
      CAST(sum(CASE WHEN rev1 IS NULL THEN rev2 ELSE 0 END) AS BIGINT)
          AS new_parts_effect,
      CAST(sum(CASE WHEN rev2 IS NULL THEN -rev1 ELSE 0 END) AS BIGINT)
          AS discontinued_effect,
      CAST(sum(coalesce(rev1, 0)) AS BIGINT) AS rev_p1,
      CAST(sum(coalesce(rev2, 0)) AS BIGINT) AS rev_p2
      FROM j)
    SELECT rev_p1, rev_p2,
           CAST(rev_p2 - rev_p1 AS BIGINT) AS delta,
           volume_effect, price_mix_effect, new_parts_effect,
           discontinued_effect
    FROM eff
    """,
)
def orders_revenue_bridge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue bridge (waterfall) between the first and last 30-day
    period: the period-over-period delta decomposed into VOLUME effect
    (quantity change at old realized price), PRICE/MIX effect (the
    remainder on continuing parts), NEW-part and DISCONTINUED-part
    effects — the finance explanation of 'why did revenue move', and
    by construction the four effects sum EXACTLY to the delta (price/
    mix is defined as the residual on continuing parts, so rounding
    cannot leak).

    Per-part period aggregates (one combinable shuffle), a full-outer
    self-alignment on part, and one rollup.  Cents stay integers; the
    only float is the volume-effect ratio rev1·Δqty/qty1, rounded to
    cents per part BEFORE the distributive sum.
    """
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr(
            "CAST(unix_date(CAST(l_shipdate AS DATE)) AS BIGINT) DIV 30"
        ).alias("period"),
        to_fixed("l_extendedprice", 100).alias("rev"),
        to_fixed("l_quantity", 100).alias("qty"),
    )
    bounds = l.agg(F.min("period").alias("p1"), F.max("period").alias("p2"))
    lb = l.crossJoin(F.broadcast(bounds))
    g = (
        lb.where((F.col("period") == F.col("p1")) | (F.col("period") == F.col("p2")))
        .groupBy("l_partkey", "period", "p1", "p2")
        .agg(F.sum("rev").cast("bigint").alias("rev"), F.sum("qty").cast("bigint").alias("qty"))
    )
    a = g.where(F.col("period") == F.col("p1")).select(
        "l_partkey", F.col("rev").alias("rev1"), F.col("qty").alias("qty1")
    )
    b = g.where(F.col("period") == F.col("p2")).select(
        F.col("l_partkey").alias("pk2"), F.col("rev").alias("rev2"), F.col("qty").alias("qty2")
    )
    j = a.join(b, a.l_partkey == b.pk2, "full_outer")
    both = F.col("rev1").isNotNull() & F.col("rev2").isNotNull()
    # exact half-away volume effect on the DECIMAL lane (signed Δqty,
    # qty1 > 0) — round(double-ratio) was the boundary-divergent form;
    # pre-cast rev1 so the cents·Δqty product can't overflow BIGINT
    vol = ratio_scaled_int_signed(
        F.col("rev1").cast("decimal(38,0)") * (F.col("qty2") - F.col("qty1")),
        "qty1",
        1,
    ).cast("bigint")
    eff = j.agg(
        F.sum(F.when(both, vol).otherwise(0)).cast("bigint").alias("volume_effect"),
        F.sum(F.when(both, F.col("rev2") - F.col("rev1") - vol).otherwise(0))
        .cast("bigint")
        .alias("price_mix_effect"),
        F.sum(F.when(F.col("rev1").isNull(), F.col("rev2")).otherwise(0))
        .cast("bigint")
        .alias("new_parts_effect"),
        F.sum(F.when(F.col("rev2").isNull(), -F.col("rev1")).otherwise(0))
        .cast("bigint")
        .alias("discontinued_effect"),
        F.sum(F.coalesce("rev1", F.lit(0))).cast("bigint").alias("rev_p1"),
        F.sum(F.coalesce("rev2", F.lit(0))).cast("bigint").alias("rev_p2"),
    )
    return eff.select(
        "rev_p1",
        "rev_p2",
        (F.col("rev_p2") - F.col("rev_p1")).cast("bigint").alias("delta"),
        "volume_effect",
        "price_mix_effect",
        "new_parts_effect",
        "discontinued_effect",
    )


# ---------------------------------------------------------------------------
# corpus_packing_efficiency — fill-rate audit of the sequence packer
# ---------------------------------------------------------------------------


def _packing_eff_oracle() -> str:
    from .registry import ORACLES

    packing = ORACLES["corpus_seq_packing"]
    from .registry_corpus import _PACK_CAP

    return f"""
    WITH bins AS ({packing})
    SELECT CAST(count(*) AS BIGINT) AS n_bins,
           CAST(sum(total_tokens) AS BIGINT) AS total_tokens,
           CAST(sum(n_docs) AS BIGINT) AS n_docs,
           {mean_quantized_sql(
               "sum(total_tokens)", f"count(*) * {_PACK_CAP}"
           )} AS fill_rate,
           CAST(sum(CASE WHEN total_tokens < {_PACK_CAP} / 2 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_underfilled
    FROM bins
    """


@query("corpus_packing_efficiency", oracle=_packing_eff_oracle())
def corpus_packing_efficiency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-rate audit of the sequence packer ([[corpus_seq_packing]]):
    bins, packed tokens, overall fill rate against the bin capacity, and
    the count of under-half-full bins — the padding-waste number that
    decides whether the packing strategy (or the shard grain) needs
    changing: every unfilled token position is paid GPU time at
    training.  One extra one-row rollup on top of the registered
    packing plan, composed from the same spec (identifier-shadowing CTE
    reuse, the corpus_pipeline_e2e discipline).
    """
    from .registry import QUERIES
    from .registry_corpus import _PACK_CAP

    bins = QUERIES["corpus_seq_packing"](spark, sf_dir)
    return bins.agg(
        F.count("*").alias("n_bins"),
        F.sum("total_tokens").cast("bigint").alias("total_tokens"),
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        # exact quantized token/capacity ratio (docs/OPERATIONS.md)
        mean_quantized(
            F.sum("total_tokens"), F.count("*") * _PACK_CAP
        ).alias("fill_rate"),
        F.sum(F.when(F.col("total_tokens") < _PACK_CAP / 2, 1).otherwise(0))
        .cast("bigint")
        .alias("n_underfilled"),
    )


# ---------------------------------------------------------------------------
# text_hapax_rate — vocabulary richness per source
# ---------------------------------------------------------------------------


@query(
    "text_hapax_rate",
    oracle=f"""
    WITH toks AS (SELECT source,
                         unnest({tokens_sql()})
                             AS tok
                  FROM documents),
    tc AS (SELECT source, tok, CAST(count(*) AS BIGINT) AS n
           FROM toks WHERE tok <> '' GROUP BY source, tok)
    SELECT source,
           CAST(sum(n) AS BIGINT) AS n_tokens,
           CAST(count(*) AS BIGINT) AS n_types,
           CAST(sum(CASE WHEN n = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_hapax,
           {mean_quantized_sql("count(*)", "sum(n)")} AS type_token_ratio,
           {mean_quantized_sql(
               "sum(CASE WHEN n = 1 THEN 1 ELSE 0 END)", "count(*)"
           )} AS hapax_share
    FROM tc GROUP BY source
    """,
)
def text_hapax_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary richness per source: type/token ratio and the share of
    hapax legomena (once-occurring types) — the corpus-health signals
    that flag both template spam (TTR collapses: few types repeated) and
    OCR/gibberish noise (hapax share explodes: every error is a new
    type).  Rounds out the vocabulary battery
    ([[corpus_vocab_coverage]] head mass, [[corpus_token_entropy]]
    per-doc, this one per-source tail shape).

    Two combinable aggregations on (source, token) then (source) — the
    hapax count is a conditional sum over per-type counts, so nothing
    materializes per token occurrence past the first rollup.
    """
    from .extensions.text import tokens

    d = _t(spark, sf_dir, "documents")
    toks = d.select(
        "source", F.explode(tokens("text")).alias("tok")
    ).where(F.col("tok") != "")
    tc = toks.groupBy("source", "tok").agg(F.count("*").alias("n"))
    return tc.groupBy("source").agg(
        F.sum("n").cast("bigint").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_hapax"),
        mean_quantized(F.count("*"), F.sum("n")).alias("type_token_ratio"),
        mean_quantized(
            F.sum(F.when(F.col("n") == 1, 1).otherwise(0)), F.count("*")
        ).alias("hapax_share"),
    )


# ---------------------------------------------------------------------------
# events_apdex_score — Apdex satisfaction index per event type
# ---------------------------------------------------------------------------

APDEX_T_CENTS = 2_500  # "satisfied" threshold on value (proxy latency)


@query(
    "events_apdex_score",
    oracle=f"""
    WITH e AS (SELECT event_type,
                      {to_fixed_sql("value", 100)} AS cents
               FROM events)
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n,
           CAST(sum(CASE WHEN cents <= {APDEX_T_CENTS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_satisfied,
           CAST(sum(CASE WHEN cents > {APDEX_T_CENTS}
                          AND cents <= {4 * APDEX_T_CENTS} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_tolerating,
           {mean_quantized_sql(
               f"2 * sum(CASE WHEN cents <= {APDEX_T_CENTS} THEN 1 ELSE 0 END)"
               f" + sum(CASE WHEN cents > {APDEX_T_CENTS}"
               f" AND cents <= {4 * APDEX_T_CENTS} THEN 1 ELSE 0 END)",
               "2 * count(*)",
           )} AS apdex
    FROM e GROUP BY event_type
    """,
)
def events_apdex_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Apdex (Application Performance Index, public industry standard):
    (satisfied + tolerating/2) / total per event type, with the
    tolerating band at the conventional [T, 4T] — the single-number
    UX summary that a bare mean latency misrepresents (one 60 s outlier
    moves a mean; it moves Apdex by 1/n).

    One conditional aggregation; thresholds compare integer cents, the
    half-weight division happens once per output row.  Companion to
    the percentile SLO views ([[agg_percentiles]],
    [[events_slo_burn_rate]]) — Apdex is what lands on the exec
    dashboard, burn rate is what pages.
    """
    e = _t(spark, sf_dir, "events").select(
        "event_type",
        to_fixed("value", 100).alias("cents"),
    )
    t = APDEX_T_CENTS
    sat = F.sum(F.when(F.col("cents") <= t, 1).otherwise(0))
    tol = F.sum(
        F.when((F.col("cents") > t) & (F.col("cents") <= 4 * t), 1).otherwise(0)
    )
    return e.groupBy("event_type").agg(
        F.count("*").alias("n"),
        sat.cast("bigint").alias("n_satisfied"),
        tol.cast("bigint").alias("n_tolerating"),
        mean_quantized(sat * 2 + tol, F.count("*") * 2).alias("apdex"),
    )


# ---------------------------------------------------------------------------
# graph_assortativity — degree assortativity of the bulk co-order graph
# ---------------------------------------------------------------------------


@query(
    "graph_assortativity",
    oracle=f"""
    WITH {_BULK_EDGES_CTES},
    deg AS (SELECT src AS node, CAST(count(*) AS BIGINT) AS d
            FROM edges GROUP BY src),
    ed AS (SELECT da.d AS x, db.d AS y
           FROM edges e
           JOIN deg da ON da.node = e.src
           JOIN deg db ON db.node = e.dst),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(x) AS BIGINT) AS sx,
                 CAST(sum(y) AS BIGINT) AS sy,
                 CAST(sum(x * y) AS BIGINT) AS sxy,
                 CAST(sum(x * x) AS BIGINT) AS sxx,
                 CAST(sum(y * y) AS BIGINT) AS syy
          FROM ed)
    SELECT n AS n_directed_edges,
           round((CAST(n AS DOUBLE) * sxy - CAST(sx AS DOUBLE) * sy)
                 / (sqrt(CAST(n AS DOUBLE) * sxx - CAST(sx AS DOUBLE) * sx)
                    * sqrt(CAST(n AS DOUBLE) * syy - CAST(sy AS DOUBLE) * sy)),
                 6) AS assortativity
    FROM m
    """,
)
def graph_assortativity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Degree assortativity (Newman's r, public measure) of the bulk
    co-order part graph: the Pearson correlation of endpoint degrees
    over all directed edges — positive means hubs prefer hubs (social-
    style), negative means hub-and-spoke (infrastructure-style).  The
    number decides which graph-algorithm hazards apply: disassortative
    graphs concentrate wedge volume on hubs (why graph_common_neighbors
    caps them), assortative ones deepen communities (why
    [[graph_label_propagation]] needs more rounds).

    One degree aggregation, two edge⋈degree joins (co-partitioned on
    node), and a single five-moment rollup — all BIGINT until the one
    closing Pearson formula.  Both edge directions are present, so x/y
    marginals are symmetric, matching the undirected definition.
    """
    edges = both_ways(copart_pairs(spark, sf_dir, BFS_BULK))
    deg = edges.groupBy(F.col("src").alias("node")).agg(
        F.count("*").cast("bigint").alias("d")
    )
    ed = (
        edges.join(deg.select(F.col("node").alias("src"), F.col("d").alias("x")), "src")
        .join(deg.select(F.col("node").alias("dst"), F.col("d").alias("y")), "dst")
        .select("x", "y")
    )
    m = ed.agg(
        F.count("*").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    num = F.col("n").cast("double") * F.col("sxy") - F.col("sx").cast("double") * F.col(
        "sy"
    )
    dx = F.sqrt(
        F.col("n").cast("double") * F.col("sxx")
        - F.col("sx").cast("double") * F.col("sx")
    )
    dy = F.sqrt(
        F.col("n").cast("double") * F.col("syy")
        - F.col("sy").cast("double") * F.col("sy")
    )
    return m.select(
        F.col("n").alias("n_directed_edges"),
        F.round(num / (dx * dy), 6).alias("assortativity"),
    )


# ---------------------------------------------------------------------------
# stat_spearman_rank_corr — rank correlation with tie midranks
# ---------------------------------------------------------------------------


@query(
    "stat_spearman_rank_corr",
    oracle=f"""
    WITH l AS (SELECT {to_fixed_sql("l_quantity", 100)} AS q,
                      {to_fixed_sql("l_discount", 10000)} AS d
               FROM lineitem),
    rq AS (SELECT q, avg(rn) AS r FROM (
             SELECT q, row_number() OVER (ORDER BY q) AS rn FROM l) GROUP BY q),
    rd AS (SELECT d, avg(rn) AS r FROM (
             SELECT d, row_number() OVER (ORDER BY d) AS rn FROM l) GROUP BY d),
    x AS (SELECT rq.r AS rx, rd.r AS ry
          FROM l JOIN rq USING (q) JOIN rd USING (d)),
    m AS (SELECT CAST(count(*) AS BIGINT) AS n,
                 sum(rx) AS sx, sum(ry) AS sy,
                 sum(rx * ry) AS sxy, sum(rx * rx) AS sxx, sum(ry * ry) AS syy
          FROM x)
    SELECT n,
           round((n * sxy - sx * sy)
                 / (sqrt(n * sxx - sx * sx) * sqrt(n * syy - sy * sy)), 6)
               AS spearman_rho
    FROM m
    """,
)
def stat_spearman_rank_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between quantity and discount — the
    monotone-association measure that Pearson ([[agg_stats_battery]])
    misses when the relationship is nonlinear: ρ = Pearson over MIDRANKS
    (tied values share the mean of their rank range, the standard tie
    treatment).

    Midranks come per DISTINCT value, not per row: row_number over the
    distinct grid then avg per value — so ranking cost is bounded by
    value cardinality (integer cents/basis points quantization keeps it
    finite), the stat_ks_two_sample grid acceptance, and the join back
    to rows is an equi-join on the value.  Midranks are exact .0/.5
    halves (average of consecutive integers), so the moment sums are
    exact in doubles up to 2^53 — fold-order-safe at this scale, with
    the DECIMAL ladder as the declared growth path.
    """
    l = _t(spark, sf_dir, "lineitem").select(
        to_fixed("l_quantity", 100).alias("q"),
        to_fixed("l_discount", 10000).alias("d"),
    )

    def midranks(col):
        # midrank of a tied block = (#rows strictly below) + (c+1)/2 —
        # algebraically the avg of the block's row_numbers, but computed
        # from the VALUE HISTOGRAM: the prefix window runs over distinct
        # values (grid-bounded), never over fact rows.  The previous
        # row_number-over-all-rows form single-partition-sorted the fact
        # table (round-5 global-window audit).  Both terms are exact:
        # integer prefix count + an exact .0/.5 half.
        h = l.groupBy(col).agg(F.count("*").alias("c"))
        wcum = Window.orderBy(col).rowsBetween(Window.unboundedPreceding, -1)
        below = F.coalesce(F.sum("c").over(wcum), F.lit(0)).cast("double")
        return h.select(
            col, (below + (F.col("c") + 1) / 2).alias("r")
        )

    rq = midranks("q").select("q", F.col("r").alias("rx"))
    rd = midranks("d").select("d", F.col("r").alias("ry"))
    x = l.join(rq, "q").join(rd, "d").select("rx", "ry")
    m = x.agg(
        F.count("*").alias("n"),
        F.sum("rx").alias("sx"),
        F.sum("ry").alias("sy"),
        F.sum(F.col("rx") * F.col("ry")).alias("sxy"),
        F.sum(F.col("rx") * F.col("rx")).alias("sxx"),
        F.sum(F.col("ry") * F.col("ry")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")) * F.sqrt(
        F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")
    )
    return m.select(
        F.col("n").cast("bigint").alias("n"),
        F.round(num / den, 6).alias("spearman_rho"),
    )


# ---------------------------------------------------------------------------
# orders_abc_xyz_matrix — value × variability inventory classification
# ---------------------------------------------------------------------------


@query(
    "orders_abc_xyz_matrix",
    oracle=f"""
    WITH l AS (SELECT l_partkey,
                      epoch_us(l_shipdate) // 86400000000 // 7 AS wk,
                      {to_fixed_sql("l_extendedprice", 100)} AS rev,
                      {to_fixed_sql("l_quantity", 100)} AS qty
               FROM lineitem),
    pw AS (SELECT l_partkey, wk,
                  CAST(sum(rev) AS BIGINT) AS rev,
                  CAST(sum(qty) AS BIGINT) AS qty
           FROM l GROUP BY l_partkey, wk),
    p AS (SELECT l_partkey,
                 CAST(sum(rev) AS BIGINT) AS rev,
                 CAST(count(*) AS BIGINT) AS n_wk,
                 CAST(sum(qty) AS BIGINT) AS sq,
                 CAST(sum(qty * qty) AS BIGINT) AS sq2
          FROM pw GROUP BY l_partkey),
    r AS (SELECT l_partkey, rev, n_wk, sq, sq2,
                 sum(rev) OVER (ORDER BY rev DESC, l_partkey
                                ROWS UNBOUNDED PRECEDING) AS cum,
                 sum(rev) OVER () AS tot
          FROM p),
    cls AS (SELECT l_partkey,
                   CASE WHEN cum * 100 <= tot * 80 THEN 'A'
                        WHEN cum * 100 <= tot * 95 THEN 'B'
                        ELSE 'C' END AS abc,
                   CASE WHEN n_wk < 3 THEN 'Z'
                        WHEN CAST(round(
                               sqrt(greatest((CAST(sq2 AS DOUBLE)
                                              - CAST(sq AS DOUBLE) * sq / n_wk)
                                             / n_wk, 0))
                               / (CAST(sq AS DOUBLE) / n_wk) * 1000000)
                             AS BIGINT) < 500000 THEN 'X'
                        WHEN CAST(round(
                               sqrt(greatest((CAST(sq2 AS DOUBLE)
                                              - CAST(sq AS DOUBLE) * sq / n_wk)
                                             / n_wk, 0))
                               / (CAST(sq AS DOUBLE) / n_wk) * 1000000)
                             AS BIGINT) < 1000000 THEN 'Y'
                        ELSE 'Z' END AS xyz
            FROM r)
    SELECT abc, xyz, CAST(count(*) AS BIGINT) AS n_parts
    FROM cls GROUP BY abc, xyz
    """,
)
def orders_abc_xyz_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC×XYZ inventory classification matrix — the supply-chain
    segmentation: ABC bands parts by cumulative revenue share (80/95%,
    the [[abc_pareto_classification]] axis) and XYZ by weekly demand
    VARIABILITY (coefficient of variation < 0.5 = X/steady, < 1.0 =
    Y, else Z/erratic; < 3 observed weeks = Z by definition).  A-X
    items get automated replenishment, C-Z get made-to-order — the
    matrix is the policy map.

    Per-part weekly demand (one combinable shuffle), per-part moments,
    the Pareto cumulative window over the PART-dimension-sized ranked
    aggregate (the abc acceptance), and integer-µ-unit cv thresholds —
    exact integer cumulative-share comparison (cum·100 ≤ tot·80), no
    float percents.
    """
    l = _t(spark, sf_dir, "lineitem").select(
        "l_partkey",
        F.expr(
            "CAST(unix_date(CAST(l_shipdate AS DATE)) AS BIGINT) DIV 7"
        ).alias("wk"),
        to_fixed("l_extendedprice", 100).alias("rev"),
        to_fixed("l_quantity", 100).alias("qty"),
    )
    pw = l.groupBy("l_partkey", "wk").agg(
        F.sum("rev").cast("bigint").alias("rev"),
        F.sum("qty").cast("bigint").alias("qty"),
    )
    p = pw.groupBy("l_partkey").agg(
        F.sum("rev").cast("bigint").alias("rev"),
        F.count("*").alias("n_wk"),
        F.sum("qty").cast("bigint").alias("sq"),
        F.sum(F.col("qty") * F.col("qty")).cast("bigint").alias("sq2"),
    )
    # distributed running total + broadcast grand total (round-5): the
    # previous desc-ordered global window AND the empty-partitionBy
    # whole-frame window each collapsed the part dim to one partition
    from .operators.windows import global_cumsum

    tot = p.agg(F.sum("rev").cast("bigint").alias("tot"))
    r = global_cumsum(
        p, [F.desc("rev"), F.col("l_partkey")], "rev", "cum"
    ).crossJoin(F.broadcast(tot))
    mean = F.col("sq").cast("double") / F.col("n_wk")
    var = F.greatest(
        (
            F.col("sq2").cast("double")
            - F.col("sq").cast("double") * F.col("sq") / F.col("n_wk")
        )
        / F.col("n_wk"),
        F.lit(0.0),
    )
    cv_us = F.round(F.sqrt(var) / mean * 1_000_000).cast("bigint")
    abc = (
        F.when(F.col("cum") * 100 <= F.col("tot") * 80, "A")
        .when(F.col("cum") * 100 <= F.col("tot") * 95, "B")
        .otherwise("C")
    )
    xyz = (
        F.when(F.col("n_wk") < 3, "Z")
        .when(cv_us < 500_000, "X")
        .when(cv_us < 1_000_000, "Y")
        .otherwise("Z")
    )
    return (
        r.select(abc.alias("abc"), xyz.alias("xyz"))
        .groupBy("abc", "xyz")
        .agg(F.count("*").alias("n_parts"))
    )


# ---------------------------------------------------------------------------
# stat_diff_in_diff — promo-part difference-in-differences readout
# ---------------------------------------------------------------------------


@query(
    "stat_diff_in_diff",
    oracle=f"""
    WITH b AS (SELECT CAST(min(epoch_us(l_shipdate)) AS BIGINT) AS lo,
                      CAST(max(epoch_us(l_shipdate)) AS BIGINT) AS hi
               FROM lineitem),
    l AS (SELECT CASE WHEN p.p_type LIKE 'PROMO%' THEN 1 ELSE 0 END AS treated,
                 CASE WHEN epoch_us(l.l_shipdate) * 2 >= b.lo + b.hi
                      THEN 1 ELSE 0 END AS post,
                 CAST(round(l.l_extendedprice * (1 - l.l_discount) * 100)
                      AS BIGINT) AS net_cents
          FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
          CROSS JOIN b),
    g AS (SELECT treated, post,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(net_cents) AS BIGINT) AS s
          FROM l GROUP BY treated, post),
    w AS (SELECT
            max(CASE WHEN treated = 1 AND post = 1 THEN s END) AS s11,
            max(CASE WHEN treated = 1 AND post = 1 THEN n END) AS n11,
            max(CASE WHEN treated = 1 AND post = 0 THEN s END) AS s10,
            max(CASE WHEN treated = 1 AND post = 0 THEN n END) AS n10,
            max(CASE WHEN treated = 0 AND post = 1 THEN s END) AS s01,
            max(CASE WHEN treated = 0 AND post = 1 THEN n END) AS n01,
            max(CASE WHEN treated = 0 AND post = 0 THEN s END) AS s00,
            max(CASE WHEN treated = 0 AND post = 0 THEN n END) AS n00
          FROM g),
    q AS (SELECT {mean_quantized_signed_sql("s10", "100 * n10")} AS t0,
                 {mean_quantized_signed_sql("s11", "100 * n11")} AS t1,
                 {mean_quantized_signed_sql("s00", "100 * n00")} AS c0,
                 {mean_quantized_signed_sql("s01", "100 * n01")} AS c1
          FROM w)
    SELECT t0 AS treated_pre,
           t1 AS treated_post,
           c0 AS control_pre,
           c1 AS control_post,
           round((t1 - t0) - (c1 - c0), 6) AS did_estimate
    FROM q
    """,
)
def stat_diff_in_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-in-differences: net-revenue-per-line change for
    promo-type parts vs non-promo parts, before vs after the period
    midpoint — the observational-causal workhorse when randomized arms
    ([[stat_two_proportion_ztest]]) aren't available: the control
    group's pre/post delta nets out seasonality/trend, leaving the
    treatment effect under the parallel-trends assumption (stated, as
    every DiD must).

    One broadcast dim join for treatment status, a broadcast two-value
    period boundary (midpoint compared by integer cross-multiplication
    — no float epoch halving), and ONE 2×2 conditional aggregation of
    exact cents.  The four cell means and the DiD are computed once on
    the single-row frame.
    """
    li = _t(spark, sf_dir, "lineitem")
    part = _t(spark, sf_dir, "part").select(
        "p_partkey",
        F.when(F.col("p_type").startswith("PROMO"), 1).otherwise(0).alias("treated"),
    )
    b = li.agg(
        F.min(F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', l_shipdate)")).alias("lo"),
        F.max(F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', l_shipdate)")).alias("hi"),
    )
    l = (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .crossJoin(F.broadcast(b))
        .select(
            "treated",
            F.when(
                F.expr("timestampdiff(MICROSECOND, TIMESTAMP_NTZ '1970-01-01 00:00:00', l_shipdate)") * 2
                >= F.col("lo") + F.col("hi"),
                1,
            )
            .otherwise(0)
            .alias("post"),
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100
            )
            .cast("bigint")
            .alias("net_cents"),
        )
    )
    g = l.groupBy("treated", "post").agg(
        F.count("*").alias("n"), F.sum("net_cents").cast("bigint").alias("s")
    )

    def cell(col, t, p):
        return F.max(
            F.when((F.col("treated") == t) & (F.col("post") == p), F.col(col))
        )

    w = g.agg(
        cell("s", 1, 1).alias("s11"), cell("n", 1, 1).alias("n11"),
        cell("s", 1, 0).alias("s10"), cell("n", 1, 0).alias("n10"),
        cell("s", 0, 1).alias("s01"), cell("n", 0, 1).alias("n01"),
        cell("s", 0, 0).alias("s00"), cell("n", 0, 0).alias("n00"),
    )
    # four exactly-quantized cell means; the DiD composes quantized
    # values, so its round() sits ~0.5e-6 from any boundary (safe —
    # only raw rationals can land ON one; docs/OPERATIONS.md).
    # Signed variant: the cell sums are non-negative today (price ≥ 0,
    # discount ≤ 1) but only by domain argument — revenue adjustments /
    # returns would flip a cell's sign, and unsigned mean_quantized
    # silently quantizes toward zero for s < 0 (its documented s ≥ 0
    # precondition).  The signed form costs one codegen branch.
    q = w.select(
        mean_quantized_signed("s10", F.col("n10") * 100).alias("t0"),
        mean_quantized_signed("s11", F.col("n11") * 100).alias("t1"),
        mean_quantized_signed("s00", F.col("n00") * 100).alias("c0"),
        mean_quantized_signed("s01", F.col("n01") * 100).alias("c1"),
    )
    return q.select(
        F.col("t0").alias("treated_pre"),
        F.col("t1").alias("treated_post"),
        F.col("c0").alias("control_pre"),
        F.col("c1").alias("control_post"),
        F.round(
            (F.col("t1") - F.col("t0")) - (F.col("c1") - F.col("c0")), 6
        ).alias("did_estimate"),
    )


# ---------------------------------------------------------------------------
# events_top_paths — most common 3-step user journeys
# ---------------------------------------------------------------------------

PATHS_TOP_K = 10


@query(
    "events_top_paths",
    oracle=f"""
    WITH e AS (SELECT user_id, event_type,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS us, event_id
               FROM events WHERE ts IS NOT NULL),
    r AS (SELECT user_id, event_type,
                 row_number() OVER (PARTITION BY user_id
                                    ORDER BY us, event_id) AS rn
          FROM e),
    p AS (SELECT user_id,
                 string_agg(event_type, '>' ORDER BY rn) AS path
          FROM r WHERE rn <= 3 GROUP BY user_id
          HAVING count(*) = 3)
    SELECT path, CAST(count(*) AS BIGINT) AS n_users,
           CAST(row_number() OVER (ORDER BY count(*) DESC, path) AS BIGINT)
               AS rk
    FROM p GROUP BY path
    QUALIFY rk <= {PATHS_TOP_K}
    """,
)
def events_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top first-3-event user journeys ('view>click>purchase' …) — the
    Sankey/pathing view product analytics builds beside the one-step
    transition matrix ([[events_markov_transitions]]): the matrix says
    what follows what; paths say how users actually ARRIVE.

    One per-user window keeps only ranks ≤ 3 before any string
    assembly (the early-prune that makes this linear: the full event
    stream never turns into strings), one path aggregation, one
    two-phase top-k.  Path strings assemble in pinned rank order on
    both engines; users with fewer than 3 events are excluded rather
    than producing ragged prefixes.
    """
    from .sources.tables import ts_us_expr

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    e = ev.select(
        "user_id", "event_type", ts_us_expr(ev).alias("us"), "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("us", "event_id")
    r = e.withColumn("rn", F.row_number().over(w)).where(F.col("rn") <= 3)
    p = (
        r.groupBy("user_id")
        .agg(
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(F.struct("rn", "event_type"))),
                    lambda s: s.getField("event_type"),
                ),
                ">",
            ).alias("path"),
            F.count("*").alias("n_steps"),
        )
        .where(F.col("n_steps") == 3)
    )
    wk = Window.orderBy(F.desc("n_users"), "path")
    return (
        p.groupBy("path")
        .agg(F.count("*").alias("n_users"))
        .withColumn("rk", F.row_number().over(wk).cast("bigint"))
        .where(F.col("rk") <= PATHS_TOP_K)
    )


# ---------------------------------------------------------------------------
# corpus_vocab_growth_curve — Heaps-law vocabulary growth checkpoints
# ---------------------------------------------------------------------------

VOCAB_CHECKPOINTS = 10


@query(
    "corpus_vocab_growth_curve",
    oracle=f"""
    WITH toks AS (SELECT doc_id,
                         unnest({tokens_sql()})
                             AS tok
                  FROM documents),
    firsts AS (SELECT tok, CAST(min(doc_id) AS BIGINT) AS first_doc
               FROM toks WHERE tok <> '' GROUP BY tok),
    dt AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks
           FROM toks WHERE tok <> '' GROUP BY doc_id),
    mx AS (SELECT CAST(max(doc_id) AS BIGINT) AS m FROM dt),
    cp AS (SELECT CAST((mx.m + 1) * c // {VOCAB_CHECKPOINTS} - 1 AS BIGINT)
                      AS cut_doc,
                  CAST(c AS BIGINT) AS checkpoint
           FROM mx, (SELECT unnest(range(1, {VOCAB_CHECKPOINTS} + 1)) AS c))
    SELECT cp.checkpoint, cp.cut_doc,
           CAST((SELECT sum(n_toks) FROM dt WHERE doc_id <= cp.cut_doc)
                AS BIGINT) AS cum_tokens,
           CAST((SELECT count(*) FROM firsts WHERE first_doc <= cp.cut_doc)
                AS BIGINT) AS cum_types
    FROM cp
    """,
)
def corpus_vocab_growth_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth (Heaps-law) curve: cumulative distinct types vs
    cumulative tokens at {k} doc-id checkpoints — the curve that says
    whether more data still buys new vocabulary (sub-linear growth =
    healthy natural text; a straight line = id/hash pollution; an early
    plateau = template spam).

    The distributed trick: cumulative DISTINCT, normally a sequential
    scan, becomes two combinable aggregations — each type's FIRST
    document (min doc_id per token) and each doc's token count — plus a
    checkpoint-grid broadcast join: types at cut c = count(first_doc ≤
    c).  No prefix is ever re-scanned; cost is one shuffle of (token,
    min) pairs at any corpus size.
    """
    from .extensions.text import tokens

    d = _t(spark, sf_dir, "documents")
    toks = d.select("doc_id", F.explode(tokens("text")).alias("tok")).where(
        F.col("tok") != ""
    )
    firsts = toks.groupBy("tok").agg(F.min("doc_id").cast("bigint").alias("first_doc"))
    dt = toks.groupBy("doc_id").agg(F.count("*").cast("bigint").alias("n_toks"))
    mx = dt.agg(F.max("doc_id").cast("bigint").alias("m"))
    cp = (
        mx.select(
            F.explode(F.sequence(F.lit(1), F.lit(VOCAB_CHECKPOINTS))).alias("c"),
            "m",
        )
        .select(
            F.col("c").cast("bigint").alias("checkpoint"),
            # integer DIV, never float `/` + cast: Spark's bigint cast
            # TRUNCATES 303.5 while DuckDB's rounds half-even to 304 —
            # divergent checkpoints whenever max_doc+1 isn't a multiple
            # of the checkpoint count (hostile-fixture find)
            F.expr(f"(m + 1) * c DIV {VOCAB_CHECKPOINTS} - 1")
            .cast("bigint")
            .alias("cut_doc"),
        )
    )
    tok_cum = (
        cp.join(dt, dt.doc_id <= cp.cut_doc)
        .groupBy("checkpoint", "cut_doc")
        .agg(F.sum("n_toks").cast("bigint").alias("cum_tokens"))
    )
    type_cum = (
        cp.join(firsts, firsts.first_doc <= cp.cut_doc)
        .groupBy("checkpoint")
        .agg(F.count("*").cast("bigint").alias("cum_types"))
    )
    return (
        cp.join(tok_cum, ["checkpoint", "cut_doc"])
        .join(type_cum, "checkpoint")
        .select("checkpoint", "cut_doc", "cum_tokens", "cum_types")
    )


corpus_vocab_growth_curve.__doc__ = corpus_vocab_growth_curve.__doc__.format(
    k=VOCAB_CHECKPOINTS
)


# ---------------------------------------------------------------------------
# corpus_span_corruption — T5-style denoising mask generation
# ---------------------------------------------------------------------------

SPAN_MASK_RATE_PCT = 15
SPAN_MEAN_LEN = 3


@query(
    "corpus_span_corruption",
    oracle=f"""
    WITH t AS (SELECT doc_id,
                      CAST(len({tokens_sql()})
                           AS BIGINT) AS n
               FROM documents),
    s AS (SELECT doc_id, n,
                 CAST({ratio_scaled_int_sql(
                     f"n * {SPAN_MASK_RATE_PCT}",
                     f"100 * {SPAN_MEAN_LEN}", 1)} AS BIGINT) AS n_spans
          FROM t WHERE n >= {SPAN_MEAN_LEN}),
    masked AS (SELECT doc_id, n, n_spans,
                      CAST(len(list_distinct(flatten(
                        [range(
                           {hash59_sql("'span' || CAST(doc_id AS VARCHAR) || '_' || CAST(k AS VARCHAR)")}
                             % n + 1,
                           least({hash59_sql("'span' || CAST(doc_id AS VARCHAR) || '_' || CAST(k AS VARCHAR)")}
                                   % n + 1 + {SPAN_MEAN_LEN}, n + 1))
                         FOR k IN range(1, n_spans + 1)]))) AS BIGINT) AS n_masked
               FROM s)
    SELECT doc_id, n AS n_tokens, n_spans, n_masked,
           {mean_quantized_sql("n_masked", "n")} AS mask_rate
    FROM masked
    """,
)
def corpus_span_corruption(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5-style span-corruption mask generation (public pretraining
    objective): per document, ~{p}% of tokens masked in spans of mean
    length {m}, with span starts drawn KEY-STABLY from (doc, span-index)
    hashes — the derandomized-sampling discipline
    (sample_weighted_reservoir, privacy_dp_counts) applied to training-
    data augmentation, so every rerun (and every engine) masks the
    SAME positions.  Output: per-doc span count, distinct masked
    positions (overlapping spans merge, so the effective rate sits just
    under target — reported, not hidden), and the realized mask rate.

    Pure array HOFs: span ranges are sequence() literals, the distinct-
    position count is flatten → array_distinct — shuffle-free, whole-
    stage codegen, embarrassingly parallel.  The actual token
    replacement is the same projection joined back to the token array;
    the CONTRACT surfaces the mask statistics (value-hashable).
    """
    from .extensions.text import tokens

    d = _t(spark, sf_dir, "documents")
    t = d.select("doc_id", F.size(tokens("text")).cast("bigint").alias("n"))
    # exact half-up span count — round(n·rate/100/len double) is the
    # boundary form (n·15/300 lands exactly on k+0.5 for n ≡ 10 mod 20)
    s = t.where(F.col("n") >= SPAN_MEAN_LEN).select(
        "doc_id",
        "n",
        ratio_scaled_int(
            F.col("n") * SPAN_MASK_RATE_PCT, F.lit(100 * SPAN_MEAN_LEN), 1
        )
        .cast("bigint")
        .alias("n_spans"),
    )
    # CAST the conv() STRING to BIGINT before the modulo: under
    # ansi.enabled=false Spark coerces string % bigint through DOUBLE,
    # which loses bits past 2^53 on a 15-hex-digit hash and shifts the
    # span starts (caught by the round-9 ANSI-off conf-invariance
    # sweep); the explicit cast is exact under both ANSI regimes
    start = (
        hash59_expr("concat('span', CAST(doc_id AS STRING), '_', CAST(k AS STRING))")
        + " % n + 1"
    )
    masked = s.withColumn(
        "n_masked",
        # n_spans can round to 0 for short docs; sequence(1, 0) is
        # DESCENDING [1, 0] in Spark (not empty), which fabricated
        # spans for docs the oracle correctly left unmasked
        # (hostile-fixture find) — guard to an empty span list
        F.expr(
            f"CAST(size(array_distinct(flatten(transform("
            f"IF(n_spans >= 1, sequence(1, CAST(n_spans AS INT)), "
            f"CAST(array() AS ARRAY<INT>)), k -> "
            f"sequence(CAST(({start}) AS BIGINT), "
            f"least(CAST(({start}) AS BIGINT) + {SPAN_MEAN_LEN} - 1, n)))))) AS BIGINT)"
        ),
    )
    return masked.select(
        "doc_id",
        F.col("n").alias("n_tokens"),
        "n_spans",
        "n_masked",
        mean_quantized("n_masked", "n").alias("mask_rate"),
    )


corpus_span_corruption.__doc__ = corpus_span_corruption.__doc__.format(
    p=SPAN_MASK_RATE_PCT, m=SPAN_MEAN_LEN
)


# ---------------------------------------------------------------------------
# dedup_cluster_chain_audit — transitive-collapse risk per duplicate cluster
# ---------------------------------------------------------------------------

CHAIN_MARGIN = 0.1  # clusters whose weakest verified edge is within
#                     threshold+margin are transitive-chain suspects


def _chain_audit_oracle() -> str:
    from .extensions.dedup import LSH_MAX_BUCKET, connected_components_sql
    from .registry_ext import JACCARD_THRESHOLD, _lsh_dedup_oracle

    return f"""
    WITH RECURSIVE pairs AS ({_lsh_dedup_oracle(LSH_MAX_BUCKET)}),
    {connected_components_sql()},
    pc AS (SELECT c.cluster_id, p.jaccard
           FROM pairs p JOIN cc c ON c.doc_id = p.doc_a)
    SELECT cluster_id,
           CAST((SELECT count(*) FROM cc c2
                 WHERE c2.cluster_id = pc.cluster_id) AS BIGINT) AS n_members,
           CAST(count(*) AS BIGINT) AS n_edges,
           round(min(jaccard), 6) AS min_edge_jaccard,
           round(max(jaccard), 6) AS max_edge_jaccard,
           min(jaccard) < {JACCARD_THRESHOLD} + {CHAIN_MARGIN} AS chain_risk
    FROM pc GROUP BY cluster_id
    """


@query("dedup_cluster_chain_audit", oracle=_chain_audit_oracle())
def dedup_cluster_chain_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Transitive-collapse audit of the near-dup clusters: per duplicate
    cluster, the member/edge counts and the WEAKEST verified edge — the
    known failure mode of connected-component dedup is the chain
    A≈B≈C where A and C are unrelated, and a cluster whose minimum
    edge sits near the threshold (within +{m}) is exactly where a
    whole topic can collapse into one survivor.  Flagged clusters get
    a human (or a stricter pairwise re-verify) before deletion — the
    audit every production dedup run ships next to
    [[corpus_dedup_survivors]] and [[corpus_dedup_cluster_sizes]].

    Composition: the GRADED capped-LSH pair spec and the same label
    propagation as the survivor pipeline, plus one (cluster, jaccard)
    join and a per-cluster rollup — all keyed on cluster_id, nothing
    beyond the existing pipeline's shuffles.
    """
    from .extensions.dedup import connected_components, digest_shingles
    from .registry_ext import JACCARD_THRESHOLD, graded_lsh_pairs

    docs = _t(spark, sf_dir, "documents")
    # `pairs` feeds BOTH the cluster map and the per-cluster edge
    # rollup: an eager checkpoint materializes the (small, dup-only)
    # pair set once instead of running the banded join + verify per
    # consumer — the pagerank edge-checkpoint adjudication shape
    pairs = graded_lsh_pairs(digest_shingles(docs, sf_dir)).transform(_ckpt_eager)
    cc = connected_components(docs.select("doc_id"), pairs.select("doc_a", "doc_b"))
    sized = cc.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    pc = pairs.join(
        cc.select(F.col("doc_id").alias("doc_a"), "cluster_id"), "doc_a"
    )
    return (
        pc.groupBy("cluster_id")
        .agg(
            F.count("*").alias("n_edges"),
            F.round(F.min("jaccard"), 6).alias("min_edge_jaccard"),
            F.round(F.max("jaccard"), 6).alias("max_edge_jaccard"),
        )
        .join(sized, "cluster_id")
        .select(
            "cluster_id",
            F.col("n_members").cast("bigint").alias("n_members"),
            F.col("n_edges").cast("bigint").alias("n_edges"),
            "min_edge_jaccard",
            "max_edge_jaccard",
            (F.col("min_edge_jaccard") < JACCARD_THRESHOLD + CHAIN_MARGIN).alias(
                "chain_risk"
            ),
        )
    )


dedup_cluster_chain_audit.__doc__ = dedup_cluster_chain_audit.__doc__.format(
    m=CHAIN_MARGIN
)


# ---------------------------------------------------------------------------
# attribution_model_compare — first/last/linear-touch credit side by side
# ---------------------------------------------------------------------------

ATTR_WINDOW_US = 3_600_000_000  # 1 hour lookback


@query(
    "attribution_model_compare",
    oracle=f"""
    WITH e AS (SELECT event_id, user_id, event_type,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS us
               FROM events),
    p AS (SELECT event_id AS purchase_id, user_id, us FROM e
          WHERE event_type = 'purchase'),
    t AS (SELECT event_id AS touch_id, user_id, event_type, us FROM e
          WHERE event_type IN ('click', 'view')),
    j AS (SELECT p.purchase_id, t.event_type, t.us,
                 count(*) OVER (PARTITION BY p.purchase_id) AS n_touch,
                 row_number() OVER (PARTITION BY p.purchase_id
                                    ORDER BY t.us, t.touch_id) AS rk_first,
                 row_number() OVER (PARTITION BY p.purchase_id
                                    ORDER BY t.us DESC, t.touch_id DESC)
                     AS rk_last
          FROM p JOIN t ON t.user_id = p.user_id
                       AND t.us < p.us AND t.us >= p.us - {ATTR_WINDOW_US}),
    credits AS (SELECT event_type,
                       CASE WHEN rk_first = 1 THEN 1000000 ELSE 0 END AS first_us,
                       CASE WHEN rk_last = 1 THEN 1000000 ELSE 0 END AS last_us,
                       CAST({ratio_scaled_int_sql("1", "n_touch")} AS BIGINT)
                           AS linear_us
                FROM j)
    SELECT event_type AS channel,
           round(sum(first_us) / 1000000.0, 6) AS first_touch_credit,
           round(sum(last_us) / 1000000.0, 6) AS last_touch_credit,
           round(sum(linear_us) / 1000000.0, 6) AS linear_credit
    FROM credits GROUP BY event_type
    """,
)
def attribution_model_compare(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-touch vs last-touch vs linear attribution credit per channel
    for the same purchase set — the model-sensitivity table every
    marketing-mix review starts from: if the three columns disagree
    wildly, channel budgets are an artifact of the model choice, not
    the data ([[attribution_multitouch_linear]] is the linear model's
    per-purchase form; this compares models at the channel grain).

    One banded interval join (purchase × prior touches within 1 h —
    per-user keys, watermark-state-sized fan-out), THREE window ranks
    over the same per-purchase partition (one shuffle, shared by all
    models), and per-touch credits quantized to integer µ-units before
    the channel rollup so the distributive sums are exact.
    """
    from .sources.tables import ts_us_expr

    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "event_id", "user_id", "event_type", ts_us_expr(ev).alias("us")
    )
    p = e.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.col("us").alias("p_us"),
    )
    t = e.where(F.col("event_type").isin("click", "view")).select(
        F.col("event_id").alias("touch_id"),
        F.col("user_id").alias("t_user"),
        "event_type",
        F.col("us").alias("t_us"),
    )
    j = p.join(
        t,
        (F.col("p_user") == F.col("t_user"))
        & (F.col("t_us") < F.col("p_us"))
        & (F.col("t_us") >= F.col("p_us") - ATTR_WINDOW_US),
    )
    wp = Window.partitionBy("purchase_id")
    j = j.select(
        "purchase_id",
        "event_type",
        F.count("*").over(wp).alias("n_touch"),
        F.row_number()
        .over(wp.orderBy("t_us", "touch_id"))
        .alias("rk_first"),
        F.row_number()
        .over(wp.orderBy(F.desc("t_us"), F.desc("touch_id")))
        .alias("rk_last"),
    )
    credits = j.select(
        "event_type",
        F.when(F.col("rk_first") == 1, 1_000_000).otherwise(0).alias("first_us"),
        F.when(F.col("rk_last") == 1, 1_000_000).otherwise(0).alias("last_us"),
        # exact half-up integer µ-credit, not round(1e6/n double) — the
        # quantization contract's integer lane (docs/OPERATIONS.md)
        ratio_scaled_int(F.lit(1), "n_touch").cast("bigint").alias("linear_us"),
    )
    return credits.groupBy(F.col("event_type").alias("channel")).agg(
        F.round(F.sum("first_us") / 1_000_000.0, 6).alias("first_touch_credit"),
        F.round(F.sum("last_us") / 1_000_000.0, 6).alias("last_touch_credit"),
        F.round(F.sum("linear_us") / 1_000_000.0, 6).alias("linear_credit"),
    )


# ---------------------------------------------------------------------------
# dq_fk_inference — foreign-key candidate discovery by containment
# ---------------------------------------------------------------------------


@query(
    "dq_fk_inference",
    oracle=f"""
    WITH pairs AS (
      SELECT 'orders.o_custkey->customer.c_custkey' AS candidate,
             (SELECT count(DISTINCT o_custkey) FROM orders) AS n_child,
             (SELECT count(DISTINCT c_custkey) FROM customer) AS n_parent,
             (SELECT count(DISTINCT o_custkey) FROM orders
              WHERE o_custkey IN (SELECT c_custkey FROM customer)) AS n_contained
      UNION ALL
      SELECT 'lineitem.l_orderkey->orders.o_orderkey',
             (SELECT count(DISTINCT l_orderkey) FROM lineitem),
             (SELECT count(DISTINCT o_orderkey) FROM orders),
             (SELECT count(DISTINCT l_orderkey) FROM lineitem
              WHERE l_orderkey IN (SELECT o_orderkey FROM orders))
      UNION ALL
      SELECT 'lineitem.l_orderkey->part.p_partkey',
             (SELECT count(DISTINCT l_orderkey) FROM lineitem),
             (SELECT count(DISTINCT p_partkey) FROM part),
             (SELECT count(DISTINCT l_orderkey) FROM lineitem
              WHERE l_orderkey IN (SELECT p_partkey FROM part))
    )
    SELECT candidate,
           CAST(n_child AS BIGINT) AS n_child,
           CAST(n_parent AS BIGINT) AS n_parent,
           CAST(n_contained AS BIGINT) AS n_contained,
           {mean_quantized_sql("n_contained", "n_child")} AS containment,
           n_contained = n_child AS is_fk_candidate
    FROM pairs
    """,
)
def dq_fk_inference(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Foreign-key candidate discovery by VALUE CONTAINMENT: for each
    declared column pair, the fraction of the child's distinct values
    present in the parent — containment = 1.0 nominates a real FK,
    partial containment exposes orphans or a coincidental overlap (the
    third probe, orderkey→partkey, is the deliberate NEGATIVE control:
    id ranges that merely overlap — its containment is the small-id
    prefix fraction, not 1.0).  This
    is the schema-discovery pass run when onboarding an undocumented
    lake, upstream of the asserting [[dq_constraint_report]].

    Per pair: two distinct aggregates and one semi-join distinct —
    each combinable, each shuffling only distinct key values.  At
    scale the exact distincts swap for HLL sketches and containment
    for a bloom-filter probe ([[sketch_bloom_fpr_eval]] calibrates
    the false-positive cost of that swap).
    """
    probes = [
        ("orders.o_custkey->customer.c_custkey", "orders", "o_custkey", "customer", "c_custkey"),
        ("lineitem.l_orderkey->orders.o_orderkey", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        ("lineitem.l_orderkey->part.p_partkey", "lineitem", "l_orderkey", "part", "p_partkey"),
    ]
    outs = []
    for name, ct, cc, pt, pc in probes:
        child = _t(spark, sf_dir, ct).select(F.col(cc).alias("k")).distinct()
        parent = _t(spark, sf_dir, pt).select(F.col(pc).alias("k")).distinct()
        contained = child.join(parent, "k", "left_semi")
        stats = (
            child.agg(F.count("*").alias("n_child"))
            .crossJoin(parent.agg(F.count("*").alias("n_parent")))
            .crossJoin(contained.agg(F.count("*").alias("n_contained")))
        )
        outs.append(
            stats.select(
                F.lit(name).alias("candidate"),
                F.col("n_child").cast("bigint"),
                F.col("n_parent").cast("bigint"),
                F.col("n_contained").cast("bigint"),
                mean_quantized("n_contained", "n_child").alias("containment"),
                (F.col("n_contained") == F.col("n_child")).alias(
                    "is_fk_candidate"
                ),
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


# ---------------------------------------------------------------------------
# stream_state_size_audit — watermark-state capacity planning
# ---------------------------------------------------------------------------

STATE_BAND_US = 600_000_000  # 10-minute state horizon


@query(
    "stream_state_size_audit",
    oracle=f"""
    WITH e AS (SELECT user_id,
                      epoch_us(CAST(ts AS TIMESTAMP)) // {STATE_BAND_US} AS band
               FROM events),
    b AS (SELECT band, CAST(count(DISTINCT user_id) AS BIGINT) AS n_keys,
                 CAST(count(*) AS BIGINT) AS n_rows
          FROM e GROUP BY band)
    SELECT CAST(count(*) AS BIGINT) AS n_bands,
           CAST(max(n_keys) AS BIGINT) AS peak_state_keys,
           CAST(max(n_rows) AS BIGINT) AS peak_state_rows,
           {mean_quantized_sql("sum(n_keys)", "count(n_keys)")} AS avg_state_keys,
           {mean_quantized_sql("sum(n_rows)", "count(n_rows)")} AS avg_state_rows
    FROM b
    """,
)
def stream_state_size_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming-state capacity audit: per 10-minute band (== the
    10-minute watermark horizon a stateful stream would declare), the distinct
    keys and buffered rows a stateful operator would hold — peak and
    average.  This is the number that sizes executor memory (or forces
    the RocksDB store) BEFORE a stream launches: watermark state ≈
    keys-per-horizon × state width, and the peak band is the high-water
    mark ([[events_peak_concurrency]] is the session-level analogue;
    this is the operator-state one).

    One banded aggregation with a per-band distinct (partial-
    aggregatable), one tiny rollup over the wall-clock-bounded band
    grid.  Run it against history whenever the watermark/horizon knobs
    change ([[stream_late_data_audit]] covers the other side: what the
    watermark would DROP).
    """
    from .sources.tables import ts_us_expr

    ev = _t(spark, sf_dir, "events")
    e = ev.select(
        "user_id", (ts_us_expr(ev) / F.lit(STATE_BAND_US)).cast("bigint").alias("band")
    )
    b = e.groupBy("band").agg(
        F.countDistinct("user_id").cast("bigint").alias("n_keys"),
        F.count("*").alias("n_rows"),
    )
    return (
        b.agg(
            F.count("*").alias("n_bands"),
            F.max("n_keys").cast("bigint").alias("peak_state_keys"),
            F.max("n_rows").cast("bigint").alias("peak_state_rows"),
            F.sum("n_keys").alias("__sum_k"),
            F.sum("n_rows").alias("__sum_r"),
        )
        .select(
            "n_bands",
            "peak_state_keys",
            "peak_state_rows",
            mean_quantized("__sum_k", "n_bands").alias("avg_state_keys"),
            mean_quantized("__sum_r", "n_bands").alias("avg_state_rows"),
        )
    )


# ---------------------------------------------------------------------------
# dedup_sampled_rate_estimate — the declared eval-at-scale path, made real
# ---------------------------------------------------------------------------

DUP_SAMPLE_SLOTS = 4  # keep docs whose hash slot == 0 → ~1/4 sample


@query(
    "dedup_sampled_rate_estimate",
    oracle=f"""
    WITH norm AS (SELECT doc_id,
                         md5(regexp_replace(lower(text), '[0-9]+', '0', 'g'))
                             AS fp,
                         ({hash59_sql("'ds' || CAST(doc_id AS VARCHAR)")})
                             % {DUP_SAMPLE_SLOTS} AS slot
                  FROM documents),
    exact AS (SELECT CAST(count(*) AS BIGINT) AS n,
                     CAST(count(DISTINCT fp) AS BIGINT) AS nd
              FROM norm),
    samp AS (SELECT CAST(count(*) AS BIGINT) AS n,
                    CAST(count(DISTINCT fp) AS BIGINT) AS nd
             FROM norm WHERE slot = 0)
    SELECT e.n AS n_docs, s.n AS n_sampled,
           {mean_quantized_sql("e.n - e.nd", "e.n")} AS dup_rate_exact,
           {mean_quantized_sql("s.n - s.nd", "s.n")} AS dup_rate_sampled,
           round(abs({mean_quantized_sql("e.n - e.nd", "e.n")}
                     - {mean_quantized_sql("s.n - s.nd", "s.n")}), 6) AS abs_error
    FROM exact e, samp s
    """,
)
def dedup_sampled_rate_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The eval-at-scale path several contracts DECLARE
    (dedup_lsh_band_sweep, corpus_dup_rate_by_source), made real and
    measured: estimate the normalized exact-duplicate rate from a
    key-stable 1/{s} document sample next to the exact rate, with the
    absolute error — the measurement that licenses running dedup
    quality checks on a sample when the full corpus pass is too
    expensive.  Caveat surfaced by the numbers themselves: hash
    sampling DOCUMENTS breaks up duplicate GROUPS (a pair survives the
    sample only if both members land in the slot), so the sampled rate
    UNDERESTIMATES by ≈(1 − 1/{s}) of the pair mass — the contract
    reports the raw estimator exactly so the bias is visible, which is
    the point: naive doc-sampling is the wrong dedup estimator, and
    this row is the evidence (group-aware estimators re-weight by
    1/{s}).

    Two combinable aggregations over one normalized-fingerprint
    projection; the sample predicate is a pure hash projection, so the
    'sampled' branch reads the same scan with a pushed filter.
    """
    d = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.md5(
            F.regexp_replace(F.lower(F.col("text")), "[0-9]+", "0")
        ).alias("fp"),
        (
            hash59(F.concat(F.lit("ds"), F.col("doc_id").cast("string")))
            % DUP_SAMPLE_SLOTS
        ).alias("slot"),
    )
    exact = d.agg(
        F.count("*").alias("n"), F.countDistinct("fp").cast("bigint").alias("nd")
    )
    samp = d.where(F.col("slot") == 0).agg(
        F.count("*").alias("sn"), F.countDistinct("fp").cast("bigint").alias("snd")
    )
    j = exact.crossJoin(F.broadcast(samp))
    rate_e = mean_quantized(F.col("n") - F.col("nd"), F.col("n"))
    rate_s = mean_quantized(F.col("sn") - F.col("snd"), F.col("sn"))
    return j.select(
        F.col("n").cast("bigint").alias("n_docs"),
        F.col("sn").cast("bigint").alias("n_sampled"),
        rate_e.alias("dup_rate_exact"),
        rate_s.alias("dup_rate_sampled"),
        # composition of quantized values — its round() sits ~0.5e-6
        # from any boundary (docs/OPERATIONS.md)
        F.round(F.abs(rate_e - rate_s), 6).alias("abs_error"),
    )


dedup_sampled_rate_estimate.__doc__ = dedup_sampled_rate_estimate.__doc__.format(
    s=DUP_SAMPLE_SLOTS
)


# ---------------------------------------------------------------------------
# dq_scd2_integrity_audit — validity-interval tiling audit
# ---------------------------------------------------------------------------


def _scd2_audit_oracle() -> str:
    from .registry import ORACLES

    scd2 = ORACLES["scd2_state_history"]
    return f"""
    WITH hist AS ({scd2}),
    seq AS (SELECT user_id, valid_from_us, valid_to_us,
                   lead(valid_from_us) OVER (PARTITION BY user_id
                                             ORDER BY valid_from_us)
                       AS next_from
            FROM hist),
    flags AS (SELECT user_id,
                     CASE WHEN next_from IS NOT NULL
                           AND valid_to_us <> next_from THEN 1 ELSE 0 END
                         AS bad_tile,
                     CASE WHEN valid_to_us IS NOT NULL
                           AND valid_to_us <= valid_from_us THEN 1 ELSE 0 END
                         AS bad_order,
                     CASE WHEN next_from IS NULL
                           AND valid_to_us IS NOT NULL THEN 1 ELSE 0 END
                         AS bad_current
              FROM seq)
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_entities,
           CAST(sum(bad_tile) AS BIGINT) AS n_tiling_violations,
           CAST(sum(bad_order) AS BIGINT) AS n_order_violations,
           CAST(sum(bad_current) AS BIGINT) AS n_current_violations,
           sum(bad_tile) + sum(bad_order) + sum(bad_current) = 0 AS is_valid
    FROM flags
    """


@query("dq_scd2_integrity_audit", oracle=_scd2_audit_oracle())
def dq_scd2_integrity_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 integrity audit over the history the engine itself builds
    ([[scd2_state_history]]): per entity, validity intervals must TILE
    — each row's valid_to equals the next row's valid_from (no gaps, no
    overlaps), intervals must be positive, and exactly the last row may
    be open.  A violated tiling breaks every point-in-time lookup
    silently ([[join_point_in_time_scd2]] returns wrong rows, not
    errors), which is why warehouses run this audit after every
    dimension load.

    Composition: the registered SCD2 spec + one lead() window on the
    SAME (entity → valid_from) partitioning it already uses, then one
    violation rollup.  Passing (is_valid = true, zero violations) is
    itself the assertion that the engine's SCD2 builder emits tiled
    history by construction.
    """
    from .registry import QUERIES

    hist = QUERIES["scd2_state_history"](spark, sf_dir)
    w = Window.partitionBy("user_id").orderBy("valid_from_us")
    seq = hist.select(
        "user_id",
        "valid_from_us",
        "valid_to_us",
        F.lead("valid_from_us").over(w).alias("next_from"),
    )
    flags = seq.select(
        "user_id",
        F.when(
            F.col("next_from").isNotNull()
            & (F.col("valid_to_us") != F.col("next_from")),
            1,
        )
        .otherwise(0)
        .alias("bad_tile"),
        F.when(
            F.col("valid_to_us").isNotNull()
            & (F.col("valid_to_us") <= F.col("valid_from_us")),
            1,
        )
        .otherwise(0)
        .alias("bad_order"),
        F.when(
            F.col("next_from").isNull() & F.col("valid_to_us").isNotNull(), 1
        )
        .otherwise(0)
        .alias("bad_current"),
    )
    return flags.agg(
        F.count("*").alias("n_rows"),
        F.countDistinct("user_id").cast("bigint").alias("n_entities"),
        F.sum("bad_tile").cast("bigint").alias("n_tiling_violations"),
        F.sum("bad_order").cast("bigint").alias("n_order_violations"),
        F.sum("bad_current").cast("bigint").alias("n_current_violations"),
        (
            (F.sum("bad_tile") + F.sum("bad_order") + F.sum("bad_current")) == 0
        ).alias("is_valid"),
    )


# ---------------------------------------------------------------------------
# tpch_refresh_cycle — RF1/RF2-style insert+delete maintenance cycle
# ---------------------------------------------------------------------------

RF_MOD = 1000  # refresh ~0.1% of orders per cycle


@query(
    "tpch_refresh_cycle",
    oracle=f"""
    WITH base AS (SELECT o_orderkey,
                         {to_fixed_sql("o_totalprice", 100)} AS cents
                  FROM orders),
    mx AS (SELECT CAST(max(o_orderkey) AS BIGINT) AS m FROM base),
    ins AS (SELECT b.o_orderkey + mx.m + 1 AS o_orderkey, b.cents
            FROM base b, mx WHERE b.o_orderkey % {RF_MOD} = 0),
    del AS (SELECT o_orderkey FROM base WHERE o_orderkey % {RF_MOD} = 1),
    after AS (SELECT o_orderkey, cents FROM base
              WHERE o_orderkey NOT IN (SELECT o_orderkey FROM del)
              UNION ALL SELECT o_orderkey, cents FROM ins)
    SELECT CAST((SELECT count(*) FROM base) AS BIGINT) AS n_before,
           CAST((SELECT count(*) FROM ins) AS BIGINT) AS n_inserted,
           CAST((SELECT count(*) FROM del) AS BIGINT) AS n_deleted,
           CAST((SELECT count(*) FROM after) AS BIGINT) AS n_after,
           CAST((SELECT sum(cents) FROM after) AS BIGINT) AS revenue_after_cents
    """,
)
def tpch_refresh_cycle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-style refresh cycle (the RF1/RF2 shapes of the published
    throughput test): insert a deterministic ~0.1% batch of new orders
    (fresh keys above the current max) and delete a disjoint ~0.1%
    cohort, then report the resulting table's row count and exact-cents
    revenue — the maintenance counterpart of the 22 query shapes, and
    what [[cdc_merge_upsert]] generalizes to arbitrary change logs.

    The cycle is ONE lazy plan: the insert batch is a projection of the
    base (no generator state), the delete is an anti-join, the final
    table a union — and the post-cycle aggregate doubles as the
    verification checksum ([[table_checksum]] is the full-row form).
    At scale both halves ride partition operations: inserts append
    files, deletes rewrite only the partitions holding the cohort
    (the dynamic-partition-overwrite machinery proven in
    plans/product.py::append_dataset_to_product).
    """
    base = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        to_fixed("o_totalprice", 100).alias("cents"),
    )
    mx = base.agg(F.max("o_orderkey").cast("bigint").alias("m"))
    ins = (
        base.where(F.col("o_orderkey") % RF_MOD == 0)
        .crossJoin(F.broadcast(mx))
        .select(
            (F.col("o_orderkey") + F.col("m") + 1).alias("o_orderkey"), "cents"
        )
    )
    dele = base.where(F.col("o_orderkey") % RF_MOD == 1).select("o_orderkey")
    after = base.join(dele, "o_orderkey", "left_anti").unionByName(ins)
    return (
        base.agg(F.count("*").alias("n_before"))
        .crossJoin(ins.agg(F.count("*").alias("n_inserted")))
        .crossJoin(dele.agg(F.count("*").alias("n_deleted")))
        .crossJoin(
            after.agg(
                F.count("*").alias("n_after"),
                F.sum("cents").cast("bigint").alias("revenue_after_cents"),
            )
        )
        .select(
            F.col("n_before").cast("bigint"),
            F.col("n_inserted").cast("bigint"),
            F.col("n_deleted").cast("bigint"),
            F.col("n_after").cast("bigint"),
            "revenue_after_cents",
        )
    )


# ---------------------------------------------------------------------------
# graph_kcore_peel — bounded k-core decomposition by iterative peeling
# ---------------------------------------------------------------------------

KCORE_K = 3
KCORE_ROUNDS = 3


def _kcore_oracle() -> str:
    ctes = [
        """
    n0 AS (SELECT DISTINCT src AS node FROM edges)"""
    ]
    prev = "n0"
    for r in range(1, KCORE_ROUNDS + 1):
        ctes.append(f"""
    d{r} AS (SELECT e.src AS node, count(*) AS deg
             FROM edges e
             JOIN {prev} a ON a.node = e.src
             JOIN {prev} b ON b.node = e.dst
             GROUP BY e.src),
    n{r} AS (SELECT node FROM d{r} WHERE deg >= {KCORE_K})""")
        prev = f"n{r}"
    return (
        f"WITH {_BULK_EDGES_CTES}, "
        + ",".join(ctes)
        + f"""
    SELECT CAST((SELECT count(*) FROM n0) AS BIGINT) AS n_nodes,
           CAST((SELECT count(*) FROM n{KCORE_ROUNDS}) AS BIGINT)
               AS n_core_nodes,
           CAST((SELECT count(*) FROM edges e
                 JOIN n{KCORE_ROUNDS} a ON a.node = e.src
                 JOIN n{KCORE_ROUNDS} b ON b.node = e.dst) / 2 AS BIGINT)
               AS n_core_edges"""
    )


@query("graph_kcore_peel", oracle=_kcore_oracle())
def graph_kcore_peel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core extraction (k={k}) on the bulk co-order graph by {r}
    rounds of PEELING: repeatedly drop nodes whose degree within the
    surviving subgraph falls below k — the standard dense-region /
    spam-ring / engagement-tier primitive (a node's coreness survives
    the removal of every low-degree hanger-on, unlike raw degree).
    Fixed small round count as a declared contract (full decomposition
    iterates to fixpoint — the Pregel-loop pattern of
    connected_components); {r} rounds already separate the dense core
    from the tree-like fringe on this graph.

    Per round: one degree count restricted to survivors (edges
    semi-joined to the surviving node set on BOTH endpoints, one
    combinable aggregation).  The shuffles stay node-grained; the edge
    set is persisted once and reused by every round.
    """
    # lazy localCheckpoints (ADVICE r03 leak fix): the edge set is
    # reused by every peel round plus the final core-edge count; each
    # round's survivor set truncates lineage; blocks die with the result
    edges = both_ways(copart_pairs(spark, sf_dir, BFS_BULK)).transform(_ckpt_lazy)
    nodes = edges.select(F.col("src").alias("node")).distinct().transform(_ckpt_lazy)
    surv = nodes
    for _ in range(KCORE_ROUNDS):
        deg = (
            edges.join(surv.select(F.col("node").alias("src")), "src")
            .join(surv.select(F.col("node").alias("dst")), "dst")
            .groupBy(F.col("src").alias("node"))
            .agg(F.count("*").alias("deg"))
        )
        surv = (
            deg.where(F.col("deg") >= KCORE_K)
            .select("node")
            .transform(_ckpt_lazy)
        )
    core_edges = (
        edges.join(surv.select(F.col("node").alias("src")), "src")
        .join(surv.select(F.col("node").alias("dst")), "dst")
    )
    return (
        nodes.agg(F.count("*").alias("n_nodes"))
        .crossJoin(surv.agg(F.count("*").alias("n_core_nodes")))
        .crossJoin(
            core_edges.agg((F.count("*") / 2).cast("bigint").alias("n_core_edges"))
        )
        .select(
            F.col("n_nodes").cast("bigint"),
            F.col("n_core_nodes").cast("bigint"),
            "n_core_edges",
        )
    )


graph_kcore_peel.__doc__ = graph_kcore_peel.__doc__.format(
    k=KCORE_K, r=KCORE_ROUNDS
)


# ---------------------------------------------------------------------------
# stat_anova_oneway — k-group mean comparison from exact moments
# ---------------------------------------------------------------------------


@query(
    "stat_anova_oneway",
    oracle=f"""
    WITH s AS (SELECT event_type,
                      {to_fixed_sql("value", 100)} AS cents
               FROM events),
    g AS (SELECT event_type,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(cents) AS BIGINT) AS s1,
                 CAST(sum(CAST(cents AS DECIMAL(38,0)) * cents) AS DECIMAL(38,0))
                     AS s2
          FROM s GROUP BY event_type),
    t AS (SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(n) AS BIGINT) AS n,
                 CAST(sum(s1) AS BIGINT) AS s1,
                 CAST(sum(s2) AS DECIMAL(38,0)) AS s2,
                 sum(CAST(s1 AS DOUBLE) * s1 / n) AS group_sq
          FROM g)
    SELECT k AS n_groups, n AS n_rows,
           round((group_sq - CAST(s1 AS DOUBLE) * s1 / n) / (k - 1)
                 / ((CAST(s2 AS DOUBLE) - group_sq) / (n - k)), 6) AS f_stat,
           CAST(k - 1 AS BIGINT) AS df_between,
           CAST(n - k AS BIGINT) AS df_within
    FROM t
    """,
)
def stat_anova_oneway(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-way ANOVA F statistic across the five event-type groups —
    the k-group generalization of the two-sample tests
    ([[stat_welch_ttest_ab]]): does event type explain variance in value
    at all, before pairwise comparisons (which need multiplicity
    control) are even worth running?

    Textbook sufficient-statistics form: per-group (n, Σx, Σx²) in one
    combinable shuffle (cents in BIGINT, squares on the DECIMAL(38,0)
    lane), then SSB/SSW assembled on the k-row aggregate — the only
    non-integer reduction is the k-term Σ(S_g²/n_g), a 5-element sum
    whose operands differ by orders of magnitude from its error scale
    at the 6-decimal rounding.  F and both degrees of freedom surface
    so the reader can look up the critical value.
    """
    s = _t(spark, sf_dir, "events").select(
        "event_type",
        to_fixed("value", 100).alias("cents"),
    )
    g = s.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("cents").cast("bigint").alias("s1"),
        F.sum(F.col("cents").cast("decimal(38,0)") * F.col("cents")).alias("s2"),
    )
    t = g.agg(
        F.count("*").alias("k"),
        F.sum("n").cast("bigint").alias("n"),
        F.sum("s1").cast("bigint").alias("s1"),
        F.sum("s2").alias("s2"),
        F.sum(F.col("s1").cast("double") * F.col("s1") / F.col("n")).alias(
            "group_sq"
        ),
    )
    ssb = F.col("group_sq") - F.col("s1").cast("double") * F.col("s1") / F.col("n")
    ssw = F.col("s2").cast("double") - F.col("group_sq")
    return t.select(
        F.col("k").cast("bigint").alias("n_groups"),
        F.col("n").alias("n_rows"),
        F.round(
            (ssb / (F.col("k") - 1)) / (ssw / (F.col("n") - F.col("k"))), 6
        ).alias("f_stat"),
        (F.col("k") - 1).cast("bigint").alias("df_between"),
        (F.col("n") - F.col("k")).cast("bigint").alias("df_within"),
    )


# ---------------------------------------------------------------------------
# events_bounce_rate_daily — single-event-session share per day
# ---------------------------------------------------------------------------


@query(
    "events_bounce_rate_daily",
    oracle=f"""
    WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events WHERE ts IS NOT NULL),
    g AS (SELECT user_id, us,
                 CASE WHEN us - lag(us) OVER (PARTITION BY user_id ORDER BY us)
                           > {PEAK_SESSION_GAP_US}
                      OR lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                      THEN 1 ELSE 0 END AS new_s
          FROM e),
    s AS (SELECT user_id, us,
                 sum(new_s) OVER (PARTITION BY user_id ORDER BY us
                                  ROWS UNBOUNDED PRECEDING) AS sid
          FROM g),
    iv AS (SELECT user_id, sid,
                  {epoch_day_from_us_sql("CAST(min(us) AS BIGINT)")} AS day,
                  CAST(count(*) AS BIGINT) AS n_events
           FROM s GROUP BY user_id, sid)
    SELECT day,
           CAST(count(*) AS BIGINT) AS n_sessions,
           CAST(sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_bounces,
           {mean_quantized_sql(
               "sum(CASE WHEN n_events = 1 THEN 1 ELSE 0 END)", "count(*)"
           )} AS bounce_rate
    FROM iv GROUP BY day
    """,
)
def events_bounce_rate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily bounce rate: share of sessions containing exactly one event
    (session = the same 30-min-gap islands as [[window_session_agg]] /
    [[events_peak_concurrency]], keyed to the day the session STARTED) —
    the engagement-quality headline that raw event counts hide (traffic
    can rise while every new session bounces).

    The session window is the one per-user shuffle every session-grain
    metric in this repo shares; bounce classification is a per-session
    count, and the daily rollup is combinable.  Sessions attribute to
    their start day (the standard convention, stated because midnight-
    spanning sessions would otherwise double-count).
    """
    from .sources.tables import epoch_day_from_us, ts_us_expr

    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    e = ev.select("user_id", ts_us_expr(ev).alias("us"))
    w = Window.partitionBy("user_id").orderBy("us")
    g = e.withColumn(
        "new_s",
        F.when(
            (F.col("us") - F.lag("us").over(w) > PEAK_SESSION_GAP_US)
            | F.lag("us").over(w).isNull(),
            1,
        ).otherwise(0),
    )
    s = g.withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    iv = s.groupBy("user_id", "sid").agg(
        epoch_day_from_us(F.min("us")).alias("day"),
        F.count("*").alias("n_events"),
    )
    return iv.groupBy("day").agg(
        F.count("*").alias("n_sessions"),
        F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0))
        .cast("bigint")
        .alias("n_bounces"),
        # exact quantized session ratio (docs/OPERATIONS.md contract)
        mean_quantized(
            F.sum(F.when(F.col("n_events") == 1, 1).otherwise(0)),
            F.count("*"),
        ).alias("bounce_rate"),
    )


# ---------------------------------------------------------------------------
# corpus_license_scan — license/rights-notice pattern audit
# ---------------------------------------------------------------------------

_LICENSE_PATTERNS = (
    ("copyright", "copyright|\\(c\\) [0-9]{4}"),
    ("rights_reserved", "all rights reserved"),
    ("cc_license", "creative commons|cc by(-[a-z]{2})*"),
    ("gpl", "gnu general public license|gpl-?[0-9]"),
)


def _license_oracle() -> str:
    cols = ", ".join(
        f"CAST(len(regexp_extract_all(lower(text), '{pat}')) AS BIGINT)"
        f" AS n_{name}"
        for name, pat in _LICENSE_PATTERNS
    )
    any_pred = " + ".join(
        f"len(regexp_extract_all(lower(text), '{pat}'))"
        for _, pat in _LICENSE_PATTERNS
    )
    return f"""
    WITH d AS (SELECT doc_id, source, {cols}, ({any_pred}) > 0 AS has_notice
               FROM documents)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(CASE WHEN has_notice THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged,
           CAST(sum(n_copyright) AS BIGINT) AS n_copyright,
           CAST(sum(n_rights_reserved) AS BIGINT) AS n_rights_reserved,
           CAST(sum(n_cc_license) AS BIGINT) AS n_cc_license,
           CAST(sum(n_gpl) AS BIGINT) AS n_gpl
    FROM d GROUP BY source
    """


@query("corpus_license_scan", oracle=_license_oracle())
def corpus_license_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License / rights-notice audit per source: match counts for
    copyright lines, all-rights-reserved notices, Creative-Commons tags,
    and GPL markers — the compliance scan a training-data pipeline runs
    before a source enters the mix (flagged sources go to counsel or a
    filter rule, the [[corpus_pii_scan]] discipline applied to RIGHTS
    rather than identity).

    Shuffle-free regexp battery rolled up per source; patterns avoid
    lookarounds for Java/RE2 agreement and each carries an anchoring
    literal, so the pre-gate trick is available if a pattern ever turns
    hot (measured necessity on the email regex, corpus_pii_scan).
    """
    d = _t(spark, sf_dir, "documents")
    count_cols = [
        F.expr(
            f"CAST(regexp_count(lower(text), '{pat}') AS BIGINT)"
        ).alias(f"n_{name}")
        for name, pat in _LICENSE_PATTERNS
    ]
    scanned = d.select("doc_id", "source", *count_cols)
    total = None
    for name, _ in _LICENSE_PATTERNS:
        c = F.col(f"n_{name}")
        total = c if total is None else total + c
    scanned = scanned.withColumn("has_notice", total > 0)
    return scanned.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("has_notice"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_flagged"),
        *[
            F.sum(f"n_{name}").cast("bigint").alias(f"n_{name}")
            for name, _ in _LICENSE_PATTERNS
        ],
    )


# ---------------------------------------------------------------------------
# ml_decision_stump — exact best-split search by Gini impurity
# ---------------------------------------------------------------------------


@query(
    "ml_decision_stump",
    oracle=f"""
    WITH s AS (SELECT {to_fixed_sql("value", 100)} AS cents,
                      CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS pos
               FROM events WHERE value IS NOT NULL),
    g AS (SELECT cents, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(pos) AS BIGINT) AS p
          FROM s GROUP BY cents),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS nt, CAST(sum(p) AS BIGINT) AS pt
            FROM g),
    c AS (SELECT cents,
                 CAST(sum(n) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS nl,
                 CAST(sum(p) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)
                      AS BIGINT) AS pl
          FROM g),
    sc AS (SELECT c.cents, c.nl, c.pl, tot.nt, tot.pt,
                  CAST(round((
                    (CAST(c.nl AS DOUBLE) / tot.nt)
                      * (1 - pow(CAST(c.pl AS DOUBLE) / c.nl, 2)
                           - pow(1 - CAST(c.pl AS DOUBLE) / c.nl, 2))
                    + (CAST(tot.nt - c.nl AS DOUBLE) / tot.nt)
                      * (1 - pow(CAST(tot.pt - c.pl AS DOUBLE) / (tot.nt - c.nl), 2)
                           - pow(1 - CAST(tot.pt - c.pl AS DOUBLE)
                                 / (tot.nt - c.nl), 2))
                  ) * 1000000000) AS BIGINT) AS wg_ns
           FROM c, tot WHERE c.nl < tot.nt),
    best AS (SELECT cents, nl, pl, nt, pt, wg_ns,
                    row_number() OVER (ORDER BY wg_ns, cents) AS rk
             FROM sc)
    SELECT cents AS best_threshold_cents,
           {mean_quantized_sql(
               "2 * CAST(pt AS HUGEINT) * (nt - pt)",
               "CAST(nt AS HUGEINT) * nt",
           )} AS gini_parent,
           {mean_quantized_sql("wg_ns", "1000000000")} AS gini_split,
           round({mean_quantized_sql(
               "2 * CAST(pt AS HUGEINT) * (nt - pt)",
               "CAST(nt AS HUGEINT) * nt",
           )} - {mean_quantized_sql("wg_ns", "1000000000")}, 6) AS gini_gain,
           CAST(nl AS BIGINT) AS n_left, CAST(nt - nl AS BIGINT) AS n_right
    FROM best WHERE rk = 1
    """,
)
def ml_decision_stump(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact best-split search for a decision stump: the value threshold
    minimizing weighted Gini impurity for the purchase label — the
    inner loop of every tree/GBM learner, expressed as ONE cumulative
    window over the distinct-value grid (per-value class counts →
    cumulative left-side counts → weighted impurity per candidate cut),
    the stat_ks_two_sample/ml_roc_auc grid pattern again: no per-row
    sort, no per-threshold rescans.

    Ladder: class counts are exact integers; each candidate's weighted
    Gini is one fixed float formula quantized to 1e-9 BEFORE the argmin
    (ties then break on the threshold value), so engines cannot
    disagree on the winning cut.  Output: the winning threshold,
    parent/split impurity, the gain, and the resulting partition sizes.
    """
    # a NULL feature value yields no candidate cut: excluded both sides
    # (its grid group otherwise sorts NULLS FIRST in Spark's cumulative
    # window and NULLS LAST in DuckDB's — hostile-fixture find)
    s = _t(spark, sf_dir, "events").where(F.col("value").isNotNull()).select(
        to_fixed("value", 100).alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("pos"),
    )
    g = s.groupBy("cents").agg(
        F.count("*").alias("n"), F.sum("pos").cast("bigint").alias("p")
    )
    tot = g.agg(
        F.sum("n").cast("bigint").alias("nt"), F.sum("p").cast("bigint").alias("pt")
    )
    cw = Window.orderBy("cents").rowsBetween(Window.unboundedPreceding, 0)
    c = g.select(
        "cents",
        F.sum("n").over(cw).cast("bigint").alias("nl"),
        F.sum("p").over(cw).cast("bigint").alias("pl"),
    )
    sc = c.crossJoin(F.broadcast(tot)).where(F.col("nl") < F.col("nt"))
    pl_ratio = F.col("pl").cast("double") / F.col("nl")
    pr_ratio = (F.col("pt") - F.col("pl")).cast("double") / (
        F.col("nt") - F.col("nl")
    )
    wg = (
        (F.col("nl").cast("double") / F.col("nt"))
        * (1 - F.pow(pl_ratio, 2) - F.pow(1 - pl_ratio, 2))
        + ((F.col("nt") - F.col("nl")).cast("double") / F.col("nt"))
        * (1 - F.pow(pr_ratio, 2) - F.pow(1 - pr_ratio, 2))
    )
    scored = sc.withColumn(
        "wg_ns", F.round(wg * 1_000_000_000).cast("bigint")
    )
    wbest = Window.orderBy("wg_ns", "cents")
    best = scored.withColumn("rk", F.row_number().over(wbest)).where(
        F.col("rk") == 1
    )
    # exact rational parent impurity: 1 - p^2 - (1-p)^2 == 2*pt*(nt-pt)/nt^2
    dec = "decimal(38,0)"
    parent_q = mean_quantized(
        F.lit(2) * F.col("pt").cast(dec) * (F.col("nt") - F.col("pt")),
        F.col("nt").cast(dec) * F.col("nt"),
    )
    split_q = mean_quantized("wg_ns", F.lit(1_000_000_000))
    return best.select(
        F.col("cents").alias("best_threshold_cents"),
        parent_q.alias("gini_parent"),
        split_q.alias("gini_split"),
        # composition of quantized values: round() sits ~0.5e-6 from
        # any boundary (docs/OPERATIONS.md)
        F.round(parent_q - split_q, 6).alias("gini_gain"),
        F.col("nl").alias("n_left"),
        (F.col("nt") - F.col("nl")).cast("bigint").alias("n_right"),
    )


# ---------------------------------------------------------------------------
# orders_otif_rate — on-time-in-full fulfillment by priority
# ---------------------------------------------------------------------------

OTIF_SLA_DAYS = 30


@query(
    "orders_otif_rate",
    oracle=f"""
    WITH o AS (SELECT o_orderkey, o_orderpriority,
                      epoch_us(o_orderdate) // 86400000000 AS od
               FROM orders),
    l AS (SELECT l_orderkey,
                 max(epoch_us(l_shipdate) // 86400000000) AS last_ship,
                 CAST(count(*) AS BIGINT) AS n_lines
          FROM lineitem GROUP BY l_orderkey),
    j AS (SELECT o.o_orderpriority,
                 CASE WHEN l.last_ship IS NOT NULL
                       AND l.last_ship - o.od <= {OTIF_SLA_DAYS}
                      THEN 1 ELSE 0 END AS otif
          FROM o LEFT JOIN l ON l.l_orderkey = o.o_orderkey)
    SELECT o_orderpriority,
           CAST(count(*) AS BIGINT) AS n_orders,
           CAST(sum(otif) AS BIGINT) AS n_otif,
           {mean_quantized_sql("sum(otif)", "count(*)")} AS otif_rate
    FROM j GROUP BY o_orderpriority
    """,
)
def orders_otif_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """On-time-in-full rate by order priority: an order counts as OTIF
    only when its LAST line ships within {d} days of the order date —
    the supply-chain headline where per-line on-time averages flatter
    the truth (one late line fails the order, which is what the
    customer experiences).  Orders with no lines fail by definition
    (the backlog-snapshot convention for malformed orders).

    One per-order completion aggregate (max shipdate, combinable), one
    left join keyed on the natural order key, one conditional rollup —
    exact integer day arithmetic throughout, one division per output
    row.  Complements [[supplier_lead_time_profile]] (latency
    distribution) with the binary SLA view.
    """
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr("CAST(unix_date(CAST(o_orderdate AS DATE)) AS BIGINT)").alias(
            "od"
        ),
    )
    l = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_orderkey")
        .agg(
            F.max(
                F.expr("CAST(unix_date(CAST(l_shipdate AS DATE)) AS BIGINT)")
            ).alias("last_ship")
        )
    )
    j = o.join(l, o.o_orderkey == l.l_orderkey, "left").select(
        "o_orderpriority",
        F.when(
            F.col("last_ship").isNotNull()
            & (F.col("last_ship") - F.col("od") <= OTIF_SLA_DAYS),
            1,
        )
        .otherwise(0)
        .alias("otif"),
    )
    return j.groupBy("o_orderpriority").agg(
        F.count("*").alias("n_orders"),
        F.sum("otif").cast("bigint").alias("n_otif"),
        mean_quantized(F.sum("otif"), F.count("*")).alias("otif_rate"),
    )


orders_otif_rate.__doc__ = orders_otif_rate.__doc__.format(d=OTIF_SLA_DAYS)


# ---------------------------------------------------------------------------
# orders_single_source_risk — sole-supplier exposure by brand
# ---------------------------------------------------------------------------


@query(
    "orders_single_source_risk",
    oracle=f"""
    WITH ps AS (SELECT l_partkey,
                       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_suppliers,
                       CAST(sum({to_fixed_sql("l_extendedprice", 100)})
                            AS BIGINT) AS rev_cents
                FROM lineitem GROUP BY l_partkey),
    j AS (SELECT p.p_brand, ps.n_suppliers, ps.rev_cents
          FROM ps JOIN part p ON p.p_partkey = ps.l_partkey)
    SELECT p_brand,
           CAST(count(*) AS BIGINT) AS n_parts,
           CAST(sum(CASE WHEN n_suppliers = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_single_source,
           CAST(sum(CASE WHEN n_suppliers = 1 THEN rev_cents ELSE 0 END)
                AS BIGINT) AS exposed_rev_cents,
           {mean_quantized_sql(
               "sum(CASE WHEN n_suppliers = 1 THEN rev_cents ELSE 0 END)",
               "sum(rev_cents)",
           )} AS exposed_rev_share
    FROM j GROUP BY p_brand
    """,
)
def orders_single_source_risk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sole-supplier exposure by brand: parts with exactly ONE observed
    supplier and the revenue share riding on them — the supply-risk
    register entry ([[supplier_concentration_hhi]] measures aggregate
    concentration; this finds the specific parts where one supplier
    failure stops revenue outright).

    Per-part distinct-supplier counts and exact-cents revenue in one
    combinable shuffle, a broadcast dim join for the brand, one rollup.
    'Single-source' is an OBSERVED property of the trade history — the
    honest operational definition when no contract data exists.
    """
    ps = (
        _t(spark, sf_dir, "lineitem")
        .groupBy("l_partkey")
        .agg(
            F.countDistinct("l_suppkey").cast("bigint").alias("n_suppliers"),
            F.sum(to_fixed("l_extendedprice", 100))
            .cast("bigint")
            .alias("rev_cents"),
        )
    )
    part = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    j = ps.join(F.broadcast(part), ps.l_partkey == part.p_partkey)
    single = F.when(F.col("n_suppliers") == 1, 1).otherwise(0)
    exposed = F.when(F.col("n_suppliers") == 1, F.col("rev_cents")).otherwise(0)
    return j.groupBy("p_brand").agg(
        F.count("*").alias("n_parts"),
        F.sum(single).cast("bigint").alias("n_single_source"),
        F.sum(exposed).cast("bigint").alias("exposed_rev_cents"),
        mean_quantized(F.sum(exposed), F.sum("rev_cents")).alias(
            "exposed_rev_share"
        ),
    )


# ---------------------------------------------------------------------------
# ml_naive_bayes_langid — train + predict + evaluate, all as DataFrames
# ---------------------------------------------------------------------------


@query(
    "ml_naive_bayes_langid",
    oracle=f"""
    WITH toks AS (SELECT doc_id, lang,
                         unnest({tokens_sql()})
                             AS tok
                  FROM documents),
    tk AS (SELECT doc_id, lang, tok FROM toks WHERE tok <> ''),
    dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n_dt
           FROM tk GROUP BY doc_id, tok),
    lt AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c_lt
           FROM tk GROUP BY lang, tok),
    lc AS (SELECT lang, CAST(sum(c_lt) AS BIGINT) AS c_l FROM lt GROUP BY lang),
    vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM tk),
    prior AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents
              GROUP BY lang),
    ntot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    grid AS (SELECT dt.doc_id, dt.tok, dt.n_dt, lc.lang, lc.c_l, vocab.v,
                    coalesce(lt.c_lt, 0) AS c_lt
             FROM dt CROSS JOIN lc CROSS JOIN vocab
             LEFT JOIN lt ON lt.lang = lc.lang AND lt.tok = dt.tok),
    scores AS (SELECT doc_id, lang,
                      CAST(sum(n_dt * CAST(round(
                        (ln(c_lt + 1) - ln(c_l + v)) * 1000000000)
                        AS BIGINT)) AS BIGINT) AS ll_ns
               FROM grid GROUP BY doc_id, lang),
    withprior AS (SELECT s.doc_id, s.lang,
                         s.ll_ns + CAST(round(
                           (ln(p.n_docs) - ln(ntot.n)) * 1000000000)
                           AS BIGINT) AS post_ns
                  FROM scores s JOIN prior p ON p.lang = s.lang
                  CROSS JOIN ntot),
    pred AS (SELECT doc_id, lang AS pred_lang FROM (
               SELECT doc_id, lang,
                      row_number() OVER (PARTITION BY doc_id
                                         ORDER BY post_ns DESC, lang) AS rk
               FROM withprior) WHERE rk = 1)
    SELECT d.lang AS declared_lang, p.pred_lang,
           CAST(count(*) AS BIGINT) AS n_docs
    FROM documents d JOIN pred p ON p.doc_id = d.doc_id
    GROUP BY d.lang, p.pred_lang
    """,
)
def ml_naive_bayes_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multinomial Naive Bayes language classifier — TRAINED, APPLIED,
    and EVALUATED entirely as DataFrame operations: per-language token
    counts with add-one smoothing are the model (a TABLE, not an
    artifact), per-document log-posteriors are a join + one combinable
    sum, the argmax is a per-doc window, and the output is the
    declared-vs-predicted confusion matrix (the trained-model upgrade
    of the stopword heuristic audited in [[corpus_lang_confusion]]).

    This is the sufficient-statistics ML pattern completing the family
    (PCA = Gram, regression = moments, NB = count tables): training is
    one shuffle of (lang, token) counts; inference shuffles (doc,
    token)⋈(lang, token) with absent pairs handled by the dense
    lang×doc-token grid (|langs|× fan-out of the doc-token table — 5×
    here; at a large label count the grid restricts to observed pairs
    plus a per-lang absent-mass closed form, the
    corpus_js_divergence_sources trick).  Log-likelihood TERMS are
    quantized to 1e-9 BIGINTs per (token, lang) BEFORE the per-doc
    sum, so the distributed accumulation is exact and the argmax is
    integer — cross-engine bit-stable.  In-sample evaluation, stated:
    the contract pins the pipeline's arithmetic, not generalization
    ([[corpus_split_assign]] supplies the held-out split when needed).
    """
    from .extensions.text import tokens as tok_fn

    d = _t(spark, sf_dir, "documents")
    tk = (
        d.select("doc_id", "lang", F.explode(tok_fn("text")).alias("tok"))
        .where(F.col("tok") != "")
    )
    dt = tk.groupBy("doc_id", "tok").agg(F.count("*").alias("n_dt"))
    lt = tk.groupBy("lang", "tok").agg(F.count("*").alias("c_lt"))
    lc = lt.groupBy("lang").agg(F.sum("c_lt").cast("bigint").alias("c_l"))
    vocab = tk.agg(F.countDistinct("tok").cast("bigint").alias("v"))
    prior = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    ntot = d.agg(F.count("*").alias("n"))
    grid = (
        dt.crossJoin(F.broadcast(lc))
        .crossJoin(F.broadcast(vocab))
        .join(lt, ["lang", "tok"], "left")
        .select(
            "doc_id",
            "tok",
            "n_dt",
            "lang",
            "c_l",
            "v",
            F.coalesce("c_lt", F.lit(0)).alias("c_lt"),
        )
    )
    term_ns = F.round(
        (F.log(F.col("c_lt") + 1) - F.log(F.col("c_l") + F.col("v")))
        * 1_000_000_000
    ).cast("bigint")
    scores = grid.groupBy("doc_id", "lang").agg(
        F.sum(F.col("n_dt") * term_ns).cast("bigint").alias("ll_ns")
    )
    withprior = (
        scores.join(F.broadcast(prior), "lang")
        .crossJoin(F.broadcast(ntot))
        .select(
            "doc_id",
            "lang",
            (
                F.col("ll_ns")
                + F.round(
                    (F.log(F.col("n_docs")) - F.log(F.col("n"))) * 1_000_000_000
                ).cast("bigint")
            ).alias("post_ns"),
        )
    )
    wp = Window.partitionBy("doc_id").orderBy(F.desc("post_ns"), "lang")
    pred = (
        withprior.withColumn("rk", F.row_number().over(wp))
        .where(F.col("rk") == 1)
        .select("doc_id", F.col("lang").alias("pred_lang"))
    )
    return (
        d.select("doc_id", F.col("lang").alias("declared_lang"))
        .join(pred, "doc_id")
        .groupBy("declared_lang", "pred_lang")
        .agg(F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# ml_logistic_irls — logistic regression by IRLS on sufficient statistics
# ---------------------------------------------------------------------------

IRLS_ITERS = 3
_NS = 1_000_000_000


def _irls_oracle() -> str:
    ctes = [f"""
    s AS (SELECT {to_fixed_sql("value", 100)} AS cents,
                 CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END AS y
          FROM events),
    g AS (SELECT cents, y, CAST(count(*) AS BIGINT) AS cnt,
                 cents / 10000.0 AS x
          FROM s GROUP BY cents, y),
    b0 AS (SELECT CAST(0 AS DOUBLE) AS b0, CAST(0 AS DOUBLE) AS b1)"""]
    for r in range(1, IRLS_ITERS + 1):
        p = r - 1
        ctes.append(f"""
    t{r} AS (SELECT g.cnt, g.x, g.y,
                    1.0 / (1.0 + exp(-(b.b0 + b.b1 * g.x))) AS mu
             FROM g, b{p} b),
    q{r} AS (SELECT cnt, x, y, mu,
                    CAST(round(mu * (1 - mu) * {_NS}) AS BIGINT) AS w_ns,
                    CAST(round(mu * (1 - mu) * x * {_NS}) AS BIGINT) AS wx_ns,
                    CAST(round(mu * (1 - mu) * x * x * {_NS}) AS BIGINT) AS wxx_ns,
                    CAST(round((mu * (1 - mu)
                                * ((SELECT b0 FROM b{p}) + (SELECT b1 FROM b{p}) * x)
                                + (y - mu)) * {_NS}) AS BIGINT) AS wz_ns,
                    CAST(round((mu * (1 - mu) * x
                                * ((SELECT b0 FROM b{p}) + (SELECT b1 FROM b{p}) * x)
                                + x * (y - mu)) * {_NS}) AS BIGINT) AS wxz_ns
             FROM t{r}),
    m{r} AS (SELECT CAST(sum(cnt * w_ns) AS BIGINT) AS sw,
                    CAST(sum(cnt * wx_ns) AS BIGINT) AS swx,
                    CAST(sum(cnt * wxx_ns) AS BIGINT) AS swxx,
                    CAST(sum(cnt * wz_ns) AS BIGINT) AS swz,
                    CAST(sum(cnt * wxz_ns) AS BIGINT) AS swxz
             FROM q{r}),
    b{r} AS (SELECT
               CAST({ratio_scaled_int_signed_sql(
                   "CAST(swxx AS HUGEINT) * swz - CAST(swx AS HUGEINT) * swxz",
                   "CAST(sw AS HUGEINT) * swxx - CAST(swx AS HUGEINT) * swx",
                   _NS)} AS BIGINT) AS b0_ns,
               CAST({ratio_scaled_int_signed_sql(
                   "CAST(sw AS HUGEINT) * swxz - CAST(swx AS HUGEINT) * swz",
                   "CAST(sw AS HUGEINT) * swxx - CAST(swx AS HUGEINT) * swx",
                   _NS)} AS BIGINT) AS b1_ns,
               CAST({ratio_scaled_int_signed_sql(
                   "CAST(swxx AS HUGEINT) * swz - CAST(swx AS HUGEINT) * swxz",
                   "CAST(sw AS HUGEINT) * swxx - CAST(swx AS HUGEINT) * swx",
                   _NS)} AS BIGINT) / 1000000000.0 AS b0,
               CAST({ratio_scaled_int_signed_sql(
                   "CAST(sw AS HUGEINT) * swxz - CAST(swx AS HUGEINT) * swz",
                   "CAST(sw AS HUGEINT) * swxx - CAST(swx AS HUGEINT) * swx",
                   _NS)} AS BIGINT) / 1000000000.0 AS b1
             FROM m{r})""")
    last = IRLS_ITERS
    return (
        "WITH "
        + ",".join(ctes)
        + f"""
    SELECT CAST({IRLS_ITERS} AS BIGINT) AS n_iters,
           {mean_quantized_signed_sql("b0_ns", str(_NS))} AS beta0,
           {mean_quantized_signed_sql("b1_ns", str(_NS))} AS beta1
    FROM b{last}"""
    )


@query("ml_logistic_irls", oracle=_irls_oracle())
def ml_logistic_irls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Logistic regression (purchase ~ value) fitted by {r} rounds of
    IRLS — iteratively reweighted least squares, the textbook GLM
    fitter — expressed as the sufficient-statistics pattern: each round
    reduces the data to FIVE weighted sums (ΣW, ΣWx, ΣWx², ΣWz, ΣWxz),
    and the 2-parameter normal equations solve in closed form on the
    one-row aggregate — no matrix library, no driver-side data.

    Determinism ladder, per round: rows collapse to the distinct
    (cents, label) grid first (weights are identical within a cell, so
    cell terms multiply by exact integer counts); each cell's five
    IRLS terms are computed once in doubles and quantized to 1e-9
    BIGINTs BEFORE the distributive sums; the closed-form solve runs
    on exact integers; and β re-rounds to 1e-9 between rounds so every
    iteration starts from identical numbers on both engines.  The
    corpus-sized work per round is one combinable aggregation — the
    same cost profile as vector_kmeans_lloyd's iterations.
    """
    s = _t(spark, sf_dir, "events").select(
        to_fixed("value", 100).alias("cents"),
        F.when(F.col("event_type") == "purchase", 1).otherwise(0).alias("y"),
    )
    g = s.groupBy("cents", "y").agg(F.count("*").alias("cnt")).select(
        "cnt", "y", (F.col("cents") / 10000.0).alias("x")
    )
    from pyspark import StorageLevel

    g = g.persist(StorageLevel.MEMORY_AND_DISK)
    beta = (0.0, 0.0)
    b_df = None
    for r in range(IRLS_ITERS):
        b0, b1 = beta
        eta = F.lit(b0) + F.lit(b1) * F.col("x")
        mu = 1.0 / (1.0 + F.exp(-eta))
        w = mu * (1 - mu)
        z_num = w * eta + (F.col("y") - mu)
        xz_num = w * F.col("x") * eta + F.col("x") * (F.col("y") - mu)
        q = g.select(
            "cnt",
            F.round(w * _NS).cast("bigint").alias("w_ns"),
            F.round(w * F.col("x") * _NS).cast("bigint").alias("wx_ns"),
            F.round(w * F.col("x") * F.col("x") * _NS).cast("bigint").alias("wxx_ns"),
            F.round(z_num * _NS).cast("bigint").alias("wz_ns"),
            F.round(xz_num * _NS).cast("bigint").alias("wxz_ns"),
        )
        m = q.agg(
            F.sum(F.col("cnt") * F.col("w_ns")).cast("bigint").alias("sw"),
            F.sum(F.col("cnt") * F.col("wx_ns")).cast("bigint").alias("swx"),
            F.sum(F.col("cnt") * F.col("wxx_ns")).cast("bigint").alias("swxx"),
            F.sum(F.col("cnt") * F.col("wz_ns")).cast("bigint").alias("swz"),
            F.sum(F.col("cnt") * F.col("wxz_ns")).cast("bigint").alias("swxz"),
        ).first()
        if m.sw is None:  # sums over zero rows are NULL: nothing to fit
            # one (n_iters, NULL, NULL) row, not zero rows: the oracle's
            # aggregate-without-GROUP-BY always yields exactly one row
            # with NULL betas, and the degenerate shapes must agree
            # (r09 ADVICE — cross-engine row-count symmetry)
            g.unpersist()
            return spark.createDataFrame(
                [(IRLS_ITERS, None, None)],
                "n_iters bigint, beta0 double, beta1 double",
            )
        # closed-form solve in EXACT Python bigints, quantized half-away
        # at 1e-9 — Python's round() is HALF-EVEN while SQL round() is
        # half-away, so the old float round(x, 9) could diverge from the
        # oracle exactly ON a 1e-9 boundary (the driver-loop blind spot
        # of tools/quantization_scan.py; docs/OPERATIONS.md contract).
        # det = ΣW·ΣWx² − (ΣWx)² ≥ 0 by Cauchy-Schwarz on positive
        # weights; a zero det means x is constant — nothing to fit.
        det = m.sw * m.swxx - m.swx * m.swx
        if det == 0:  # constant x — same one-row NULL shape as above
            g.unpersist()
            return spark.createDataFrame(
                [(IRLS_ITERS, None, None)],
                "n_iters bigint, beta0 double, beta1 double",
            )

        def _q_ns(num: int, den: int, scale: int) -> int:
            q = (2 * abs(num) * scale + den) // (2 * den)
            return q if num >= 0 else -q

        b0_ns = _q_ns(m.swxx * m.swz - m.swx * m.swxz, det, _NS)
        b1_ns = _q_ns(m.sw * m.swxz - m.swx * m.swz, det, _NS)
        # exact ints ≤ ~1e10 convert losslessly; one IEEE /1e9 — the
        # identical conversion the oracle's CAST(ns AS DOUBLE)/1e9 makes
        beta = (b0_ns / 1e9, b1_ns / 1e9)
    g.unpersist()
    # publish = half-away re-quantization of the 1e-9 integers at 1e-6
    # (the exact twin of the oracle's mean_quantized_signed publish)
    spark_b = spark.createDataFrame(
        [(
            IRLS_ITERS,
            _q_ns(b0_ns, 1000, 1) / 1e6,
            _q_ns(b1_ns, 1000, 1) / 1e6,
        )],
        "n_iters bigint, beta0 double, beta1 double",
    )
    return spark_b


# ---------------------------------------------------------------------------
# window_rolling_median — exact rolling median (order statistic in a frame)
# ---------------------------------------------------------------------------


@query(
    "window_rolling_median",
    oracle=f"""
    WITH {daily_cents_sql(where="ts IS NOT NULL")}
    SELECT day,
           round(daily_cents / 100.0, 2) AS daily_value,
           round(quantile_cont(daily_cents, 0.5)
                 OVER (ORDER BY day ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                 / 100.0, 6) AS rolling_median_7d,
           CAST(count(*) OVER (ORDER BY day
                               ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS frame_n
    FROM g
    """,
)
def window_rolling_median(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day exact MEDIAN of daily revenue — the robust trend
    line dashboards want where the moving AVERAGE
    ([[window_moving_avg]]) gets dragged by single spikes; medians
    don't distribute, so this is a genuine ORDER STATISTIC inside a
    sliding frame, not a reframed sum.

    Both engines run their percentile aggregate AS a window function
    over the identical ROWS frame (Spark's percentile() and DuckDB's
    quantile_cont share the interpolated definition pinned by
    agg_percentiles).  Frame re-sorting cost is bounded by the frame
    width (7) times the calendar-bounded day grid; at high-frequency
    grids the two-heap streaming median is the declared upgrade, same
    interface.
    """
    ev = _t(spark, sf_dir, "events").where(F.col("ts").isNotNull())
    g = daily_cents(ev)
    fr = Window.orderBy("day").rowsBetween(-6, 0)
    return g.select(
        "day",
        F.round(F.col("daily_cents") / 100.0, 2).alias("daily_value"),
        F.round(
            F.expr("percentile(daily_cents, 0.5)").over(fr) / 100.0, 6
        ).alias("rolling_median_7d"),
        F.count("*").over(fr).cast("bigint").alias("frame_n"),
    )


# ---------------------------------------------------------------------------
# corpus_doc_embedding_hashed — TF-IDF-weighted hashed document vectors
# ---------------------------------------------------------------------------

DOC_EMB_DIM = 16


@query(
    "corpus_doc_embedding_hashed",
    oracle=f"""
    WITH toks AS (SELECT doc_id,
                         unnest({tokens_sql()})
                             AS tok
                  FROM documents),
    tk AS (SELECT doc_id, tok FROM toks WHERE tok <> ''),
    tf AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS tf
           FROM tk GROUP BY doc_id, tok),
    df AS (SELECT tok, CAST(count(DISTINCT doc_id) AS BIGINT) AS df
           FROM tk GROUP BY tok),
    nd AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n FROM tk),
    w AS (SELECT tf.doc_id,
                 ({hash59_sql("'emb' || tf.tok")}) % {DOC_EMB_DIM} AS dim,
                 CASE WHEN ({hash59_sql("'sgn' || tf.tok")}) % 2 = 0
                      THEN 1 ELSE -1 END
                   * tf.tf
                   * CAST(round(ln((nd.n + 1.0) / (df.df + 1.0)) * 1000000000)
                          AS BIGINT) AS contrib_ns
          FROM tf JOIN df ON df.tok = tf.tok CROSS JOIN nd)
    SELECT doc_id, CAST(dim AS BIGINT) AS dim,
           {mean_quantized_signed_sql("sum(contrib_ns)", "1000000000")} AS weight
    FROM w GROUP BY doc_id, dim
    """,
)
def corpus_doc_embedding_hashed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-free document embeddings: every token contributes its
    tf·idf weight, with a hash-chosen SIGN, to a hash-chosen dimension
    of a {d}-dim vector — the signed hashing trick (feature hashing +
    Rademacher signs, the public Weinberger et al. construction whose
    signs make collisions cancel in expectation).  This bridges the
    text and vector families: the output long-form (doc, dim, weight)
    table feeds the cosine/ANN operators directly, giving retrieval
    over corpora where no trained embedding model exists —
    [[text_feature_hashing]] is the count-only precursor; this adds
    idf weighting and signs.

    One tf shuffle, one broadcast idf join, one combinable (doc, dim)
    aggregation; idf log-terms are quantized to 1e-9 BIGINTs per token
    BEFORE the signed sums, so the embedding is integer-exact under any
    fold order — a property no floating-point embedding pipeline has.
    """
    from .extensions.text import tokens as tok_fn

    d = _t(spark, sf_dir, "documents")
    tk = d.select("doc_id", F.explode(tok_fn("text")).alias("tok")).where(
        F.col("tok") != ""
    )
    tf = tk.groupBy("doc_id", "tok").agg(F.count("*").alias("tf"))
    df = tk.groupBy("tok").agg(F.countDistinct("doc_id").alias("df"))
    nd = tk.agg(F.countDistinct("doc_id").alias("n"))
    idf_ns = F.round(
        F.log((F.col("n") + 1.0) / (F.col("df") + 1.0)) * 1_000_000_000
    ).cast("bigint")
    sign = F.when(
        hash59(F.concat(F.lit("sgn"), F.col("tok"))) % 2 == 0, 1
    ).otherwise(-1)
    dim = hash59(F.concat(F.lit("emb"), F.col("tok"))) % DOC_EMB_DIM
    w = (
        tf.join(df, "tok")
        .crossJoin(F.broadcast(nd))
        .select(
            "doc_id",
            dim.cast("bigint").alias("dim"),
            (sign * F.col("tf") * idf_ns).alias("contrib_ns"),
        )
    )
    return w.groupBy("doc_id", "dim").agg(
        mean_quantized_signed(
            F.sum("contrib_ns"), F.lit(1_000_000_000)
        ).alias("weight")
    )


corpus_doc_embedding_hashed.__doc__ = corpus_doc_embedding_hashed.__doc__.format(
    d=DOC_EMB_DIM
)


# ---------------------------------------------------------------------------
# corpus_hashed_retrieval_topk — retrieval over the derived embeddings
# ---------------------------------------------------------------------------

HASHED_QUERY_DOC = 0
HASHED_TOPK = 10


def _hashed_retrieval_oracle() -> str:
    from .registry import ORACLES

    emb = ORACLES["corpus_doc_embedding_hashed"]
    return f"""
    WITH emb AS ({emb}),
    q AS (SELECT dim, weight FROM emb WHERE doc_id = {HASHED_QUERY_DOC}),
    qn AS (SELECT sqrt(sum(weight * weight)) AS n FROM q),
    dots AS (SELECT e.doc_id,
                    sum(e.weight * q.weight) AS dot
             FROM emb e JOIN q ON q.dim = e.dim
             WHERE e.doc_id <> {HASHED_QUERY_DOC}
             GROUP BY e.doc_id),
    norms AS (SELECT doc_id, sqrt(sum(weight * weight)) AS n FROM emb
              GROUP BY doc_id),
    scored AS (SELECT d.doc_id,
                      round(d.dot / (nm.n * (SELECT n FROM qn)), 6) AS cosine
               FROM dots d JOIN norms nm ON nm.doc_id = d.doc_id)
    SELECT doc_id, cosine,
           CAST(row_number() OVER (ORDER BY cosine DESC, doc_id) AS BIGINT)
               AS rk
    FROM scored
    QUALIFY rk <= {HASHED_TOPK}
    """


@query("corpus_hashed_retrieval_topk", oracle=_hashed_retrieval_oracle())
def corpus_hashed_retrieval_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval over the engine's OWN derived embeddings: top-{k} most
    similar documents to doc {q} by cosine over the signed-hash tf-idf
    vectors ([[corpus_doc_embedding_hashed]]) — closing the loop from
    raw text to vector search with zero external models.  Long-form
    cosine: the dot product is an equi-join on the DIMENSION key plus a
    combinable sum — the sparse-vector formulation that never
    materializes dense arrays, which is exactly how the SURVEY's
    cell×feature matrices multiply (§1.4).

    One broadcast of the {d}-dim query vector, one join-aggregate for
    dots, one for norms, a two-phase top-k.  Norm sums are float
    (weights already carry the quantized-idf exactness; the norm is a
    {d}-term sum whose operands are 1e-9-grid rationals — fold order
    cannot move the 6-decimal rounding at this term count).
    """
    from .registry import QUERIES

    # lazy localCheckpoint: the derived embedding table feeds the query
    # row, dots, and norms; blocks die with the result (ADVICE r03)
    emb = QUERIES["corpus_doc_embedding_hashed"](spark, sf_dir).transform(_ckpt_lazy)
    q = emb.where(F.col("doc_id") == HASHED_QUERY_DOC).select(
        "dim", F.col("weight").alias("qw")
    )
    qn = q.agg(F.sqrt(F.sum(F.col("qw") * F.col("qw"))).alias("qn"))
    dots = (
        emb.where(F.col("doc_id") != HASHED_QUERY_DOC)
        .join(F.broadcast(q), "dim")
        .groupBy("doc_id")
        .agg(F.sum(F.col("weight") * F.col("qw")).alias("dot"))
    )
    norms = emb.groupBy("doc_id").agg(
        F.sqrt(F.sum(F.col("weight") * F.col("weight"))).alias("n")
    )
    scored = (
        dots.join(norms, "doc_id")
        .crossJoin(F.broadcast(qn))
        .select(
            "doc_id",
            F.round(F.col("dot") / (F.col("n") * F.col("qn")), 6).alias("cosine"),
        )
    )
    # distributed top-k (orderBy+limit = TakeOrdered) before the k-row
    # rank window; ranking the full scored corpus first would funnel
    # every document through one partition (round-5 global-window audit)
    top = scored.orderBy(F.desc("cosine"), "doc_id").limit(HASHED_TOPK)
    w = Window.orderBy(F.desc("cosine"), "doc_id")
    return top.withColumn("rk", F.row_number().over(w).cast("bigint"))


corpus_hashed_retrieval_topk.__doc__ = corpus_hashed_retrieval_topk.__doc__.format(
    k=HASHED_TOPK, q=HASHED_QUERY_DOC, d=DOC_EMB_DIM
)


# ---------------------------------------------------------------------------
# stat_mcnemar_classifiers — paired comparison of two engine classifiers
# ---------------------------------------------------------------------------


def _mcnemar_oracle() -> str:
    from .registry import ORACLES

    nb = ORACLES["ml_naive_bayes_langid"]
    # rebuild per-doc predictions for both classifiers (the NB oracle
    # aggregates to a confusion matrix; we need the doc grain here)
    return f"""
    WITH toks AS (SELECT doc_id, lang,
                         {tokens_sql()} AS t
                  FROM documents),
    heur AS (SELECT doc_id, lang,
                    CASE WHEN len(list_filter(t, x -> list_contains(
                           ['the','a','an','of','to','and','in','is','on','for'], x)))
                         / CAST(len(t) AS DOUBLE) >= 0.02
                         THEN 'en' ELSE 'unknown' END AS pred
             FROM toks),
    tk AS (SELECT doc_id, lang, unnest(t) AS tok FROM toks),
    tk2 AS (SELECT doc_id, lang, tok FROM tk WHERE tok <> ''),
    dt AS (SELECT doc_id, tok, CAST(count(*) AS BIGINT) AS n_dt
           FROM tk2 GROUP BY doc_id, tok),
    lt AS (SELECT lang, tok, CAST(count(*) AS BIGINT) AS c_lt
           FROM tk2 GROUP BY lang, tok),
    lc AS (SELECT lang, CAST(sum(c_lt) AS BIGINT) AS c_l FROM lt GROUP BY lang),
    vocab AS (SELECT CAST(count(DISTINCT tok) AS BIGINT) AS v FROM tk2),
    prior AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_docs FROM documents
              GROUP BY lang),
    ntot AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
    grid AS (SELECT dt.doc_id, dt.tok, dt.n_dt, lc.lang, lc.c_l, vocab.v,
                    coalesce(lt.c_lt, 0) AS c_lt
             FROM dt CROSS JOIN lc CROSS JOIN vocab
             LEFT JOIN lt ON lt.lang = lc.lang AND lt.tok = dt.tok),
    scores AS (SELECT doc_id, lang,
                      CAST(sum(n_dt * CAST(round(
                        (ln(c_lt + 1) - ln(c_l + v)) * 1000000000)
                        AS BIGINT)) AS BIGINT) AS ll_ns
               FROM grid GROUP BY doc_id, lang),
    withprior AS (SELECT s.doc_id, s.lang,
                         s.ll_ns + CAST(round(
                           (ln(p.n_docs) - ln(ntot.n)) * 1000000000)
                           AS BIGINT) AS post_ns
                  FROM scores s JOIN prior p ON p.lang = s.lang
                  CROSS JOIN ntot),
    nbp AS (SELECT doc_id, lang AS pred FROM (
              SELECT doc_id, lang,
                     row_number() OVER (PARTITION BY doc_id
                                        ORDER BY post_ns DESC, lang) AS rk
              FROM withprior) WHERE rk = 1),
    paired AS (SELECT h.doc_id,
                      CASE WHEN h.pred = h.lang THEN 1 ELSE 0 END AS a_right,
                      CASE WHEN n.pred = h.lang THEN 1 ELSE 0 END AS b_right
               FROM heur h JOIN nbp n ON n.doc_id = h.doc_id)
    SELECT CAST(sum(CASE WHEN a_right = 1 AND b_right = 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS only_heuristic_right,
           CAST(sum(CASE WHEN a_right = 0 AND b_right = 1 THEN 1 ELSE 0 END)
                AS BIGINT) AS only_nb_right,
           CASE WHEN (count(*)) > 0 THEN CAST((2 * CAST(sum(a_right) AS HUGEINT) * 1000000 + (count(*))) // (2 * (count(*))) AS DOUBLE) / 1000000.0 END
               AS heuristic_accuracy,
           CASE WHEN (count(*)) > 0 THEN CAST((2 * CAST(sum(b_right) AS HUGEINT) * 1000000 + (count(*))) // (2 * (count(*))) AS DOUBLE) / 1000000.0 END AS nb_accuracy,
           CASE WHEN (sum(CASE WHEN a_right = 1 AND b_right = 0 THEN 1 ELSE 0 END) + sum(CASE WHEN a_right = 0 AND b_right = 1 THEN 1 ELSE 0 END)) > 0 THEN CAST((2 * CAST((CAST(abs(sum(CASE WHEN a_right = 1 AND b_right = 0 THEN 1 ELSE 0 END) - sum(CASE WHEN a_right = 0 AND b_right = 1 THEN 1 ELSE 0 END)) - 1 AS HUGEINT) * (abs(sum(CASE WHEN a_right = 1 AND b_right = 0 THEN 1 ELSE 0 END) - sum(CASE WHEN a_right = 0 AND b_right = 1 THEN 1 ELSE 0 END)) - 1)) AS HUGEINT) * 1000000 + (sum(CASE WHEN a_right = 1 AND b_right = 0 THEN 1 ELSE 0 END) + sum(CASE WHEN a_right = 0 AND b_right = 1 THEN 1 ELSE 0 END))) // (2 * (sum(CASE WHEN a_right = 1 AND b_right = 0 THEN 1 ELSE 0 END) + sum(CASE WHEN a_right = 0 AND b_right = 1 THEN 1 ELSE 0 END))) AS DOUBLE) / 1000000.0 END AS mcnemar_chi2
    FROM paired
    """


@query("stat_mcnemar_classifiers", oracle=_mcnemar_oracle())
def stat_mcnemar_classifiers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test between the engine's two language
    classifiers — the stopword heuristic ([[text_lang_id]]) and the
    trained Naive Bayes ([[ml_naive_bayes_langid]]) — on the SAME
    documents against the declared labels: the discordant-pair counts
    (only-A-right vs only-B-right), both accuracies, and the
    continuity-corrected χ² = (|b−c|−1)²/(b+c).  Comparing two
    classifiers by raw accuracy on shared data ignores pairing;
    McNemar's is the correct test, and it needs only the two discordant
    counts — cheap at any scale.

    Both prediction pipelines run in one plan (the heuristic is a
    projection; NB is the registered sufficient-statistics pipeline);
    the paired rollup is one combinable aggregation on the doc key.
    """
    from .extensions.text import STOPWORDS, tokens as tok_fn

    d = _t(spark, sf_dir, "documents")
    stop_arr = F.array(*[F.lit(s) for s in STOPWORDS])
    toked = d.select("doc_id", "lang", tok_fn("text").alias("t"))
    heur = toked.select(
        "doc_id",
        "lang",
        F.when(
            F.size(F.filter(F.col("t"), lambda x: F.array_contains(stop_arr, x)))
            / F.size("t").cast("double")
            >= 0.02,
            "en",
        )
        .otherwise("unknown")
        .alias("h_pred"),
    )
    # per-doc NB predictions: re-run the registered pipeline's stages up
    # to the argmax (the registered key aggregates to a confusion matrix)
    tk = (
        d.select("doc_id", "lang", F.explode(tok_fn("text")).alias("tok"))
        .where(F.col("tok") != "")
    )
    dt = tk.groupBy("doc_id", "tok").agg(F.count("*").alias("n_dt"))
    lt = tk.groupBy("lang", "tok").agg(F.count("*").alias("c_lt"))
    lc = lt.groupBy("lang").agg(F.sum("c_lt").cast("bigint").alias("c_l"))
    vocab = tk.agg(F.countDistinct("tok").cast("bigint").alias("v"))
    prior = d.groupBy("lang").agg(F.count("*").alias("n_docs"))
    ntot = d.agg(F.count("*").alias("n"))
    grid = (
        dt.crossJoin(F.broadcast(lc))
        .crossJoin(F.broadcast(vocab))
        .join(lt, ["lang", "tok"], "left")
        .select(
            "doc_id",
            "n_dt",
            "lang",
            "c_l",
            "v",
            F.coalesce("c_lt", F.lit(0)).alias("c_lt"),
        )
    )
    term_ns = F.round(
        (F.log(F.col("c_lt") + 1) - F.log(F.col("c_l") + F.col("v")))
        * 1_000_000_000
    ).cast("bigint")
    scores = grid.groupBy("doc_id", "lang").agg(
        F.sum(F.col("n_dt") * term_ns).cast("bigint").alias("ll_ns")
    )
    withprior = (
        scores.join(F.broadcast(prior), "lang")
        .crossJoin(F.broadcast(ntot))
        .select(
            "doc_id",
            "lang",
            (
                F.col("ll_ns")
                + F.round(
                    (F.log(F.col("n_docs")) - F.log(F.col("n"))) * 1_000_000_000
                ).cast("bigint")
            ).alias("post_ns"),
        )
    )
    wp = Window.partitionBy("doc_id").orderBy(F.desc("post_ns"), "lang")
    nbp = (
        withprior.withColumn("rk", F.row_number().over(wp))
        .where(F.col("rk") == 1)
        .select("doc_id", F.col("lang").alias("nb_pred"))
    )
    paired = heur.join(nbp, "doc_id").select(
        F.when(F.col("h_pred") == F.col("lang"), 1).otherwise(0).alias("a_right"),
        F.when(F.col("nb_pred") == F.col("lang"), 1).otherwise(0).alias("b_right"),
    )
    b = F.sum(
        F.when((F.col("a_right") == 1) & (F.col("b_right") == 0), 1).otherwise(0)
    )
    c = F.sum(
        F.when((F.col("a_right") == 0) & (F.col("b_right") == 1), 1).otherwise(0)
    )
    return paired.agg(
        b.cast("bigint").alias("only_heuristic_right"),
        c.cast("bigint").alias("only_nb_right"),
        mean_quantized(F.sum("a_right"), F.count("*")).alias(
            "heuristic_accuracy"
        ),
        mean_quantized(F.sum("b_right"), F.count("*")).alias("nb_accuracy"),
        # (|b-c|-1)^2 as exact integer multiplication in the decimal
        # lane — pow() on doubles loses exactness past 2^53 counts
        mean_quantized(
            (F.abs(b - c) - 1).cast("decimal(38,0)") * (F.abs(b - c) - 1),
            b + c,
        ).alias("mcnemar_chi2"),
    )
