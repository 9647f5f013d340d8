"""Extension registry: dedup / similarity / text / multimodal / streaming.

Registered into the same QUERIES/ORACLES dicts as the core registry
(imported for side effects by ``__spark_entry__``).  Where an operator
is SQL-expressible its DuckDB oracle is generated from the SAME
parameters as the Spark plan (hash constants, permutation params,
thresholds), so parity is structural, not coincidental.  Genuinely
approximate operators (LSH candidate generation: recall < 1 by design)
carry the driver's rows-only check and are graded against their exact
oracle-checked baselines.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from .extensions.dedup import (
    LSH_MAX_BUCKET,
    MINHASH_K,
    SIMHASH_BITS,
    _MASK40,
    _P,
    _perm_params,
    digest_shingles,
    exact_dedup,
    jaccard_pairs,
    minhash_lsh_dedup_pairs,
    minhash_signatures,
    simhash,
)
from .extensions.multimodal import byte_features, with_payload
from .extensions.similarity import cosine_topk, lsh_topk, query_vector
from .extensions.text import (
    STOPWORDS,
    WS_CLASS,
    lang_id,
    quality_features,
    shingle_table,
    token_count,
    tokens,
    tokens_sql,
    word_shingles_sql,
)
from .functions.hashes import hash59, hash59_sql
from .functions.numeric import (
    mean_quantized,
    mean_quantized_signed,
    mean_quantized_signed_sql,
    mean_quantized_sql,
)
from .registry import ORACLES, _t, _values_sql, query
from .sources.tables import events_with_ts, ntz_epoch_s, ntz_epoch_us, ts_us_expr

# ---------------------------------------------------------------------------
# Shared oracle SQL fragments (DuckDB dialect), generated from the same
# constants as the Spark plans.
# ---------------------------------------------------------------------------

_STOPLIST_SQL = "[" + ", ".join(f"'{s}'" for s in STOPWORDS) + "]"

JACCARD_THRESHOLD = 0.2


def prefix_pair_sql(num: int, den: int) -> str:
    """Standalone DuckDB query returning EXACTLY dedup_ngram_jaccard's
    oracle result — (doc_a, doc_b, jaccard) for all pairs with word-
    2-shingle Jaccard >= num/den — via PREFIX-FILTERED candidate
    generation instead of the full inverted-index self-join.

    Why: the all-pairs `shingles JOIN shingles USING (shingle)` truth
    CTE is quadratic in shingle document-frequency; at the 8x value
    sweep it spills >80 GB for the two eval keys whose oracles embed
    it (docs/SCALE_SWEEP.md, r09 verdict task 2).  Prefix filtering
    (Chaudhuri et al. 2006 / Xiao et al. 2008 — the same public
    theorem dedup_prefix_filter_join cites) is recall-LOSSLESS: under
    any global shingle order, two sets with J >= t share at least one
    of their first ``n - ceil(t*n) + 1`` shingles, so the prefix join
    yields a candidate superset and the exact-Jaccard verify restores
    the identical pair set.  Oracle-identity vs the naive form is
    proven at sf0.01 by tests/test_prefix_truth_identity.py, and the
    naive form itself remains the live oracle of dedup_ngram_jaccard /
    dedup_prefix_filter_join, so the equivalence stays independently
    driver-checked every round.

    The length filter (t*max(|x|,|y|) <= min(|x|,|y|), Arasu bound) is
    pure integer math and also lossless.  Ordering for the prefix is
    (document frequency ASC, shingle ASC) — deterministic; any total
    order satisfies the theorem.

    AS MATERIALIZED on the multiply-referenced CTEs is load-bearing:
    DuckDB inlines CTEs by default, so without it each of pf_sh's five
    references (and pf_prefix's two) re-runs the tokenize+shingle scan
    — and when a CALLER embeds this query under its own multiply-
    referenced `truth` CTE, the re-evaluations multiply (the actual
    mechanism behind the r09 '>80 GB spill': the intermediates here
    measure only ~9M rows).  Materialization is an evaluation-strategy
    hint; the result set is byte-identical."""
    jac = mean_quantized_sql("n_inter", "l.na + l.nb - n_inter")
    return f"""
    WITH toks AS (SELECT doc_id, {tokens_sql()} AS t FROM documents),
    shingles AS (SELECT DISTINCT doc_id, unnest({word_shingles_sql("t")}) AS shingle
                 FROM toks WHERE len(t) >= 3),
    pf_sh AS MATERIALIZED (SELECT doc_id, shingle FROM shingles),
    pf_df AS (SELECT shingle, count(*) AS df FROM pf_sh GROUP BY shingle),
    pf_sizes AS MATERIALIZED (
        SELECT doc_id, count(*) AS n_sh FROM pf_sh GROUP BY doc_id),
    pf_ranked AS (SELECT s.doc_id, s.shingle, z.n_sh,
                         row_number() OVER (PARTITION BY s.doc_id
                                            ORDER BY d.df, s.shingle) AS rk
                  FROM pf_sh s
                  JOIN pf_df d USING (shingle)
                  JOIN pf_sizes z USING (doc_id)),
    pf_prefix AS MATERIALIZED (
                  SELECT doc_id, shingle FROM pf_ranked
                  WHERE rk <= n_sh - ((n_sh * {num} + {den} - 1) // {den}) + 1),
    pf_cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                FROM pf_prefix a JOIN pf_prefix b USING (shingle)
                WHERE a.doc_id < b.doc_id),
    pf_len AS (SELECT c.doc_a, c.doc_b, za.n_sh AS na, zb.n_sh AS nb
               FROM pf_cand c
               JOIN pf_sizes za ON za.doc_id = c.doc_a
               JOIN pf_sizes zb ON zb.doc_id = c.doc_b
               WHERE {num} * za.n_sh <= {den} * zb.n_sh
                 AND {num} * zb.n_sh <= {den} * za.n_sh),
    pf_inter AS (SELECT l.doc_a, l.doc_b, l.na, l.nb, count(*) AS n_inter
                 FROM pf_len l
                 JOIN pf_sh sa ON sa.doc_id = l.doc_a
                 JOIN pf_sh sb ON sb.doc_id = l.doc_b
                               AND sb.shingle = sa.shingle
                 GROUP BY 1, 2, 3, 4)
    SELECT doc_a, doc_b, {jac} AS jaccard
    FROM pf_inter l WHERE {jac} >= {num / den}
    """


def _bucket_sql(n_dims: int = 64) -> str:
    """DuckDB twin of hyperplane_bucket: literal ±1 plane weights from the
    same deterministic generator as the Spark expression."""
    from .extensions.similarity import NUM_PLANES, _plane_sign

    bits = []
    for p in range(NUM_PLANES):
        w = "[" + ", ".join(str(_plane_sign(p, d)) for d in range(n_dims)) + "]"
        bits.append(f"(CASE WHEN list_dot_product(v, {w}) > 0 THEN {1 << p} ELSE 0 END)")
    return " + ".join(bits)


# ---------------------------------------------------------------------------
# Text analysis
# ---------------------------------------------------------------------------


@query(
    "text_token_count",
    oracle=f"""
    SELECT doc_id,
           len({tokens_sql()}) AS n_tokens
    FROM documents
    """,
)
def text_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace+regex token counting — one narrow projection, no shuffle."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count("text").alias("n_tokens"))


@query(
    "text_quality_score",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {tokens_sql()} AS t FROM documents),
    feats AS (
      SELECT doc_id,
             len(t) AS n_tokens,
             len(list_distinct(t)) AS n_uniq_tokens,
             length(regexp_replace((SELECT text FROM documents d2 WHERE d2.doc_id = toks.doc_id),
                                   '{WS_CLASS}', '', 'g')) AS n_nonspace,
             len(list_filter(t, x -> list_contains({_STOPLIST_SQL}, x))) AS n_stop
      FROM toks
    )
    SELECT doc_id, n_tokens, n_uniq_tokens,
           {mean_quantized_sql("n_uniq_tokens", "n_tokens")} AS ttr,
           {mean_quantized_sql("n_nonspace", "n_tokens")} AS avg_token_len,
           {mean_quantized_sql("n_stop", "n_tokens")} AS stopword_ratio,
           (n_tokens >= 5 AND n_tokens <= 100000
            AND n_uniq_tokens * 10 >= n_tokens) AS passes_quality
    FROM feats
    """,
)
def text_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features (length/uniqueness/stopword ratios);
    integer counts + per-row IEEE ratios → fully oracle-hashable."""
    return quality_features(_t(spark, sf_dir, "documents"))


@query(
    "text_lang_id",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {tokens_sql()} AS t FROM documents),
    s AS (SELECT doc_id,
                 len(list_filter(t, x -> list_contains({_STOPLIST_SQL}, x))) AS n_stop,
                 len(t) AS n FROM toks)
    SELECT doc_id,
           CASE WHEN 50 * n_stop >= n THEN 'en' ELSE 'unknown' END AS pred_lang,
           {mean_quantized_sql("n_stop", "n")} AS en_score
    FROM s
    """,
)
def text_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heuristic language ID via English function-word density (the cheap
    n-gram LID signal; a model slots in at the same seam as a Pandas UDF)."""
    return lang_id(_t(spark, sf_dir, "documents"))


@query(
    "doc_fingerprint",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {tokens_sql()} AS t FROM documents),
    shingles AS (SELECT DISTINCT doc_id, unnest({word_shingles_sql("t")}) AS shingle
                 FROM toks WHERE len(t) >= 3)
    SELECT doc_id,
           min({hash59_sql("shingle")}) AS fp_min,
           max({hash59_sql("shingle")}) AS fp_max,
           count(*) AS n_shingles
    FROM shingles GROUP BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shingle-hash document fingerprint (winnowing-lite): min/max of the
    portable 59-bit shingle hashes + shingle cardinality."""
    sh = shingle_table(_t(spark, sf_dir, "documents"))
    return sh.groupBy("doc_id").agg(
        F.min(hash59("shingle")).alias("fp_min"),
        F.max(hash59("shingle")).alias("fp_max"),
        F.count("*").alias("n_shingles"),
    )


# ---------------------------------------------------------------------------
# Deduplication
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    SELECT md5(text) AS content_md5, min(doc_id) AS canonical_id, count(*) AS n_copies
    FROM documents GROUP BY md5(text)
    """,
)
def dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup: hash-groupBy on the content digest — the shuffle
    carries 16-byte digests, never document bodies."""
    return exact_dedup(_t(spark, sf_dir, "documents"))


@query(
    "dedup_ngram_jaccard",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {tokens_sql()} AS t FROM documents),
    shingles AS (SELECT DISTINCT doc_id, unnest({word_shingles_sql("t")}) AS shingle
                 FROM toks WHERE len(t) >= 3),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
              FROM shingles a JOIN shingles b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT doc_a, doc_b,
           {mean_quantized_sql("n_inter", "sa.n_sh + sb.n_sh - n_inter")} AS jaccard
    FROM inter
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE {mean_quantized_sql("n_inter", "sa.n_sh + sb.n_sh - n_inter")} >= {JACCARD_THRESHOLD}
    """,
)
def dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact word-3-gram Jaccard near-dup pairs via inverted-index join —
    the correctness baseline the LSH path is graded against."""
    sh = shingle_table(_t(spark, sf_dir, "documents"))
    return jaccard_pairs(sh, threshold=JACCARD_THRESHOLD)


def _minhash_oracle() -> str:
    mins = ", ".join(
        f"min((h * {a} + {b}) % {_P}) AS mh_{i}" for i, (a, b) in enumerate(_perm_params())
    )
    return f"""
    WITH toks AS (SELECT doc_id, {tokens_sql()} AS t FROM documents),
    shingles AS (SELECT DISTINCT doc_id, unnest({word_shingles_sql("t")}) AS shingle
                 FROM toks WHERE len(t) >= 3),
    h AS (SELECT doc_id, {hash59_sql("shingle")} % {_MASK40 + 1} AS h FROM shingles)
    SELECT doc_id, {mins} FROM h GROUP BY doc_id
    """


@query("dedup_minhash_signature", oracle=_minhash_oracle())
def dedup_minhash_signature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signatures (k={k}): one map-side-combinable aggregation of
    k universal-hash permutations over the portable shingle hash — exact,
    deterministic, oracle-checked bit-for-bit.""".format(k=MINHASH_K)
    return minhash_signatures(digest_shingles(_t(spark, sf_dir, "documents")))


def _lsh_dedup_oracle(max_bucket_size: int | None = None) -> str:
    """Full MinHash→banded-LSH→verify in DuckDB SQL, generated from the
    same band/row/permutation constants as the Spark plan.  LSH recall
    <1 vs brute force, but the pipeline itself is deterministic — so the
    approximate path is still value-hash checkable.

    With ``max_bucket_size`` the candidate CTE reproduces the star-edge
    cap: buckets larger than the cap contribute (bucket-min ↔ member)
    edges instead of all pairs — the same windowed count/min the Spark
    plan computes in lsh_candidate_pairs."""
    jac = mean_quantized_sql("n_inter", "sa.n_sh + sb.n_sh - n_inter")
    return f"""
    WITH {_lsh_with_body(max_bucket_size)}
    SELECT c.doc_a, c.doc_b, {jac} AS jaccard
    FROM cand c
    JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
    JOIN sizes sa ON c.doc_a = sa.doc_id
    JOIN sizes sb ON c.doc_b = sb.doc_id
    WHERE {jac} >= {JACCARD_THRESHOLD}
    """


def _lsh_with_body(max_bucket_size: int | None = None) -> str:
    """Shared oracle CTE body: shingles → signatures → banded buckets →
    candidate pairs (+ per-doc set sizes and pair intersections)."""
    from .extensions.dedup import LSH_BANDS, LSH_ROWS

    mins = ", ".join(
        f"min((h * {a} + {b}) % {_P}) AS mh_{i}" for i, (a, b) in enumerate(_perm_params())
    )

    structs = []
    for bi in range(LSH_BANDS):
        concat = " || '_' || ".join(
            f"mh_{bi * LSH_ROWS + r}::VARCHAR" for r in range(LSH_ROWS)
        )
        structs.append(f"{{'band': {bi}, 'sig': {hash59_sql(concat)}}}")
    if max_bucket_size is None:
        cand_ctes = """
    cand AS (SELECT DISTINCT b1.doc_id AS doc_a, b2.doc_id AS doc_b
             FROM buckets b1 JOIN buckets b2 USING (band, sig)
             WHERE b1.doc_id < b2.doc_id)"""
    else:
        cand_ctes = f"""
    sized AS (SELECT doc_id, band, sig,
                     count(*) OVER (PARTITION BY band, sig) AS __n,
                     min(doc_id) OVER (PARTITION BY band, sig) AS __min
              FROM buckets),
    small AS (SELECT doc_id, band, sig FROM sized WHERE __n <= {max_bucket_size}),
    cand AS (SELECT DISTINCT doc_a, doc_b FROM (
               SELECT b1.doc_id AS doc_a, b2.doc_id AS doc_b
               FROM small b1 JOIN small b2 USING (band, sig)
               WHERE b1.doc_id < b2.doc_id
               UNION ALL
               SELECT __min AS doc_a, doc_id AS doc_b
               FROM sized WHERE __n > {max_bucket_size} AND doc_id <> __min))"""
    return f"""toks AS (SELECT doc_id, {tokens_sql()} AS t FROM documents),
    shingles AS (SELECT DISTINCT doc_id, unnest({word_shingles_sql("t")}) AS shingle
                 FROM toks WHERE len(t) >= 3),
    h AS (SELECT doc_id, {hash59_sql("shingle")} % {_MASK40 + 1} AS h FROM shingles),
    sig AS (SELECT doc_id, {mins} FROM h GROUP BY doc_id),
    buckets AS (SELECT doc_id, u.band AS band, u.sig AS sig
                FROM (SELECT doc_id, unnest([{", ".join(structs)}]) AS u FROM sig)),
    {cand_ctes},
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    inter AS (SELECT s1.doc_id AS doc_a, s2.doc_id AS doc_b, count(*) AS n_inter
              FROM shingles s1 JOIN shingles s2 USING (shingle)
              WHERE s1.doc_id < s2.doc_id GROUP BY 1, 2)"""


@query("dedup_minhash_lsh", oracle=_lsh_dedup_oracle(LSH_MAX_BUCKET))
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path (the graded contract): MinHash → banded LSH buckets
    with the production star-edge cap (LSH_MAX_BUCKET) → candidate pairs
    → exact-Jaccard verification.  Buckets above the cap emit linear
    star edges, so pair output is bounded even when a boilerplate
    shingle set collapses thousands of docs into one bucket (AQE cannot
    catch output-side skew — tests/test_skew.py).  The oracle replicates
    banding AND the cap from the same constants, so even this
    approximate path is value-checked; its exact brute-force twin is
    dedup_ngram_jaccard, its uncapped form dedup_minhash_lsh_exact."""
    return minhash_lsh_dedup_pairs(
        digest_shingles(_t(spark, sf_dir, "documents"), sf_dir),
        threshold=JACCARD_THRESHOLD,
        max_bucket_size=LSH_MAX_BUCKET,
    )


@query("dedup_minhash_lsh_exact", oracle=_lsh_dedup_oracle())
def dedup_minhash_lsh_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verification twin: the uncapped all-pairs LSH pipeline
    (digest-exact within-bucket semantics — see digest_shingles —
    quadratic on pathological buckets) — kept as a second contract so
    the capped production path is auditable against it."""
    return minhash_lsh_dedup_pairs(
        digest_shingles(_t(spark, sf_dir, "documents"), sf_dir),
        threshold=JACCARD_THRESHOLD,
    )


@query("dedup_minhash_lsh_star_stress", oracle=_lsh_dedup_oracle(3))
def dedup_minhash_lsh_star_stress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Star-edge semantics under a deliberately tiny cap (3): at sf0.01
    real buckets reach size 5, so the star path FIRES here and the
    oracle value-checks its exact output — driver-gradable evidence the
    capped plan is correct, not just bounded."""
    return minhash_lsh_dedup_pairs(
        digest_shingles(_t(spark, sf_dir, "documents"), sf_dir),
        threshold=JACCARD_THRESHOLD,
        max_bucket_size=3,
    )


CONTAINMENT_THRESHOLD = 0.5


def _containment_oracle() -> str:
    ca = mean_quantized_sql("n_inter", "sa.n_sh")
    cb = mean_quantized_sql("n_inter", "sb.n_sh")
    return f"""
    WITH {_lsh_with_body(LSH_MAX_BUCKET)}
    SELECT c.doc_a, c.doc_b, {ca} AS containment_a, {cb} AS containment_b
    FROM cand c
    JOIN inter i ON c.doc_a = i.doc_a AND c.doc_b = i.doc_b
    JOIN sizes sa ON c.doc_a = sa.doc_id
    JOIN sizes sb ON c.doc_b = sb.doc_id
    WHERE greatest({ca}, {cb}) >= {CONTAINMENT_THRESHOLD}
    """


@query("dedup_containment", oracle=_containment_oracle())
def dedup_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Directional shingle containment |A∩B|/|A| over the capped LSH
    candidates — the near-SUPERSET pass symmetric Jaccard misses (a doc
    quoted wholesale inside a longer one scores high containment, low
    Jaccard).  Same pair-driven verification plan as the Jaccard path:
    linear in the candidate set.  Recall caveat is shared with all
    MinHash banding (signatures track Jaccard, so low-Jaccard supersets
    must collide in some band to be candidates); the deterministic
    pipeline keeps even that approximate semantics value-checked."""
    from .extensions.dedup import containment_pairs, lsh_candidate_pairs

    sh = digest_shingles(_t(spark, sf_dir, "documents"), sf_dir)
    cand = lsh_candidate_pairs(minhash_signatures(sh), max_bucket_size=LSH_MAX_BUCKET)
    return containment_pairs(sh, cand, threshold=CONTAINMENT_THRESHOLD)


def _mh_calibration_oracle() -> str:
    eq = " + ".join(
        f"(CASE WHEN sa.mh_{i} = sb.mh_{i} THEN 1 ELSE 0 END)"
        for i in range(MINHASH_K)
    )
    ex = "coalesce(n_inter / CAST(za.n_sh + zb.n_sh - n_inter AS DOUBLE), 0)"
    return f"""
    WITH {_lsh_with_body(LSH_MAX_BUCKET)},
    est AS (SELECT c.doc_a, c.doc_b,
                   round(({eq}) / {MINHASH_K}.0, 6) AS jaccard_est
            FROM cand c
            JOIN sig sa ON c.doc_a = sa.doc_id
            JOIN sig sb ON c.doc_b = sb.doc_id),
    ex AS (SELECT e.doc_a, e.doc_b, e.jaccard_est,
                  round({ex}, 6) AS jaccard_exact
           FROM est e
           JOIN sizes za ON e.doc_a = za.doc_id
           JOIN sizes zb ON e.doc_b = zb.doc_id
           LEFT JOIN inter i ON e.doc_a = i.doc_a AND e.doc_b = i.doc_b)
    SELECT doc_a, doc_b, jaccard_est, jaccard_exact,
           round(abs(jaccard_est - jaccard_exact), 6) AS abs_err
    FROM ex
    """


@query("dedup_minhash_estimate_calibration", oracle=_mh_calibration_oracle())
def dedup_minhash_estimate_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Estimator calibration for the MinHash sketch: per capped-LSH
    candidate pair, the signature-agreement Jaccard estimate
    (matching components / k) next to the exact shingle Jaccard, with
    the absolute error — the measurement that justifies k=32 and the
    band/row split before anyone trusts the sketch at corpus scale
    (E[est] = J, σ = sqrt(J(1-J)/k)).

    Plan: signatures join the candidate pairs twice (co-partitioned on
    the doc key); exact values come from the same pair-driven verify as
    the graded dedup path; everything downstream of candidate
    generation is linear in the candidate set."""
    from .extensions.dedup import lsh_candidate_pairs
    from .spill import ckpt_eager as _ckpt_eager

    sh = digest_shingles(_t(spark, sf_dir, "documents"), sf_dir)
    sig = minhash_signatures(sh)
    # `cand` feeds both the estimate join and the exact verify: one
    # eager checkpoint of the small pair set instead of running the
    # signature→bucket pipeline per consumer
    cand = lsh_candidate_pairs(sig, max_bucket_size=LSH_MAX_BUCKET).transform(
        _ckpt_eager
    )
    sa = sig.select(
        F.col("doc_id").alias("doc_a"),
        *[F.col(f"mh_{i}").alias(f"a_{i}") for i in range(MINHASH_K)],
    )
    sb = sig.select(
        F.col("doc_id").alias("doc_b"),
        *[F.col(f"mh_{i}").alias(f"b_{i}") for i in range(MINHASH_K)],
    )
    agree = sum(
        F.when(F.col(f"a_{i}") == F.col(f"b_{i}"), 1).otherwise(0)
        for i in range(MINHASH_K)
    )
    est = (
        cand.join(sa, "doc_a")
        .join(sb, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.round(agree / float(MINHASH_K), 6).alias("jaccard_est"),
        )
    )
    exact = jaccard_pairs(sh, threshold=0.0, candidates=cand).select(
        "doc_a", "doc_b", F.col("jaccard").alias("jaccard_exact")
    )
    return (
        est.join(exact, ["doc_a", "doc_b"], "left")
        .select(
            "doc_a",
            "doc_b",
            "jaccard_est",
            F.round(F.coalesce("jaccard_exact", F.lit(0.0)), 6).alias(
                "jaccard_exact"
            ),
            F.round(
                F.abs(
                    F.col("jaccard_est") - F.coalesce("jaccard_exact", F.lit(0.0))
                ),
                6,
            ).alias("abs_err"),
        )
    )


def _cc_oracle() -> str:
    """Connected components over the Jaccard-pair graph via a recursive
    CTE: enumerate reachable labels, keep the min per node."""
    pair_sql = ORACLES["dedup_ngram_jaccard"]
    return f"""
    WITH RECURSIVE pairs AS ({pair_sql}),
    edges AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
              UNION ALL SELECT doc_b, doc_a FROM pairs),
    walk(doc_id, label) AS (
      SELECT doc_id, doc_id FROM documents
      UNION
      SELECT e.dst, w.label FROM walk w JOIN edges e ON w.doc_id = e.src
    )
    SELECT doc_id, min(label) AS cluster_id FROM walk GROUP BY doc_id
    """


def dedup_connected_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clustering: distributed min-label propagation over the
    exact Jaccard near-dup graph — the iterative-algorithm category,
    checked against a recursive-CTE oracle."""
    from .extensions.dedup import connected_components

    docs = _t(spark, sf_dir, "documents")
    edges = dedup_ngram_jaccard(spark, sf_dir).select("doc_a", "doc_b")
    return connected_components(docs.select("doc_id"), edges)


query("dedup_connected_components", oracle=_cc_oracle())(dedup_connected_components)


@query(
    "text_ngram_topk",
    oracle=f"""
    WITH t AS (SELECT {tokens_sql()} AS toks FROM documents),
    bg AS (SELECT unnest([toks[i] || ' ' || toks[i+1] FOR i IN range(1, len(toks))]) AS bigram
           FROM t WHERE len(toks) >= 2)
    SELECT bigram, CAST(count(*) AS BIGINT) AS n
    FROM bg GROUP BY bigram ORDER BY n DESC, bigram LIMIT 20
    """,
)
def text_ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus bigram frequency top-k — explode + count + ordered limit;
    ties broken lexicographically so the page is deterministic."""
    from .extensions.text import tokens, word_shingles

    docs = _t(spark, sf_dir, "documents")
    bigrams = docs.select(tokens("text").alias("__toks")).select(
        F.explode(word_shingles(F.col("__toks"), n=2)).alias("bigram")
    )
    return (
        bigrams.groupBy("bigram")
        .agg(F.count("*").alias("n"))
        .orderBy(F.desc("n"), "bigram")
        .limit(20)
    )


def _simhash_oracle() -> str:
    sums = ", ".join(
        f"sum(CASE WHEN (h >> {i}) & 1 = 1 THEN 1 ELSE -1 END) AS s_{i}"
        for i in range(SIMHASH_BITS)
    )
    fp = " + ".join(
        f"(CASE WHEN s_{i} > 0 THEN {1 << i} ELSE 0 END)" for i in range(SIMHASH_BITS)
    )
    return f"""
    WITH tok AS (
      SELECT DISTINCT doc_id,
             unnest(list_distinct({tokens_sql()})) AS tok
      FROM documents
    ),
    h AS (SELECT doc_id, {hash59_sql("tok")} AS h
          FROM tok WHERE tok != ''),
    s AS (SELECT doc_id, {sums} FROM h GROUP BY doc_id)
    SELECT doc_id, CAST({fp} AS BIGINT) AS simhash FROM s
    """


@query("dedup_simhash", oracle=_simhash_oracle())
def dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """32-bit SimHash fingerprints — a single shuffle of (doc, token-hash);
    near-dup candidates are then fingerprints at small Hamming distance."""
    return simhash(_t(spark, sf_dir, "documents"))


# ---------------------------------------------------------------------------
# Similarity search
# ---------------------------------------------------------------------------

_COSINE_ORACLE = """
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
    d AS (SELECT e.vec_id,
                 list_dot_product(CAST(e.embedding AS DOUBLE[]), (SELECT qe FROM q)) AS dp,
                 sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                       CAST(e.embedding AS DOUBLE[]))) AS na,
                 (SELECT sqrt(list_dot_product(qe, qe)) FROM q) AS nq
          FROM embeddings e WHERE e.vec_id != 0)
    SELECT vec_id, round(dp / (na * nq), 6) AS cosine
    FROM d ORDER BY cosine DESC, vec_id LIMIT 10
"""


@query("similarity_topk", oracle=_COSINE_ORACLE)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (query = embedding of vec_id 0): one scan,
    sequential double-precision fold (zip_with+aggregate), scalar top-k —
    no pairwise blowup at any scale."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = query_vector(emb)
    if qvec is None:  # empty corpus / query id drained: empty page, not a crash
        return spark.createDataFrame([], "vec_id bigint, cosine double")
    return cosine_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10)


def _lsh_topk_oracle() -> str:
    return f"""
    WITH eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    e AS (SELECT vec_id, v, {_bucket_sql()} AS bucket FROM eb),
    q AS (SELECT v AS qv, bucket AS qb FROM e WHERE vec_id = 0),
    d AS (SELECT e.vec_id,
                 round(list_dot_product(e.v, (SELECT qv FROM q)) /
                       (sqrt(list_dot_product(e.v, e.v)) *
                        (SELECT sqrt(list_dot_product(qv, qv)) FROM q)), 6) AS cosine
          FROM e
          WHERE e.vec_id != 0 AND e.bucket = (SELECT qb FROM q))
    SELECT vec_id, cosine FROM d ORDER BY cosine DESC, vec_id LIMIT 10
    """


@query("similarity_lsh_topk", oracle=_lsh_topk_oracle())
def similarity_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN scale path: hyperplane-LSH bucket pruning, then exact cosine
    within the probed bucket.  Bucket id is a pure codegen expression and
    a partition-prunable column at rest; deterministic buckets make even
    the ANN path value-checkable (recall loss is part of the semantics)."""
    emb = _t(spark, sf_dir, "embeddings")
    qvec = query_vector(emb)
    if qvec is None:
        return spark.createDataFrame([], "vec_id bigint, cosine double")
    return lsh_topk(emb.filter(F.col("vec_id") != 0), qvec, k=10)


def _ivf_topk_oracle(lo: int = 1, hi: int = 8, nprobe: int = 2) -> str:
    qnorm = "(SELECT sqrt(list_dot_product(qv, qv)) FROM q)"
    return f"""
    WITH eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    c AS (SELECT vec_id AS cid, v AS cv FROM eb WHERE vec_id BETWEEN {lo} AND {hi}),
    ac AS (SELECT eb.vec_id, c.cid,
                  list_dot_product(eb.v, c.cv) /
                  (sqrt(list_dot_product(eb.v, eb.v)) * sqrt(list_dot_product(c.cv, c.cv))) AS c_cos
           FROM eb, c),
    assign AS (SELECT vec_id, cid FROM (
                 SELECT vec_id, cid,
                        row_number() OVER (PARTITION BY vec_id ORDER BY c_cos DESC, cid DESC) AS rn
                 FROM ac) WHERE rn = 1),
    q AS (SELECT v AS qv FROM eb WHERE vec_id = 0),
    probes AS (SELECT cid FROM (
                 SELECT cid, row_number() OVER (
                   ORDER BY list_dot_product(cv, (SELECT qv FROM q)) /
                            (sqrt(list_dot_product(cv, cv)) * {qnorm}) DESC, cid DESC) AS rn
                 FROM c) WHERE rn <= {nprobe}),
    d AS (SELECT eb.vec_id,
                 round(list_dot_product(eb.v, (SELECT qv FROM q)) /
                       (sqrt(list_dot_product(eb.v, eb.v)) * {qnorm}), 6) AS cosine
          FROM eb JOIN assign USING (vec_id)
          WHERE assign.cid IN (SELECT cid FROM probes) AND eb.vec_id != 0)
    SELECT vec_id, cosine FROM d ORDER BY cosine DESC, vec_id LIMIT 10
    """


@query("similarity_ivf_topk", oracle=_ivf_topk_oracle())
def similarity_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: nearest-centroid cell assignment (broadcast
    nested-loop over k centroids), then exact top-k over the nprobe
    closest cells.  Deterministic centroid subset stands in for trained
    k-means centers — the plan shape (assign once, prune cells at query
    time) is the scale path."""
    from .extensions.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    qvec = query_vector(emb)
    if qvec is None:
        return spark.createDataFrame([], "vec_id bigint, cosine double")
    return ivf_topk(emb, qvec, k=10)


@query(
    "join_asof_attribution",
    oracle="""
    WITH e AS (SELECT event_id, user_id, event_type,
                      epoch_us(CAST(ts AS TIMESTAMP)) AS ts_us FROM events),
    w AS (SELECT event_id, user_id, event_type, ts_us,
                 last_value(CASE WHEN event_type = 'click' THEN ts_us END IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts_us, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS last_click_ts_us
          FROM e)
    SELECT event_id, user_id, ts_us AS purchase_ts_us, last_click_ts_us
    FROM w WHERE event_type = 'purchase'
    """,
)
def join_asof_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (absent from the reference, SURVEY §2.4): each purchase
    attributed to the user's most recent prior click — expressed as ONE
    window over the ordered stream (no join, no range explosion), the
    scalable shape for backward as-of semantics."""
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
    return out.select(
        "event_id",
        "user_id",
        F.col("ts_us").alias("purchase_ts_us"),
        F.col("asof_ts").alias("last_click_ts_us"),
    )


# ---------------------------------------------------------------------------
# Multimodal plumbing
# ---------------------------------------------------------------------------


@query(
    "multimodal_byte_features",
    oracle="""
    SELECT doc_id AS media_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
           md5(text) AS content_md5
    FROM documents
    """,
)
def multimodal_byte_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque binary payload column + Arrow-batched mapInPandas feature
    extraction — the real plumbing for media decode, with the codec call
    stubbed (libs absent) and byte-level features standing in."""
    media = with_payload(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return byte_features(media)


@query(
    "multimodal_frame_sample",
    oracle="""
    WITH f AS (SELECT doc_id AS media_id, lower(hex(encode(text))) AS hx,
                      CAST(ceil(octet_length(encode(text)) / 16.0) AS INT)
                          AS n_frames
               FROM documents)
    SELECT media_id, CAST(i AS INT) AS frame_idx,
           md5(substr(hx, i * 32 + 1, 32)) AS frame_md5
    FROM (SELECT media_id, hx, unnest(range(0, n_frames, 4)) AS i FROM f)
    """,
)
def multimodal_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling over opaque payloads (every 4th 16-byte frame, one
    digest per kept frame) — the demux/decode seam with a deterministic
    chunker standing in for the codec.  Frames are BYTE offsets into the
    UTF-8 payload (they may split a multi-byte character), so the digest
    is md5 of the frame's lowercase hex — the byte-exact fingerprint
    both engines can hash (DuckDB md5 takes VARCHAR only); the oracle
    slices 32 hex chars per 16-byte frame."""
    from .extensions.multimodal import frame_sample, with_payload

    media = with_payload(_t(spark, sf_dir, "documents"), "doc_id", "text")
    return frame_sample(media)


def _media_relation(spark: SparkSession, rows) -> DataFrame:
    """Synthetic media rows → DataFrame partitioned the way a
    ``binaryFile`` scan would partition real media: payloads PACKED
    (~32 per slice, floor 2 so the multi-partition decode path stays
    exercised, cap ``defaultParallelism``) instead of scattered one per
    core by ``createDataFrame``'s default slicing.  Each Arrow decode
    task then amortizes its Python-worker round trip over a batch of
    payloads — the same bytes-per-task principle
    ``spark.sql.files.maxPartitionBytes`` applies to file scans.
    Measured at sf0.1 (min-of-5, alternating): the composed media
    pipeline runs 2.35s at 32 scattered slices vs 0.79s at 4 packed
    slices — pure per-task seam overhead, zero plan-shape change."""
    slices = max(2, min(spark.sparkContext.defaultParallelism, (len(rows) + 31) // 32))
    return spark.createDataFrame(
        spark.sparkContext.parallelize(rows, slices),
        "media_id bigint, payload binary",
    )


@query(
    "multimodal_png_decode",
    oracle="""
    WITH px AS (
      SELECT n_nationkey, ch,
             (n_nationkey * 31 + y * 7 + x * 3 + ch * 11) % 256 AS v
      FROM nation,
           (SELECT unnest(range(8)) AS y) ys,
           (SELECT unnest(range(8)) AS x) xs,
           (SELECT unnest(range(3)) AS ch) chs
    )
    SELECT n_nationkey AS media_id,
           CAST(8 AS INT) AS width,
           CAST(8 AS INT) AS height,
           CAST(ch AS INT) AS channel,
           round(avg(v), 6) AS mean_value
    FROM px GROUP BY n_nationkey, ch
    """,
)
def multimodal_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode under the oracle gate: one deterministic 8×8
    RGB PNG per nation row (pixel(y,x,ch) = (key·31+y·7+x·3+ch·11) mod
    256, encoded by extensions/png.py), decoded DISTRIBUTED through the
    Arrow-batched mapInPandas seam by the stdlib-only PNG decoder
    (chunk parse → IDAT inflate → scanline unfilter), reduced to
    per-channel pixel means.  The oracle recomputes the means in closed
    form, so the byte-level codec is value-checked end to end — the
    image sibling of [[scan_h5ad_codec]].  Payload generation is
    driver-side over the 25-row dim; decode parallelism is per-payload,
    which is the axis that scales at 100 TB of media."""
    import numpy as _np
    import pyarrow.parquet as _pq

    from .extensions.multimodal import decode_image_stats
    from .extensions.png import encode_png

    keys = (
        _pq.read_table(f"{sf_dir}/nation.parquet", columns=["n_nationkey"])
        .to_pandas()["n_nationkey"]
        .tolist()
    )
    y, x, ch = _np.meshgrid(
        _np.arange(8), _np.arange(8), _np.arange(3), indexing="ij"
    )
    rows = []
    for n in keys:
        img = ((int(n) * 31 + y * 7 + x * 3 + ch * 11) % 256).astype("uint8")
        rows.append((int(n), bytearray(encode_png(img))))
    media = _media_relation(spark, rows)
    return decode_image_stats(media)


@query(
    "multimodal_wav_decode",
    oracle="""
    WITH s AS (
      SELECT n_nationkey, ch,
             ((n_nationkey * 37 + i * 17 + ch * 101) % 4096) - 2048 AS v
      FROM nation,
           (SELECT unnest(range(256)) AS i) si,
           (SELECT unnest(range(2)) AS ch) chs
    )
    SELECT n_nationkey AS media_id,
           CAST(ch AS INT) AS channel,
           CAST(8000 AS INT) AS sample_rate,
           CAST(count(*) AS BIGINT) AS n_samples,
           CAST(sum(v) AS BIGINT) AS sum_value,
           CAST(sum(abs(v)) AS BIGINT) AS sum_abs,
           CAST(min(v) AS INT) AS min_value,
           CAST(max(v) AS INT) AS max_value
    FROM s GROUP BY n_nationkey, ch
    """,
)
def multimodal_wav_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode under the oracle gate: one deterministic
    stereo 256-frame 8 kHz PCM WAV per nation row (sample(i,ch) =
    ((key·37+i·17+ch·101) mod 4096) − 2048, encoded by
    extensions/wav.py), decoded DISTRIBUTED through the Arrow-batched
    mapInPandas seam by the stdlib-only RIFF/WAVE parser (chunk walk →
    fmt parse → vectorized sample reinterpret), reduced to
    integer-exact per-channel stats.  The oracle recomputes the stats
    in closed form, so the byte-level codec is value-checked end to
    end — the audio sibling of [[multimodal_png_decode]].  Payload
    generation is driver-side over the 25-row dim; decode parallelism
    is per-payload, which is the axis that scales at 100 TB of media."""
    import numpy as _np
    import pyarrow.parquet as _pq

    from .extensions.multimodal import decode_audio_stats
    from .extensions.wav import encode_wav

    keys = (
        _pq.read_table(f"{sf_dir}/nation.parquet", columns=["n_nationkey"])
        .to_pandas()["n_nationkey"]
        .tolist()
    )
    i, ch = _np.meshgrid(_np.arange(256), _np.arange(2), indexing="ij")
    rows = []
    for n in keys:
        samples = ((int(n) * 37 + i * 17 + ch * 101) % 4096) - 2048
        rows.append((int(n), bytearray(encode_wav(samples, 8000))))
    media = _media_relation(spark, rows)
    return decode_audio_stats(media)


@query(
    "multimodal_avi_demux",
    oracle="""
    SELECT n_nationkey AS media_id,
           CAST(i AS INT) AS frame_idx,
           CAST(0 AS INT) AS stream,
           'dc' AS kind,
           CAST(len(repeat('k' || n_nationkey || 'f' || i || '.', i + 1))
                AS BIGINT) AS n_bytes,
           md5(repeat('k' || n_nationkey || 'f' || i || '.', i + 1))
               AS frame_md5,
           CAST(12 AS INT) AS declared_frames,
           CAST(64 AS INT) AS width,
           CAST(48 AS INT) AS height
    FROM nation, (SELECT unnest(range(12)) AS i) fi
    """,
)
def multimodal_avi_demux(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video container demux under the oracle gate: one
    deterministic 12-frame AVI per nation row (frame i's payload =
    'k{key}f{i}.' repeated i+1 times, written by extensions/avi.py),
    demuxed DISTRIBUTED through the Arrow-batched mapInPandas seam by
    the stdlib-only RIFF walker (nested LIST traversal → movi frame
    chunks → per-frame typed rows), the production form of
    [[multimodal_frame_sample]]'s stand-in chunker.  The oracle
    recomputes sizes and digests in closed form (ASCII payloads), so
    the container parse is value-checked end to end.  Demux only —
    frame payloads stay opaque; codec decode remains an import-gated
    rejection by name.  Payload generation is driver-side over the
    25-row dim; demux parallelism is per-payload, the axis that scales
    at 100 TB of media."""
    import pyarrow.parquet as _pq

    from .extensions.avi import encode_avi
    from .extensions.multimodal import demux_video_frames

    keys = (
        _pq.read_table(f"{sf_dir}/nation.parquet", columns=["n_nationkey"])
        .to_pandas()["n_nationkey"]
        .tolist()
    )
    rows = []
    for n in keys:
        frames = [f"k{int(n)}f{i}.".encode() * (i + 1) for i in range(12)]
        rows.append((int(n), bytearray(encode_avi(frames, 64, 48))))
    media = _media_relation(spark, rows)
    return demux_video_frames(media)


# ---------------------------------------------------------------------------
# Streaming analogues (batch-checkable; live readStream in streaming/)
# ---------------------------------------------------------------------------


@query(
    "window_tumbling_agg",
    oracle="""
    SELECT CAST(floor(epoch(CAST(ts AS TIMESTAMP)) / 300) * 300 AS BIGINT) AS window_start_epoch,
           event_type, count(*) AS n_events,
           round(sum(value), 6) AS total_value
    FROM events WHERE ts IS NOT NULL GROUP BY 1, 2
    """,
)
def window_tumbling_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """5-minute tumbling window aggregation — identical semantics to the
    Structured Streaming version in streaming/events.py (same window call,
    plus watermark there)."""
    ev = events_with_ts(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 6).alias("total_value"))
        .select(
            ntz_epoch_s("w.start").alias("window_start_epoch"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


@query(
    "window_sliding_agg",
    oracle="""
    WITH e AS (SELECT epoch(CAST(ts AS TIMESTAMP)) AS s, event_type FROM events
              WHERE ts IS NOT NULL),
    w AS (SELECT event_type,
                 unnest([CAST(floor(s/300)*300 AS BIGINT),
                         CAST(floor(s/300)*300 - 300 AS BIGINT)]) AS ws
          FROM e)
    SELECT ws AS window_start_epoch, event_type, count(*) AS n_events
    FROM w GROUP BY 1, 2
    """,
)
def window_sliding_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """10-minute windows sliding every 5 — each event lands in exactly two
    windows; the oracle enumerates them arithmetically."""
    ev = events_with_ts(spark, sf_dir)
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count("*").alias("n_events"))
        .select(
            ntz_epoch_s("w.start").alias("window_start_epoch"),
            "event_type",
            "n_events",
        )
    )


@query(
    "window_session_agg",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
              WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    m AS (SELECT user_id, us,
                 CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                        OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
                      THEN 1 ELSE 0 END AS brk
          FROM e),
    g AS (SELECT user_id, us,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY us
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
          FROM m)
    SELECT user_id, min(us) AS session_start_us, count(*) AS n_events
    FROM g GROUP BY user_id, grp
    """,
)
def window_session_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Session windows (30-min gap) per user — Spark's session_window vs
    the classic gaps-and-islands SQL as oracle.  Anonymous (NULL user)
    and untimestamped events have no session — filtered explicitly on
    both sides (session_window already drops NULL ts internally; the
    filter makes the contract visible)."""
    ev = events_with_ts(spark, sf_dir).where(
        F.col("user_id").isNotNull() & F.col("ts").isNotNull()
    )
    return (
        ev.groupBy(F.session_window("ts", "30 minutes").alias("w"), "user_id")
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            ntz_epoch_us("w.start").alias("session_start_us"),
            "n_events",
        )
    )


@query(
    "stream_dedup_exact",
    oracle="SELECT DISTINCT user_id, event_type FROM events",
)
def stream_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact key dedup — batch twin of dropDuplicatesWithinWatermark in
    the streaming module."""
    return _t(spark, sf_dir, "events").select("user_id", "event_type").dropDuplicates()


# ---------------------------------------------------------------------------
# Engine-native aggregation surface beyond the reference (SURVEY §2.6/§2.7
# "absent" rows: grouped numeric agg, rollup, analytic windows, unpivot)
# ---------------------------------------------------------------------------


@query(
    "agg_rollup_pricing",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 4) AS sum_qty,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM lineitem GROUP BY ROLLUP (l_returnflag, l_linestatus)
    """,
)
def agg_rollup_pricing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hierarchical rollup aggregation (TPC-H-Q1-shaped) — subtotal rows
    materialize in the same single shuffle via grouping-set expansion."""
    return (
        _t(spark, sf_dir, "lineitem")
        .rollup("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 4).alias("sum_qty"),
            F.count("*").alias("n_rows"),
        )
    )


@query(
    "window_running_sum",
    oracle="""
    SELECT o_orderkey, o_custkey,
           round(sum(o_totalprice) OVER (PARTITION BY o_custkey
                                         ORDER BY o_orderkey
                                         ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 4)
             AS running_total
    FROM orders
    """,
)
def window_running_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative analytic window per customer (ordered by the unique key
    so the frame — and therefore the float accumulation order — is
    deterministic in both engines)."""
    from pyspark.sql.window import Window

    w = (
        Window.partitionBy("o_custkey")
        .orderBy("o_orderkey")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.round(F.sum("o_totalprice").over(w), 4).alias("running_total"),
    )


@query(
    "analytics_regional_revenue",
    oracle="""
    SELECT r_name AS region_name, n_name AS nation_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           CAST(count(*) AS BIGINT) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderstatus = 'F'
    GROUP BY r_name, n_name
    """,
)
def analytics_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H-Q5-shaped star join: fact → snowflaked dims, filtered and
    aggregated.  All dim joins broadcast; the only fact shuffle is the
    final aggregation (map-side partial first).  Float revenue rounded
    to 2 (absolute error of the parallel sum ~1e-6 at this scale)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders").filter(F.col("o_orderstatus") == "F")
    cust = _t(spark, sf_dir, "customer")
    nat = _t(spark, sf_dir, "nation")
    reg = _t(spark, sf_dir, "region")
    # orders/customer scale with the fact data — no broadcast hint (AQE
    # broadcasts them locally, shuffle-joins them at cluster scale);
    # nation/region are true bounded dims — always broadcast.
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(cust, F.col("o_custkey") == cust.c_custkey)
        .join(F.broadcast(nat), F.col("c_nationkey") == nat.n_nationkey)
        .join(F.broadcast(reg), F.col("n_regionkey") == reg.r_regionkey)
        .groupBy(F.col("r_name").alias("region_name"), F.col("n_name").alias("nation_name"))
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


_SQL_Q5_TEXT = """
    SELECT r_name AS region_name, n_name AS nation_name,
           round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue,
           count(*) AS n_items
    FROM lineitem
    JOIN orders   ON l_orderkey = o_orderkey
    JOIN customer ON o_custkey = c_custkey
    JOIN nation   ON c_nationkey = n_nationkey
    JOIN region   ON n_regionkey = r_regionkey
    WHERE o_orderstatus = 'F'
    GROUP BY r_name, n_name
"""


@query("sql_api_q5", oracle=_SQL_Q5_TEXT)
def sql_api_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SQL front end: the SAME ANSI text the oracle runs, executed by
    spark.sql over registered views — proving text-in parity with the
    DataFrame plans (Catalyst compiles both to the same logical algebra)."""
    from .sources.tables import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_Q5_TEXT)


@query(
    "agg_percentiles",
    oracle="""
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.95), 6) AS p95
    FROM events GROUP BY event_type
    """,
)
def agg_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (both engines use the
    same linear-interpolation definition).  At 100 TB the approximate
    sketch (percentile_approx / t-digest) replaces this plan-compatibly;
    the exact form is the checkable baseline."""
    return (
        _t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
            F.round(F.expr("percentile(value, 0.95)"), 6).alias("p95"),
        )
    )


@query(
    "time_extract_battery",
    oracle="""
    SELECT o_orderkey,
           CAST(EXTRACT(year FROM CAST(o_orderdate AS TIMESTAMP)) AS INT) AS y,
           CAST(EXTRACT(quarter FROM CAST(o_orderdate AS TIMESTAMP)) AS INT) AS q,
           CAST(EXTRACT(month FROM CAST(o_orderdate AS TIMESTAMP)) AS INT) AS m,
           CAST(EXTRACT(day FROM CAST(o_orderdate AS TIMESTAMP)) AS INT) AS d,
           CAST(EXTRACT(dow FROM CAST(o_orderdate AS TIMESTAMP)) AS INT) AS dow,
           CAST(EXTRACT(hour FROM CAST(o_orderdate AS TIMESTAMP)) AS INT) AS h
    FROM orders
    """,
)
def time_extract_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calendar-field extraction battery (year/quarter/month/day/dow/hour)
    under pinned UTC semantics.  Spark's dayofweek is 1-7 Sunday-first;
    the oracle's dow is 0-6 Sunday-first — normalized here, documented
    rather than discovered."""
    o = _t(spark, sf_dir, "orders")
    ts = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.year(ts).alias("y"),
        F.quarter(ts).alias("q"),
        F.month(ts).alias("m"),
        F.dayofmonth(ts).alias("d"),
        (F.dayofweek(ts) - 1).alias("dow"),
        F.hour(ts).alias("h"),
    )


_VALUE_BANDS = [(0.0, 5.0, "low"), (5.0, 20.0, "mid"), (20.0, 1e9, "high")]


@query(
    "join_range_banding",
    oracle=f"""
    WITH bands AS ({_values_sql(_VALUE_BANDS, ["lo", "hi", "band"])})
    SELECT band, CAST(count(*) AS BIGINT) AS n_events,
           round(sum(value), 6) AS total_value
    FROM events JOIN bands ON value >= lo AND value < hi
    GROUP BY band
    """,
)
def join_range_banding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range join against an interval dimension: the non-equi predicate
    compiles to a broadcast nested-loop over the (tiny) band table — the
    correct physical shape when one side is interval-dimension-sized.
    (Huge-by-huge range joins bucketize first: equi-join on bucket +
    residual filter.)"""
    ev = _t(spark, sf_dir, "events")
    bands = spark.createDataFrame(_VALUE_BANDS, "lo double, hi double, band string")
    return (
        ev.join(
            F.broadcast(bands),
            (F.col("value") >= F.col("lo")) & (F.col("value") < F.col("hi")),
        )
        .groupBy("band")
        .agg(
            F.count("*").alias("n_events"),
            F.round(F.sum("value"), 6).alias("total_value"),
        )
    )


@query(
    "window_rank_battery",
    oracle="""
    SELECT o_orderkey, o_custkey,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           CAST(ntile(4) OVER w AS INT) AS quartile,
           lag(o_orderkey)  OVER w AS prev_order,
           lead(o_orderkey) OVER w AS next_order
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderkey)
    """,
)
def window_rank_battery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Analytic-function battery (rank / dense_rank / ntile / lag / lead)
    over a deterministic per-customer order — one window spec, one
    shuffle, all five functions in the same pass."""
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    return _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_custkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.lag("o_orderkey").over(w).alias("prev_order"),
        F.lead("o_orderkey").over(w).alias("next_order"),
    )


@query(
    "fuzzy_match_names",
    oracle="""
    SELECT a.n_nationkey AS key_a, b.n_nationkey AS key_b,
           CAST(levenshtein(a.n_name, b.n_name) AS INT) AS edit_dist
    FROM nation a JOIN nation b ON a.n_nationkey < b.n_nationkey
    WHERE levenshtein(a.n_name, b.n_name) <= 3
    """,
)
def fuzzy_match_names(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity-resolution primitive: candidate name pairs within edit
    distance 3 (Levenshtein, JVM built-in).  At scale this runs AFTER a
    blocking stage (LSH buckets / prefix keys), never as a raw cross
    join — the dim-sized input here is the blocked candidate set."""
    nat = _t(spark, sf_dir, "nation")
    a = nat.select(F.col("n_nationkey").alias("key_a"), F.col("n_name").alias("name_a"))
    b = nat.select(F.col("n_nationkey").alias("key_b"), F.col("n_name").alias("name_b"))
    return (
        a.join(b, F.col("key_a") < F.col("key_b"))
        .select(
            "key_a",
            "key_b",
            F.levenshtein("name_a", "name_b").alias("edit_dist"),
        )
        .where(F.col("edit_dist") <= 3)
    )


@query(
    "agg_salted_skew",
    oracle="""
    SELECT event_type,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(user_id) AS BIGINT) AS sum_user_id
    FROM events GROUP BY event_type
    """,
)
def agg_salted_skew(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Salted two-phase aggregation over a low-cardinality (≡ skewed) key:
    shard each key into 16 salts, partial-agg, final-agg — bit-identical
    to the direct aggregation for integer sums, but no single reducer
    ever sees a whole hot key."""
    from .operators.skew import salted_sum_count

    ev = _t(spark, sf_dir, "events")
    return salted_sum_count(
        ev,
        keys=["event_type"],
        int_sum_cols=["user_id"],
        salt_on=F.col("event_id"),
    ).select("event_type", "n_rows", F.col("sum_user_id"))


@query(
    "unpivot_stack",
    oracle="""
    SELECT c_custkey, 'acctbal' AS metric, c_acctbal AS value FROM customer
    UNION ALL
    SELECT c_custkey, 'nationkey' AS metric, CAST(c_nationkey AS DOUBLE) AS value FROM customer
    """,
)
def unpivot_stack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unpivot (wide→long) via the native unpivot/melt — the inverse of
    A3's pivot; pure narrow transformation, no shuffle."""
    return (
        _t(spark, sf_dir, "customer")
        .withColumn("nationkey_d", F.col("c_nationkey").cast("double"))
        .unpivot(
            ["c_custkey"],
            [F.col("c_acctbal").alias("acctbal"), F.col("nationkey_d").alias("nationkey")],
            "metric",
            "value",
        )
    )


# ---------------------------------------------------------------------------
# Embedding-cosine dedup, BPE counting, rolling fingerprint, stateful map
# ---------------------------------------------------------------------------

COSINE_DEDUP_THRESHOLD = 0.4
# Test-corpus embedding dimensionality (TESTDATA.md: embeddings.embedding is
# a fixed 64-float array at every SF); passed explicitly so the bucketed plan
# is built without any Spark action.
EMBEDDING_DIMS = 64

# Naive exact-truth pair stream: a pure inequality self-join.  Kept as a
# generator because the identity test (tests/test_cosine_truth_identity.py)
# pins the blocked form below against it — but it is NOT the live oracle:
# DuckDB executes an inequality-only join as an IEJoin that MATERIALIZES
# both sides' payload columns (the 64-double vn arrays, ~1 KB/pair) for
# the full O(n²) pair stream before the threshold filter runs — the
# "~73 GB temp at 4×" hog of the r10 value sweep (VERDICT r10 task 2).
_COSINE_NAIVE_SQL = """
    eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    e AS (SELECT vec_id,
                 list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
          FROM eb
          WHERE list_dot_product(v, v) > 0),
    p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_dot_product(a.vn, b.vn), 6) AS cosine
          FROM e a JOIN e b ON a.vec_id < b.vec_id)
"""


def cosine_pair_truth_sql(threshold: float, block: int = 512) -> str:
    """Blocked exact all-pairs cosine truth — identical rows to the
    naive inequality join, bounded temp.

    Pairs are driven through EQUALITY hash joins on a vec_id block key:
    the block-pair table ``bp`` enumerates every (ba ≤ bb) block
    combination, so each unordered vector pair (x < y) is produced
    EXACTLY once — via (blk(x), blk(y)) when the blocks differ (blk is
    monotone in vec_id, so x < y ⇒ blk(x) ≤ blk(y)) and via the
    ``a.vec_id < b.vec_id`` guard inside the diagonal block otherwise.
    Lossless by construction (no data assumptions; pinned row-for-row
    against the naive join in tests/test_cosine_truth_identity.py).

    Why it fixes the spill: hash-join probe output streams through the
    dot-product projection and threshold filter without materializing
    the pair stream; the only blow-up-able intermediate is the a-side
    fan-out, n × (n_blocks/2) rows — ~256k rows at the 8× sweep vs the
    naive join's 1.28e8 materialized 1 KB pairs.
    """
    return f"""
    WITH eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    e AS MATERIALIZED (
        SELECT vec_id,
               list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn,
               vec_id // {block} AS blk
        FROM eb
        WHERE list_dot_product(v, v) > 0),
    blocks AS (SELECT DISTINCT blk FROM e),
    bp AS (SELECT a.blk AS ba, b.blk AS bb
           FROM blocks a JOIN blocks b ON a.blk <= b.blk),
    p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,
                 round(list_dot_product(a.vn, b.vn), 6) AS cosine
          FROM bp JOIN e a ON a.blk = bp.ba
                  JOIN e b ON b.blk = bp.bb
          WHERE a.vec_id < b.vec_id)
    SELECT id_a, id_b, cosine FROM p WHERE cosine >= {threshold}
    """


@query(
    "dedup_embedding_cosine",
    oracle=cosine_pair_truth_sql(COSINE_DEDUP_THRESHOLD),
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs, exact O(n²) baseline: nested-loop
    self-join + sequential double-precision folds."""
    from .extensions.similarity import cosine_pairs

    return cosine_pairs(_t(spark, sf_dir, "embeddings"), COSINE_DEDUP_THRESHOLD)


@query(
    "dedup_embedding_cosine_lsh",
    oracle="WITH eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),\n"
    + "    en AS (SELECT vec_id, v, list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn FROM eb\n"
    + "           WHERE list_dot_product(v, v) > 0),\n"
    + f"    e AS (SELECT vec_id, vn, {_bucket_sql()} AS bucket FROM en),\n"
    + "    p AS (SELECT a.vec_id AS id_a, b.vec_id AS id_b,\n"
    + "                 round(list_dot_product(a.vn, b.vn), 6) AS cosine\n"
    + "          FROM e a JOIN e b ON a.bucket = b.bucket AND a.vec_id < b.vec_id)\n"
    + f" SELECT id_a, id_b, cosine FROM p WHERE cosine >= {COSINE_DEDUP_THRESHOLD}",
)
def dedup_embedding_cosine_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path: pair generation only within hyperplane-LSH buckets —
    the O(n²) nested loop becomes a hash join on the bucket id.  The
    bucket function is deterministic, so even this ANN variant is
    oracle-checked (recall loss across buckets is part of the semantics)."""
    from .extensions.similarity import cosine_pairs

    return cosine_pairs(
        _t(spark, sf_dir, "embeddings"),
        COSINE_DEDUP_THRESHOLD,
        bucketed=True,
        n_dims=EMBEDDING_DIMS,
    )


@query(
    "text_token_count_bpe",
    oracle="""
    SELECT doc_id,
           len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\\s]')) AS n_bpe_tokens
    FROM documents
    """,
)
def text_token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish pre-tokenizer counting (letter runs / digit runs / single
    punctuation) — regexp_extract_all, JVM-side."""
    from .extensions.text import bpe_token_count

    return _t(spark, sf_dir, "documents").select(
        "doc_id", bpe_token_count("text").alias("n_bpe_tokens")
    )


def _rolling_oracle() -> str:
    from .extensions.text import ROLL_BASE, ROLL_HASH_MASK, ROLL_MOD

    return f"""
    WITH toks AS (SELECT doc_id, {tokens_sql()} AS t FROM documents),
    h AS (SELECT doc_id,
                 list_transform(t, x -> {hash59_sql("x")} % {ROLL_HASH_MASK + 1}) AS hs
          FROM toks)
    SELECT doc_id,
           list_reduce(hs, (a, b) -> (a * {ROLL_BASE} + b) % {ROLL_MOD}) AS rolling_fp
    FROM h
    """


@query("doc_fingerprint_rolling", oracle=_rolling_oracle())
def doc_fingerprint_rolling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-sensitive polynomial rolling hash over the token stream — a
    pure expression fold (no window, no shuffle, no UDF), reproduced
    bit-for-bit by the DuckDB list_reduce oracle."""
    from .extensions.text import rolling_fingerprint, tokens

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", tokens("text").alias("__toks")).select(
        "doc_id", rolling_fingerprint(F.col("__toks")).alias("rolling_fp")
    )


@query(
    "sessionize_apply_in_pandas",
    oracle="""
    WITH e AS (SELECT user_id, epoch_us(CAST(ts AS TIMESTAMP)) AS us FROM events
              WHERE ts IS NOT NULL AND user_id IS NOT NULL),
    m AS (SELECT user_id, us,
                 CASE WHEN lag(us) OVER (PARTITION BY user_id ORDER BY us) IS NULL
                        OR us - lag(us) OVER (PARTITION BY user_id ORDER BY us) > 1800000000
                      THEN 1 ELSE 0 END AS brk
          FROM e),
    g AS (SELECT user_id, us,
                 sum(brk) OVER (PARTITION BY user_id ORDER BY us
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
          FROM m)
    SELECT user_id, min(us) AS session_start_us, CAST(count(*) AS BIGINT) AS n_events
    FROM g GROUP BY user_id, grp
    """,
)
def sessionize_apply_in_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful operator via Arrow-batched grouped map
    (applyInPandas): per-user gap sessionization, checked against the
    same gaps-and-islands oracle as session_window."""
    from .extensions.stateful import sessionize

    ev_raw = _t(spark, sf_dir, "events")
    # anonymous / untimestamped events have no session (matches the
    # oracle's WHERE; a NULL user also becomes a NaN→int64 garbage cast
    # inside the pandas seam — hostile-fixture find)
    ev = ev_raw.select("user_id", ts_us_expr(ev_raw).alias("ts_us")).where(
        F.col("user_id").isNotNull() & F.col("ts_us").isNotNull()
    )
    return sessionize(ev)


def _ann_recall_oracle() -> str:
    cos = (
        "round(list_dot_product(c.v, q.qv) / "
        "(sqrt(list_dot_product(c.v, c.v)) * "
        "sqrt(list_dot_product(q.qv, q.qv))), 6)"
    )
    return f"""
    WITH eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    e AS (SELECT vec_id, v, {_bucket_sql()} AS bucket FROM eb),
    q AS (SELECT vec_id AS q_id, v AS qv, bucket AS qb FROM e WHERE vec_id % 100 = 0),
    c AS (SELECT vec_id, v, bucket FROM e WHERE vec_id % 100 <> 0),
    bd AS (SELECT q.q_id, c.vec_id, {cos} AS cosine FROM c CROSS JOIN q),
    br AS (SELECT q_id, vec_id FROM (
             SELECT q_id, vec_id,
                    row_number() OVER (PARTITION BY q_id
                                       ORDER BY cosine DESC, vec_id) AS rk
             FROM bd) WHERE rk <= 10),
    ld AS (SELECT q.q_id, c.vec_id, {cos} AS cosine
           FROM c JOIN q ON c.bucket = q.qb),
    lr AS (SELECT q_id, vec_id FROM (
             SELECT q_id, vec_id,
                    row_number() OVER (PARTITION BY q_id
                                       ORDER BY cosine DESC, vec_id) AS rk
             FROM ld) WHERE rk <= 10),
    hits AS (SELECT q_id, count(*) AS n FROM br JOIN lr USING (q_id, vec_id)
             GROUP BY q_id)
    SELECT q.q_id, CAST(coalesce(h.n, 0) AS BIGINT) AS n_hits,
           round(coalesce(h.n, 0) / 10.0, 6) AS recall_at_10
    FROM q LEFT JOIN hits h ON q.q_id = h.q_id
    """


@query("similarity_ann_recall_eval", oracle=_ann_recall_oracle())
def similarity_ann_recall_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recall@10 of the hyperplane-LSH ANN path against exact brute
    force, per query — the eval harness every approximate index needs
    before it gates a production retrieval system.  Both rankings are
    deterministic, so even the *measurement of the approximation* is
    value-checked.

    Plan: queries (every 100th vector) broadcast once; the corpus
    streams ONCE through each ranking (brute = broadcast nested loop,
    LSH = bucket-equality hash join), per-query top-k windows, then a
    tiny (q_id, vec_id) overlap join.  Corpus cost is two scans
    regardless of query count."""
    from pyspark.sql.window import Window

    from .extensions.similarity import _as_double, dot, hyperplane_bucket, l2_norm

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    e = emb.withColumn("bucket", hyperplane_bucket(F.col("v"), 64))
    q = e.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv"),
        F.col("bucket").alias("qb"),
    )
    c = e.where(F.col("vec_id") % 100 != 0)
    cos = F.round(
        F.try_divide(
            dot(F.col("v"), F.col("qv")),
            l2_norm(F.col("v")) * l2_norm(F.col("qv")),
        ),
        6,
    ).alias("cosine")
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")

    def topk(scored: DataFrame) -> DataFrame:
        return (
            scored.withColumn("rk", F.row_number().over(w))
            .where(F.col("rk") <= 10)
            .select("q_id", "vec_id")
        )

    brute = topk(c.crossJoin(F.broadcast(q)).select("q_id", "vec_id", cos))
    lsh = topk(
        c.join(F.broadcast(q), c.bucket == q.qb).select("q_id", "vec_id", cos)
    )
    hits = brute.join(lsh, ["q_id", "vec_id"]).groupBy("q_id").agg(
        F.count("*").alias("n")
    )
    return (
        q.select("q_id")
        .join(hits, "q_id", "left")
        .select(
            "q_id",
            F.coalesce("n", F.lit(0)).cast("bigint").alias("n_hits"),
            F.round(F.coalesce("n", F.lit(0)) / 10.0, 6).alias("recall_at_10"),
        )
    )


_KNN_JOIN_ORACLE = """
    WITH eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv FROM eb WHERE vec_id % 100 = 0),
    c AS (SELECT vec_id, v FROM eb WHERE vec_id % 100 <> 0),
    d AS (SELECT q.q_id, c.vec_id,
                 round(list_dot_product(c.v, q.qv) /
                       (sqrt(list_dot_product(c.v, c.v)) *
                        sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
          FROM c CROSS JOIN q),
    r AS (SELECT *, row_number() OVER (PARTITION BY q_id
                                       ORDER BY cosine DESC, vec_id) AS rk
          FROM d)
    SELECT q_id, vec_id, cosine, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= 3
"""


@query("similarity_knn_join", oracle=_KNN_JOIN_ORACLE)
def similarity_knn_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN JOIN: top-3 cosine neighbors for a whole SET of query
    vectors at once (every 100th vector plays the query side) — the
    retrieval/eval shape, vs similarity_topk's single query.

    Plan: the small query side broadcasts (BroadcastNestedLoopJoin —
    the m×n pairing is the algorithm, not an accident), one double fold
    per (corpus row, query), then a per-query top-k window.  Corpus
    rows stream once regardless of m; at scale the same plan shards by
    corpus partition with the query block resident per executor.  For
    corpus-scale query sets use the LSH/IVF bucketed paths instead."""
    from .extensions.similarity import _as_double, dot, l2_norm

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", _as_double(F.col("embedding")).alias("v")
    )
    q = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"), F.col("v").alias("qv")
    )
    c = emb.where(F.col("vec_id") % 100 != 0)
    cos = F.round(
        F.try_divide(
            dot(F.col("v"), F.col("qv")),
            l2_norm(F.col("v")) * l2_norm(F.col("qv")),
        ),
        6,
    )
    from pyspark.sql.window import Window

    d = c.crossJoin(F.broadcast(q)).select("q_id", "vec_id", cos.alias("cosine"))
    w = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
    return (
        d.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= 3)
        .select("q_id", "vec_id", "cosine", "rk")
    )


_KNN_VOTE_ORACLE = """
    WITH eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v,
                       CAST(label AS BIGINT) AS label FROM embeddings),
    q AS (SELECT vec_id AS q_id, v AS qv, label AS true_label
          FROM eb WHERE vec_id % 100 = 0),
    c AS (SELECT vec_id, v, label FROM eb WHERE vec_id % 100 <> 0),
    d AS (SELECT q.q_id, c.vec_id, c.label,
                 round(list_dot_product(c.v, q.qv) /
                       (sqrt(list_dot_product(c.v, c.v)) *
                        sqrt(list_dot_product(q.qv, q.qv))), 6) AS cosine
          FROM c CROSS JOIN q),
    nn AS (SELECT q_id, label FROM (
             SELECT q_id, label,
                    row_number() OVER (PARTITION BY q_id
                                       ORDER BY cosine DESC, vec_id) AS rk
             FROM d) WHERE rk <= 5),
    votes AS (SELECT q_id, label, count(*) AS n FROM nn GROUP BY q_id, label),
    pred AS (SELECT q_id, label AS pred_label FROM (
               SELECT q_id, label,
                      row_number() OVER (PARTITION BY q_id
                                         ORDER BY n DESC, label) AS rn
               FROM votes) WHERE rn = 1)
    SELECT q.q_id, q.true_label, p.pred_label,
           (q.true_label = p.pred_label) AS correct
    FROM q JOIN pred p ON q.q_id = p.q_id
"""


@query("knn_label_vote", oracle=_KNN_VOTE_ORACLE)
def knn_label_vote(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-NN classification (k=5, majority vote, count-then-label
    tie-break) of held-out vectors against the labeled corpus — the
    label-propagation / weak-annotation shape of a training-data
    pipeline (auto-labeling new data from an embedded seed set).

    Plan: query block broadcasts; corpus streams once through the
    scoring join; per-query top-k window; vote resolution is two tiny
    aggregations on q_id — nothing scales with corpus² at any point."""
    from pyspark.sql.window import Window

    from .extensions.similarity import _as_double, dot, l2_norm

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id",
        _as_double(F.col("embedding")).alias("v"),
        F.col("label").cast("bigint").alias("label"),
    )
    q = emb.where(F.col("vec_id") % 100 == 0).select(
        F.col("vec_id").alias("q_id"),
        F.col("v").alias("qv"),
        F.col("label").alias("true_label"),
    )
    c = emb.where(F.col("vec_id") % 100 != 0)
    cos = F.round(
        F.try_divide(
            dot(F.col("v"), F.col("qv")),
            l2_norm(F.col("v")) * l2_norm(F.col("qv")),
        ),
        6,
    ).alias("cosine")
    w_rank = Window.partitionBy("q_id").orderBy(F.desc("cosine"), "vec_id")
    nn = (
        c.crossJoin(F.broadcast(q.select("q_id", "qv")))
        .select("q_id", "vec_id", "label", cos)
        .withColumn("rk", F.row_number().over(w_rank))
        .where(F.col("rk") <= 5)
    )
    votes = nn.groupBy("q_id", "label").agg(F.count("*").alias("n"))
    w_vote = Window.partitionBy("q_id").orderBy(F.desc("n"), "label")
    pred = (
        votes.withColumn("rn", F.row_number().over(w_vote))
        .where(F.col("rn") == 1)
        .select("q_id", F.col("label").alias("pred_label"))
    )
    return q.select("q_id", "true_label").join(pred, "q_id").select(
        "q_id",
        "true_label",
        "pred_label",
        (F.col("true_label") == F.col("pred_label")).alias("correct"),
    )


# ---------------------------------------------------------------------------
# Batch inference seam: Arrow mapInPandas "model scoring"
# ---------------------------------------------------------------------------

# Deterministic int8 "model": weights in [-63, 63].  Real deployments
# swap in loaded weights; the CONTRACT under test is the distributed
# scoring plumbing (schema, Arrow batching, exact quantized arithmetic),
# not the model.
ML_WEIGHTS = [((d * 37) % 127) - 63 for d in range(64)]


def _ml_score_oracle() -> str:
    w = "[" + ", ".join(str(x) for x in ML_WEIGHTS) + "]"
    return f"""
    WITH eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    m AS (SELECT vec_id, v, list_max(list_transform(v, x -> abs(x))) AS amax FROM eb),
    q AS (SELECT vec_id,
                 CASE WHEN amax = 0
                      THEN list_transform(v, x -> CAST(0 AS DOUBLE))
                      ELSE list_transform(v, x ->
                             CASE WHEN x >= 0
                                  THEN floor(x / amax * 127 + 0.5)
                                  ELSE -floor(-(x / amax * 127) + 0.5) END)
                 END AS qv
          FROM m)
    SELECT vec_id,
           CAST(list_dot_product(qv, {w}) AS BIGINT) AS score,
           list_dot_product(qv, {w}) > 0 AS predicted
    FROM q
    """


@query("ml_score_batch", oracle=_ml_score_oracle())
def ml_score_batch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed batch inference through the Arrow seam: mapInPandas
    scores whole record batches with one vectorized numpy matmul per
    batch — the shape a real embedding-model or reranker scoring job
    takes when the model cannot be expressed in SQL.

    Bit-exact cross-engine by construction: vectors are symmetric-
    quantized to int8 steps (half-away-from-zero, matching SQL round
    semantics) and the score is an integer dot product — no float
    summation order anywhere, so numpy's pairwise/BLAS reduction and
    DuckDB's sequential fold agree exactly.  Scale: a pure map stage —
    no shuffle, no state, Arrow batch size bounds memory."""
    import pandas as pd

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")

    def infer(batches):
        import numpy as np

        w = np.asarray(ML_WEIGHTS, dtype=np.int64)
        for pdf in batches:
            v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            amax = np.abs(v).max(axis=1)
            safe = np.where(amax == 0, 1.0, amax)
            y = v / safe[:, None] * 127.0
            q = (np.sign(y) * np.floor(np.abs(y) + 0.5)).astype(np.int64)
            q[amax == 0] = 0
            s = q @ w
            yield pd.DataFrame(
                {"vec_id": pdf["vec_id"], "score": s, "predicted": s > 0}
            )

    return emb.mapInPandas(infer, "vec_id bigint, score bigint, predicted boolean")


def _quant_sql(src: str = "v") -> str:
    """DuckDB int8 quantization of a double array, matching the numpy
    half-away-from-zero in ml_score_batch."""
    return f"""CASE WHEN list_max(list_transform({src}, x -> abs(x))) = 0
                THEN list_transform({src}, x -> CAST(0 AS BIGINT))
                ELSE list_transform({src}, x -> CAST(
                       CASE WHEN x >= 0
                            THEN floor(x / list_max(list_transform({src}, y -> abs(y))) * 127 + 0.5)
                            ELSE -floor(-(x / list_max(list_transform({src}, y -> abs(y))) * 127) + 0.5)
                       END AS BIGINT)) END"""


@query(
    "vector_gram_int8",
    oracle=f"""
    WITH eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    q AS (SELECT vec_id, {_quant_sql("v")} AS qv FROM eb),
    e AS (SELECT vec_id, s.i AS i, s.q AS q
          FROM q, unnest([{{'i': i, 'q': qv[i]}} FOR i IN range(1, len(qv) + 1)]) t(s)),
    p AS (SELECT a.i AS i, b.i AS j, a.q * b.q AS prod
          FROM e a JOIN e b ON a.vec_id = b.vec_id AND a.i <= b.i)
    SELECT i, j, CAST(sum(prod) AS BIGINT) AS g
    FROM p GROUP BY i, j
    """,
)
def vector_gram_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Gram matrix (upper triangle) over int8-quantized
    embeddings — the X^T X building block behind PCA, linear probes,
    and whitening, computed as PER-BATCH SUFFICIENT STATISTICS at the
    Arrow seam: each Arrow batch contributes its local k×k integer
    Q^T Q, and the only shuffle is (batches × k²/2) partial rows into
    a combinable sum — the classical distributed-gram shape.

    This replaced an explode → per-vector feature self-join → sum plan
    in round 12: the 128× stage attribution (docs/SCALE_SWEEP.md)
    showed Catalyst compiling that self-join as a BroadcastHashJoin
    whose BUILD side was the exploded corpus — n_vectors × k rows
    collected to the driver (explode output defeats the parquet size
    estimate), a guaranteed OOM at real scale and ~200 exec-s per
    build at 128×.  No join exists now, so no strategy can get it
    wrong, and the per-row 2080-product fan-out runs as one numpy
    matmul per batch instead of 2080 shuffled rows per vector.

    Exactness ladder: quantization is the ml_score_batch
    half-away-from-zero convention (sign(y)·floor(|y|+0.5), y =
    x/amax·127 — two IEEE double ops in the same order the SQL twin
    executes); the per-batch matmul runs in float64 whose integer
    values are exact (each partial entry ≤ batch_rows · 127² < 2^53),
    cast to int64, and the cross-batch reduction is an integer sum —
    deterministic under any fold order or partitioning."""
    import pandas as pd

    emb = _t(spark, sf_dir, "embeddings").select("embedding")

    def gram(batches):
        import numpy as np

        iu = None
        for pdf in batches:
            if not len(pdf):
                continue
            v = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            amax = np.abs(v).max(axis=1)
            safe = np.where(amax == 0, 1.0, amax)
            y = v / safe[:, None] * 127.0
            q = np.sign(y) * np.floor(np.abs(y) + 0.5)
            q[amax == 0] = 0.0
            g = q.T @ q
            if iu is None:
                iu = np.triu_indices(g.shape[0])
            yield pd.DataFrame(
                {
                    "i": (iu[0] + 1).astype(np.int32),
                    "j": (iu[1] + 1).astype(np.int32),
                    "partial": g[iu].astype(np.int64),
                }
            )

    parts = emb.mapInPandas(gram, "i int, j int, partial bigint")
    return parts.groupBy("i", "j").agg(
        F.sum("partial").cast("bigint").alias("g")
    )


def _sim_hist_oracle() -> str:
    """Histogram of exact Jaccard similarities over the near-dup pair
    set — reuses the registered pair SQL so the operating curve is
    derived from the same spec."""
    pair_sql = ORACLES["dedup_ngram_jaccard"]
    return f"""
    WITH pairs AS ({pair_sql})
    SELECT CAST(floor(jaccard * 10) AS BIGINT) AS sim_band,
           CAST(count(*) AS BIGINT) AS n_pairs,
           round(min(jaccard), 6) AS lo,
           round(max(jaccard), 6) AS hi
    FROM pairs GROUP BY sim_band
    """


@query("dedup_similarity_histogram", oracle=_sim_hist_oracle())
def dedup_similarity_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Similarity-distribution histogram over the exact near-dup pairs:
    band counts of Jaccard scores — the operating-curve view that tells
    you where to SET the dedup threshold before running the full pass
    (a spike near 1.0 = boilerplate; mass near the threshold = tune
    carefully).  One extra combinable aggregate on top of the existing
    pair pipeline."""
    pairs = jaccard_pairs(
        shingle_table(_t(spark, sf_dir, "documents")), threshold=JACCARD_THRESHOLD
    )
    return pairs.groupBy(
        F.floor(F.col("jaccard") * 10).cast("bigint").alias("sim_band")
    ).agg(
        F.count("*").alias("n_pairs"),
        F.round(F.min("jaccard"), 6).alias("lo"),
        F.round(F.max("jaccard"), 6).alias("hi"),
    )


# ---------------------------------------------------------------------------
# K-means (Lloyd), fixed iterations, exact-deterministic across engines
# ---------------------------------------------------------------------------

_KM_K = 8
_KM_DIM = 64
_KM_Q = 1_000_000  # input quantization: 1e-6 fixed point


def _km_dist_sql(vec: str, cen: str) -> str:
    """64-term squared-distance sum with a FIXED left-to-right
    association order, so the double arithmetic is bit-identical in any
    engine that parses `a + b + c` left-associatively (all of them)."""
    return " + ".join(
        f"({vec}[{i}] - {cen}[{i}]) * ({vec}[{i}] - {cen}[{i}])"
        for i in range(1, _KM_DIM + 1)
    )


def _km_oracle() -> str:
    sums = ", ".join(
        f"CAST(sum(q.eq[{i}]) AS BIGINT) AS s{i}" for i in range(1, _KM_DIM + 1)
    )
    cent = ", ".join(
        f"CAST(s{i} AS DOUBLE) / n" for i in range(1, _KM_DIM + 1)
    )
    d1 = _km_dist_sql("q.eq", "i0.c")
    d2 = _km_dist_sql("q.eq", "c1.c")
    df = _km_dist_sql("q.eq", "c2.c")
    return f"""
    WITH q AS (SELECT vec_id,
                      [CAST(floor(CAST(x AS DOUBLE) * {_KM_Q} + 0.5) AS BIGINT)
                       for x in embedding] AS eq
               FROM embeddings),
    i0 AS (SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS INTEGER)
                      AS cluster_id,
                  [CAST(x AS DOUBLE) for x in eq] AS c
           FROM (SELECT vec_id, eq FROM q ORDER BY vec_id LIMIT {_KM_K}) t),
    a1 AS (SELECT vec_id, cluster_id FROM (
             SELECT q.vec_id, i0.cluster_id,
                    row_number() OVER (PARTITION BY q.vec_id
                                       ORDER BY {d1}, i0.cluster_id) AS rk
             FROM q CROSS JOIN i0) WHERE rk = 1),
    m1 AS (SELECT a1.cluster_id, CAST(count(*) AS BIGINT) AS n, {sums}
           FROM a1 JOIN q USING (vec_id) GROUP BY a1.cluster_id),
    c1 AS (SELECT cluster_id, [{cent}] AS c FROM m1),
    a2 AS (SELECT vec_id, cluster_id FROM (
             SELECT q.vec_id, c1.cluster_id,
                    row_number() OVER (PARTITION BY q.vec_id
                                       ORDER BY {d2}, c1.cluster_id) AS rk
             FROM q CROSS JOIN c1) WHERE rk = 1),
    m2 AS (SELECT a2.cluster_id, CAST(count(*) AS BIGINT) AS n, {sums}
           FROM a2 JOIN q USING (vec_id) GROUP BY a2.cluster_id),
    c2 AS (SELECT cluster_id, [{cent}] AS c FROM m2)
    SELECT a2.cluster_id,
           CAST(count(*) AS BIGINT) AS n_members,
           round(CAST(sum(CAST(floor(({df}) / 1000000000.0) AS BIGINT))
                      AS DOUBLE) / 1000.0, 3) AS inertia,
           round(any_value(c2.c[1]) / {_KM_Q}, 6) AS centroid_d0
    FROM a2 JOIN q USING (vec_id) JOIN c2 ON a2.cluster_id = c2.cluster_id
    GROUP BY a2.cluster_id
    """


def _km_dist_col(vec: str, cen: str):
    """Mirror of :func:`_km_dist_sql`: a sequential fold over the
    zipped arrays.  ``aggregate`` folds left-to-right by definition, so
    the double additions happen in the same order as the oracle's
    left-associative 64-term sum — bit-identical results — while the
    codegen stays a compact loop instead of a 64-term unrolled tree
    (the unrolled Column version cost ~6 s of janino compile + ~6 s of
    Py4J build round-trips; this form is one expression node)."""
    return F.aggregate(
        F.zip_with(
            vec, cen, lambda a, b: (a.cast("double") - b) * (a.cast("double") - b)
        ),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


@query("vector_kmeans_lloyd", oracle=_km_oracle())
def vector_kmeans_lloyd(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lloyd's k-means (k=8, two fixed iterations) as a pure DataFrame
    plan — the iterative-ML shape (centroid assign → update → repeat)
    with a bit-identical cross-engine contract, which stock k-means
    never gives (random init + float fold order).

    Determinism recipe: inputs quantized to 1e-6 fixed-point BIGINTs
    (so centroid sums are exact integers under any aggregation order);
    init = the k lowest vec_ids; every squared-distance is a 64-term
    double sum in a FIXED association order; argmin ties break on
    cluster_id; per-point inertia is floor-quantized before the final
    exact integer sum.

    Scale shape: each iteration is one broadcast of the k×64 centroid
    table against the full point set (map-side assign — no shuffle),
    then ONE groupBy(cluster) shuffle carrying 64 integer partial sums
    per map task (map-side combine makes this k×64 longs per task, not
    per row).  Iterations compose lazily; at a real iteration count you
    would localCheckpoint every few rounds like
    [[dedup_connected_components]] does."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _KM_Q + 0.5).cast("bigint"),
        ).alias("eq"),
    )
    i0 = (
        q.orderBy("vec_id")
        .limit(_KM_K)
        .select(
            (
                F.row_number().over(Window.orderBy("vec_id")) - 1
            ).cast("int").alias("cluster_id"),
            F.transform("eq", lambda x: x.cast("double")).alias("c"),
        )
    )

    def assign(cent: DataFrame) -> DataFrame:
        # Map-side argmin (round-12 rewrite): the k centroids collapse
        # into ONE row holding a cluster_id-sorted array of structs,
        # broadcast-cross-joined into the point stream; the nearest
        # centroid is array_min over (dist, cluster_id) structs — the
        # struct comparator IS the (dist ASC, cluster_id ASC) order the
        # previous row_number window used, with the identical
        # _km_dist_col fold producing bit-identical doubles.  This
        # removes the per-iteration window shuffle (which carried k
        # duplicated copies of every quantized vector plus the centroid
        # arrays) AND keeps `eq` in flight so update() needs no join
        # back to q — each Lloyd iteration is now exactly one
        # map-side-combinable groupBy(cluster_id) shuffle, the shape
        # the docstring promises.
        carr = cent.agg(
            F.array_sort(F.collect_list(F.struct("cluster_id", "c"))).alias(
                "__cents"
            )
        )
        best = F.array_min(
            F.transform(
                "__cents",
                lambda s: F.struct(
                    _km_dist_col("eq", s["c"]).alias("d"),
                    s["cluster_id"].alias("cluster_id"),
                ),
            )
        )
        return q.crossJoin(F.broadcast(carr)).select(
            "vec_id", "eq", best["cluster_id"].alias("cluster_id")
        )

    def update(asg: DataFrame) -> DataFrame:
        # expression strings: one Py4J parse each instead of 64 Column
        # trees built call-by-call from Python
        sums = [
            F.expr(f"cast(sum(eq[{i - 1}]) as bigint) as s{i}")
            for i in range(1, _KM_DIM + 1)
        ]
        m = asg.groupBy("cluster_id").agg(
            F.count("*").cast("bigint").alias("n"), *sums
        )
        cent = F.expr(
            "array("
            + ", ".join(
                f"cast(s{i} as double) / n" for i in range(1, _KM_DIM + 1)
            )
            + ")"
        )
        return m.select("cluster_id", cent.alias("c"))

    a1 = assign(i0)
    c1 = update(a1)
    # the second assignment feeds BOTH c2 and the final stats — without
    # a materialization boundary the argmin pass (an interpreted
    # higher-order fold, the dominant per-row cost) would run once per
    # consumer.  EAGER checkpoint, not lazy: c2's broadcast build is
    # submitted concurrently with the main job at action start, and two
    # concurrent first-computations of a lazy localCheckpoint are not
    # deduplicated (the vector_pca_power_iteration find, r12 128×
    # attribution).
    from .spill import ckpt_eager as _ckpt_eager

    a2 = assign(c1).transform(_ckpt_eager)
    c2 = update(a2)
    f = a2.join(F.broadcast(c2), "cluster_id")
    dq = F.floor(_km_dist_col("eq", "c") / 1e9).cast("bigint")
    return f.groupBy("cluster_id").agg(
        F.count("*").cast("bigint").alias("n_members"),
        F.round(F.sum(dq).cast("double") / 1000.0, 3).alias("inertia"),
        F.round(F.any_value(F.element_at("c", 1)) / _KM_Q, 6).alias(
            "centroid_d0"
        ),
    )


@query(
    "semantic_bucket_purity",
    oracle=f"""
    WITH eb AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings),
    e AS (SELECT vec_id, {{bucket}} AS bucket FROM eb),
    j AS (SELECT e.bucket, d.lang
          FROM e JOIN documents d ON d.doc_id = e.vec_id),
    lc AS (SELECT bucket, lang, CAST(count(*) AS BIGINT) AS c
           FROM j GROUP BY bucket, lang),
    tot AS (SELECT bucket, CAST(sum(c) AS BIGINT) AS n_docs,
                   CAST(count(*) AS BIGINT) AS n_langs
            FROM lc GROUP BY bucket),
    top AS (SELECT bucket, lang AS top_lang, c AS top_c FROM (
              SELECT bucket, lang, c,
                     row_number() OVER (PARTITION BY bucket
                                        ORDER BY c DESC, lang) AS rk
              FROM lc) WHERE rk = 1)
    SELECT tot.bucket, tot.n_docs, tot.n_langs, top.top_lang,
           {mean_quantized_sql("top.top_c", "tot.n_docs")} AS purity
    FROM tot JOIN top ON tot.bucket = top.bucket
    """.replace("{bucket}", _bucket_sql()),
)
def semantic_bucket_purity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal audit: hyperplane-LSH buckets of the embedding space
    joined back to the documents table, reporting each semantic
    bucket's language purity — the check that an embedding space (and
    its LSH partitioning) actually separates languages before it is
    trusted for [[dedup_embedding_cosine_lsh]] or ANN routing.

    The bucket id is the same codegen'd expression the cosine-LSH
    dedup uses (no UDF); the doc join keys on vec_id = doc_id (both
    sides shuffle-pruned to two narrow columns); purity derives from
    one (bucket, lang) aggregation plus a 2^planes-row rollup.  At
    100 TB the join is the only wide shuffle and carries 16 bytes a
    row."""
    from .extensions.similarity import hyperplane_bucket

    emb = _t(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        hyperplane_bucket(F.col("embedding"), 64).alias("bucket"),
    )
    d = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    lc = e.join(d, "vec_id").groupBy("bucket", "lang").agg(
        F.count("*").cast("bigint").alias("c")
    )
    tot = lc.groupBy("bucket").agg(
        F.sum("c").cast("bigint").alias("n_docs"),
        F.count("*").cast("bigint").alias("n_langs"),
    )
    rk = F.row_number().over(
        Window.partitionBy("bucket").orderBy(F.col("c").desc(), "lang")
    )
    top = (
        lc.select("bucket", "lang", "c", rk.alias("rk"))
        .where(F.col("rk") == 1)
        .select("bucket", F.col("lang").alias("top_lang"), F.col("c").alias("top_c"))
    )
    return tot.join(top, "bucket").select(
        "bucket", "n_docs", "n_langs", "top_lang",
        # exact quantized count ratio (docs/OPERATIONS.md contract)
        mean_quantized("top_c", "n_docs").alias("purity"),
    )


@query(
    "multimodal_format_sniff",
    oracle="""
    WITH m AS (SELECT doc_id,
                      CASE doc_id % 3 WHEN 0 THEN unhex('FFD8FFE0')
                                      WHEN 1 THEN unhex('89504E47')
                                      ELSE unhex('52494646') END
                          || encode(text) AS payload,
                      CASE doc_id % 4 WHEN 0 THEN 'image/jpeg'
                                      WHEN 1 THEN 'image/png'
                                      WHEN 2 THEN 'audio/wav'
                                      ELSE 'image/jpeg' END AS declared_type
               FROM documents),
    s AS (SELECT doc_id, declared_type,
                 CAST(octet_length(payload) AS BIGINT) AS n_bytes,
                 CASE left(hex(payload), 6)
                      WHEN 'FFD8FF' THEN 'image/jpeg'
                      WHEN '89504E' THEN 'image/png'
                      WHEN '524946' THEN 'audio/wav'
                      ELSE 'application/octet-stream' END AS sniffed_type
          FROM m)
    SELECT sniffed_type,
           CAST(count(*) AS BIGINT) AS n_media,
           CAST(sum(n_bytes) AS BIGINT) AS total_bytes,
           CAST(count(*) FILTER (WHERE sniffed_type != declared_type) AS BIGINT)
               AS n_declared_mismatch
    FROM s GROUP BY sniffed_type
    """,
)
def multimodal_format_sniff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media-ingest triage: magic-byte format sniffing over opaque
    binary payloads, reconciled against the declared content type — the
    first gate of a multimodal pipeline (misdeclared media must be
    rerouted BEFORE hitting the wrong decoder; cf. the decode seam in
    [[multimodal_byte_features]]).

    The payloads here are deterministically synthesized (magic header +
    UTF-8 body) so the contract is value-checkable; on real media only
    the synthesis CTE changes.  The sniff is a pure JVM expression on
    the first bytes (`hex(substring(payload, 1, 3))` — the 3-byte probe
    is sliced from the binary BEFORE hex, so the sniff is O(1) per row
    regardless of payload size; hexing the whole payload to read 6
    chars would copy-and-expand every body 2× — no codec, no Python),
    and the rollup is one combinable aggregate.  At 100 TB the scan
    reads ONLY payload prefixes if the store supports binary column
    pruning; nothing shuffles payload bodies — the aggregate carries
    counts and byte totals."""
    d = _t(spark, sf_dir, "documents")
    magic = (
        F.when(F.col("doc_id") % 3 == 0, F.unhex(F.lit("FFD8FFE0")))
        .when(F.col("doc_id") % 3 == 1, F.unhex(F.lit("89504E47")))
        .otherwise(F.unhex(F.lit("52494646")))
    )
    declared = (
        F.when(F.col("doc_id") % 4 == 0, "image/jpeg")
        .when(F.col("doc_id") % 4 == 1, "image/png")
        .when(F.col("doc_id") % 4 == 2, "audio/wav")
        .otherwise("image/jpeg")
    )
    m = d.select(
        F.concat(magic, F.encode("text", "UTF-8")).alias("payload"),
        declared.alias("declared_type"),
    )
    sig = F.hex(F.expr("substring(payload, 1, 3)"))
    sniffed = (
        F.when(sig == "FFD8FF", "image/jpeg")
        .when(sig == "89504E", "image/png")
        .when(sig == "524946", "audio/wav")
        .otherwise("application/octet-stream")
    )
    s = m.select(
        sniffed.alias("sniffed_type"),
        "declared_type",
        F.octet_length("payload").cast("bigint").alias("n_bytes"),
    )
    return s.groupBy("sniffed_type").agg(
        F.count("*").cast("bigint").alias("n_media"),
        F.sum("n_bytes").cast("bigint").alias("total_bytes"),
        F.count_if(F.col("sniffed_type") != F.col("declared_type"))
        .cast("bigint")
        .alias("n_declared_mismatch"),
    )


@query(
    "multimodal_media_pipeline",
    oracle="""
    WITH png AS (
      SELECT n_nationkey * 4 AS media_id, 'image/png' AS sniffed_type,
             CAST(3 AS BIGINT) AS units,
             CAST(sum((n_nationkey * 31 + y * 7 + x * 3 + ch * 11) % 256)
                  AS BIGINT) AS checksum
      FROM nation,
           (SELECT unnest(range(8)) AS y) ys,
           (SELECT unnest(range(8)) AS x) xs,
           (SELECT unnest(range(3)) AS ch) chs
      GROUP BY n_nationkey
    ),
    wav AS (
      SELECT n_nationkey * 4 + 1 AS media_id, 'audio/wav' AS sniffed_type,
             CAST(2 AS BIGINT) AS units,
             CAST(sum(abs(((n_nationkey * 37 + i * 17 + ch * 101) % 4096)
                          - 2048)) AS BIGINT) AS checksum
      FROM nation,
           (SELECT unnest(range(256)) AS i) si,
           (SELECT unnest(range(2)) AS ch) chs
      GROUP BY n_nationkey
    ),
    avi AS (
      SELECT n_nationkey * 4 + 2 AS media_id, 'video/avi' AS sniffed_type,
             CAST(12 AS BIGINT) AS units,
             CAST(sum(len('k' || n_nationkey || 'f' || i || '.') * (i + 1))
                  AS BIGINT) AS checksum
      FROM nation, (SELECT unnest(range(12)) AS i) fi
      GROUP BY n_nationkey
    ),
    unk AS (
      SELECT n_nationkey * 4 + 3 AS media_id,
             'application/octet-stream' AS sniffed_type,
             CAST(0 AS BIGINT) AS units,
             CAST(len('junk-' || n_nationkey) AS BIGINT) AS checksum
      FROM nation
    )
    SELECT * FROM png UNION ALL SELECT * FROM wav
    UNION ALL SELECT * FROM avi UNION ALL SELECT * FROM unk
    """,
)
def multimodal_media_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The COMPOSED media-ingest pipeline (VERDICT r07 task 4): sniff →
    route → decode over one mixed binary column, wiring the three real
    codecs ([[multimodal_png_decode]], [[multimodal_wav_decode]],
    [[multimodal_avi_demux]]) behind [[multimodal_format_sniff]]'s
    magic-byte triage the way a production lake ingests a media drop
    it does not trust.

    Per nation row, four payloads: a deterministic 8×8 RGB PNG, a
    stereo 256-frame PCM WAV, a 12-frame AVI container, and a junk blob
    (mis-ingested text).  The sniff is pure JVM expression on the first
    bytes — RIFF needs the second probe at bytes 9–12 to split WAVE
    from 'AVI ' (same outer magic); each route filters BEFORE its
    decoder, so no decoder ever sees a foreign format (the codecs
    reject by name, and a routing bug fails the gate loudly as a SPARK
    ERROR, not a wrong number).  Unknown payloads take the metadata
    path — counted and measured, never decoded.

    Each decoded route reduces to one row per media item with an
    integer checksum the oracle recomputes in closed form: total pixel
    sum for PNG (mean·64 is exact — the 8×8 mean is an integer divided
    by 2^6), total |sample| for WAV, total frame bytes for AVI, byte
    length for junk.  Decode parallelism is per-payload through the
    three Arrow seams; the rollups are map-side-combinable groupBys on
    media_id.  At 100 TB only the routing filters and the per-item
    summary rows move — payload bytes never shuffle."""
    import numpy as _np
    import pyarrow.parquet as _pq

    from .extensions.avi import encode_avi
    from .extensions.multimodal import (
        decode_audio_stats,
        decode_image_stats,
        demux_video_frames,
    )
    from .extensions.png import encode_png
    from .extensions.wav import encode_wav

    keys = (
        _pq.read_table(f"{sf_dir}/nation.parquet", columns=["n_nationkey"])
        .to_pandas()["n_nationkey"]
        .tolist()
    )
    y, x, ch3 = _np.meshgrid(
        _np.arange(8), _np.arange(8), _np.arange(3), indexing="ij"
    )
    i2, ch2 = _np.meshgrid(_np.arange(256), _np.arange(2), indexing="ij")
    rows = []
    for n in keys:
        n = int(n)
        img = ((n * 31 + y * 7 + x * 3 + ch3 * 11) % 256).astype("uint8")
        samples = ((n * 37 + i2 * 17 + ch2 * 101) % 4096) - 2048
        frames = [f"k{n}f{i}.".encode() * (i + 1) for i in range(12)]
        rows += [
            (n * 4, bytearray(encode_png(img))),
            (n * 4 + 1, bytearray(encode_wav(samples, 8000))),
            (n * 4 + 2, bytearray(encode_avi(frames, 64, 48))),
            (n * 4 + 3, bytearray(f"junk-{n}".encode())),
        ]
    media = _media_relation(spark, rows)
    sig = F.hex(F.expr("substring(payload, 1, 3)"))
    # RIFF form type, bytes 9-12 — sliced from the binary BEFORE hex so
    # the probe is O(1) per row; hexing a whole media payload to read 8
    # chars would copy-and-expand every body 2x per branch
    cont = F.hex(F.expr("substring(payload, 9, 4)"))
    sniffed = (
        F.when(sig == "89504E", "image/png")
        .when((sig == "524946") & (cont == "57415645"), "audio/wav")
        .when((sig == "524946") & (cont == "41564920"), "video/avi")
        .otherwise("application/octet-stream")
    )
    m = media.withColumn("sniffed_type", sniffed)

    def route(t: str) -> DataFrame:
        return m.where(F.col("sniffed_type") == t).select("media_id", "payload")

    def summarize(decoded: DataFrame, t: str, checksum) -> DataFrame:
        return (
            decoded.groupBy("media_id")
            .agg(
                F.count("*").alias("units"),
                checksum.cast("bigint").alias("checksum"),
            )
            .select(
                "media_id", F.lit(t).alias("sniffed_type"), "units", "checksum"
            )
        )

    png = summarize(
        decode_image_stats(route("image/png")),
        "image/png",
        F.sum(F.round(F.col("mean_value") * 64)),
    )
    wav = summarize(
        decode_audio_stats(route("audio/wav")), "audio/wav", F.sum("sum_abs")
    )
    avi = summarize(
        demux_video_frames(route("video/avi")), "video/avi", F.sum("n_bytes")
    )
    unk = m.where(F.col("sniffed_type") == "application/octet-stream").select(
        "media_id",
        "sniffed_type",
        F.lit(0).cast("bigint").alias("units"),
        F.octet_length("payload").cast("bigint").alias("checksum"),
    )
    return png.unionByName(wav).unionByName(avi).unionByName(unk)


def _incremental_probe_oracle() -> str:
    """The asymmetric probe's result equals the full uncapped pair set
    filtered to (one-new, one-old) pairs: a pair collides in a bucket
    regardless of which side is the snapshot."""
    exact = _lsh_dedup_oracle()
    return f"""
    WITH pairs AS ({exact})
    SELECT CASE WHEN doc_a % 10 = 0 THEN doc_a ELSE doc_b END AS doc_new,
           CASE WHEN doc_a % 10 = 0 THEN doc_b ELSE doc_a END AS doc_old,
           jaccard
    FROM pairs
    WHERE (doc_a % 10 = 0) != (doc_b % 10 = 0)
    """


@query("dedup_incremental_probe", oracle=_incremental_probe_oracle())
def dedup_incremental_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental near-dup dedup — the production CDC shape: a NEW
    batch (doc_id % 10 == 0 stands in for today's crawl) is probed
    against the existing snapshot WITHOUT re-pairing the snapshot
    against itself.  The bucket join is new-side × old-side only
    (extensions/dedup.py::lsh_probe_pairs), so candidate volume is
    O(|new| × bucket hit rate) — at 100 TB you LSH-hash the daily
    millions, broadcast-or-shuffle them against the snapshot's bucket
    table, and never touch old×old.

    Snapshot signatures would be precomputed and stored in production;
    here both sides derive in-plan from the same table so the contract
    is self-contained.  Verification is the same candidate-restricted
    exact-Jaccard as the graded LSH contract."""
    from .extensions.dedup import lsh_probe_pairs

    # spilled digests (128× attribution: this key's two heaviest stages
    # were the DUPLICATED tokenize+md5 subtree — 84 + 69 exec-s — plus a
    # 2.2 GB string-shingle verify shuffle that 16-byte digests shrink ~4×)
    sh = digest_shingles(_t(spark, sf_dir, "documents"), sf_dir)
    sig = minhash_signatures(sh, "doc_id")
    flagged = sig.withColumn("__is_new", F.col("doc_id") % 10 == 0)
    cand = lsh_probe_pairs(flagged, "__is_new", "doc_id")
    cand_ab = cand.select(
        F.least("doc_new", "doc_old").alias("doc_a"),
        F.greatest("doc_new", "doc_old").alias("doc_b"),
    )
    verified = jaccard_pairs(sh, "doc_id", JACCARD_THRESHOLD, candidates=cand_ab)
    is_new_a = F.col("doc_a") % 10 == 0
    return verified.select(
        F.when(is_new_a, F.col("doc_a")).otherwise(F.col("doc_b")).alias("doc_new"),
        F.when(is_new_a, F.col("doc_b")).otherwise(F.col("doc_a")).alias("doc_old"),
        "jaccard",
    )


RANGE_SEARCH_TAU = 0.25


@query(
    "similarity_range_search",
    oracle=f"""
    WITH q AS (SELECT CAST(embedding AS DOUBLE[]) AS qe FROM embeddings WHERE vec_id = 0),
    d AS (SELECT e.vec_id,
                 list_dot_product(CAST(e.embedding AS DOUBLE[]), (SELECT qe FROM q)) AS dp,
                 sqrt(list_dot_product(CAST(e.embedding AS DOUBLE[]),
                                       CAST(e.embedding AS DOUBLE[]))) AS na,
                 (SELECT sqrt(list_dot_product(qe, qe)) FROM q) AS nq
          FROM embeddings e WHERE e.vec_id != 0)
    SELECT vec_id, round(dp / (na * nq), 6) AS cosine
    FROM d WHERE round(dp / (na * nq), 6) >= {RANGE_SEARCH_TAU}
    """,
)
def similarity_range_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (radius) similarity search: ALL vectors within cosine ≥ τ
    of the query — the retrieval mode for 'everything this similar',
    vs [[similarity_topk]]'s fixed-k page.  The threshold compares the
    ROUNDED cosine (the rounding-ladder rule), so the boundary decision
    is bit-identical cross-engine.

    Same scale shape as brute top-k — one scan, per-row fixed-order
    dot fold, no pairwise blowup — except the output is data-dependent:
    a production radius search caps the result per query and routes
    through the LSH buckets ([[similarity_lsh_topk]]) when the corpus
    no longer scans."""
    from .extensions.similarity import _as_double, dot, l2_norm
    import math

    emb = _t(spark, sf_dir, "embeddings")
    qvec = query_vector(emb)
    if qvec is None:
        return spark.createDataFrame([], "vec_id bigint, cosine double")
    q = F.array(*[F.lit(float(x)) for x in qvec])
    qn = math.sqrt(sum(x * x for x in qvec))
    e = _as_double(F.col("embedding"))
    cos = F.round(F.try_divide(dot(e, q), l2_norm(e) * F.lit(qn)), 6)
    return (
        emb.where(F.col("vec_id") != 0)
        .select("vec_id", cos.alias("cosine"))
        .where(F.col("cosine") >= RANGE_SEARCH_TAU)
    )


SIMHASH_HAM_RADIUS = 3
_SIMHASH_BAND_BITS = 8
_SIMHASH_BANDS = SIMHASH_BITS // _SIMHASH_BAND_BITS


def _simhash_eval_oracle() -> str:
    fp_sql = _simhash_oracle()
    # prefix-filtered truth, NOT the all-pairs inverted-index form: the
    # naive twin spills >80 GB at the 8x value sweep (r09 verdict task
    # 2); identical result by the lossless prefix theorem, proven vs
    # the naive form by tests/test_prefix_truth_identity.py
    truth_sql = prefix_pair_sql(1, 5)
    bands = " UNION ALL ".join(
        f"SELECT doc_id, {b} AS band, (simhash >> {b * _SIMHASH_BAND_BITS}) "
        f"& {(1 << _SIMHASH_BAND_BITS) - 1} AS bv FROM fp"
        for b in range(_SIMHASH_BANDS)
    )
    # MATERIALIZED is load-bearing: fp reaches this query's output
    # through bands (8 UNION ALL arms), ver (two more joins), and the
    # scalar-count subqueries — DuckDB's default CTE inlining would
    # re-evaluate the full per-shingle bit aggregation once per path
    # (multiplicatively under the correlated-subquery rewrite; the
    # actual mechanism behind the r09 '>80 GB spill').  Evaluation
    # hint only — the result set is unchanged.
    return f"""
    WITH fp AS MATERIALIZED ({fp_sql}),
    bands AS MATERIALIZED ({bands}),
    cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
             FROM bands a JOIN bands b
               ON a.band = b.band AND a.bv = b.bv AND a.doc_id < b.doc_id),
    ver AS MATERIALIZED (
            SELECT c.doc_a, c.doc_b
            FROM cand c JOIN fp fa ON c.doc_a = fa.doc_id
                        JOIN fp fb ON c.doc_b = fb.doc_id
            WHERE bit_count(xor(fa.simhash, fb.simhash)) <= {SIMHASH_HAM_RADIUS}),
    truth AS MATERIALIZED (SELECT doc_a, doc_b FROM ({truth_sql})),
    hit AS MATERIALIZED (
            SELECT v.doc_a FROM ver v
            JOIN truth t ON v.doc_a = t.doc_a AND v.doc_b = t.doc_b)
    SELECT (SELECT CAST(count(*) AS BIGINT) FROM ver) AS n_candidates,
           (SELECT CAST(count(*) AS BIGINT) FROM truth) AS n_truth,
           (SELECT CAST(count(*) AS BIGINT) FROM hit) AS n_hit,
           {mean_quantized_sql(
               "(SELECT count(*) FROM hit)", "(SELECT count(*) FROM ver)"
           )} AS precision,
           {mean_quantized_sql(
               "(SELECT count(*) FROM hit)", "(SELECT count(*) FROM truth)"
           )} AS recall
    """


@query("dedup_simhash_eval", oracle=_simhash_eval_oracle())
def dedup_simhash_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash-as-dedup EVALUATION contract: banded Hamming-ball pair
    generation (4×8-bit bands — pigeonhole guarantees recall of every
    pair within Hamming ≤ 3) verified by bit_count(xor) and scored
    against the exact n-gram-Jaccard truth set — the method-selection
    row next to [[similarity_ann_recall_eval]].

    The measured verdict IS the contract: on this corpus 32-bit SimHash
    at radius 3 recalls the true near-dups but with precision well
    under 1% (word-salad docs share token distributions, so 32 bits
    under-discriminates) — standing, driver-checked evidence for why
    the MinHash-LSH path ([[dedup_minhash_lsh]]) is the production
    dedup and SimHash is the cheap prefilter.  Scale shape: band
    equality join (256 buckets/band at 32 bits — widen the fingerprint
    to widen the bucket space), Hamming verify on 8-byte ints, two
    scalar counts."""

    docs = _t(spark, sf_dir, "documents")
    fp = simhash(docs)
    mask = (1 << _SIMHASH_BAND_BITS) - 1
    band_structs = F.array(
        *[
            F.struct(
                F.lit(b).alias("band"),
                F.shiftright("simhash", b * _SIMHASH_BAND_BITS)
                .bitwiseAND(F.lit(mask))
                .alias("bv"),
            )
            for b in range(_SIMHASH_BANDS)
        ]
    )
    bands = fp.select("doc_id", F.explode(band_structs).alias("b")).select(
        "doc_id", "b.band", "b.bv"
    )
    a = bands.alias("a")
    b = bands.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.band") == F.col("b.band"))
            & (F.col("a.bv") == F.col("b.bv"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
        .distinct()
    )
    fa = fp.select(F.col("doc_id").alias("doc_a"), F.col("simhash").alias("ha"))
    fb = fp.select(F.col("doc_id").alias("doc_b"), F.col("simhash").alias("hb"))
    ver = (
        cand.join(fa, "doc_a")
        .join(fb, "doc_b")
        .where(
            F.bit_count(F.col("ha").bitwiseXOR(F.col("hb")))
            <= SIMHASH_HAM_RADIUS
        )
        .select("doc_a", "doc_b")
    )
    truth = jaccard_pairs(
        shingle_table(docs, "text", "doc_id", distinct=False),
        "doc_id",
        JACCARD_THRESHOLD,
    ).select("doc_a", "doc_b")
    hit = ver.join(truth, ["doc_a", "doc_b"])
    nv = ver.agg(F.count("*").cast("bigint").alias("n_candidates"))
    nt = truth.agg(F.count("*").cast("bigint").alias("n_truth"))
    nh = hit.agg(F.count("*").cast("bigint").alias("n_hit"))
    return (
        nv.crossJoin(F.broadcast(nt))
        .crossJoin(F.broadcast(nh))
        .select(
            "n_candidates", "n_truth", "n_hit",
            mean_quantized("n_hit", "n_candidates").alias("precision"),
            mean_quantized("n_hit", "n_truth").alias("recall"),
        )
    )


def _lang_centroid_oracle() -> str:
    sums = ", ".join(
        f"CAST(sum(eq[{i}]) AS BIGINT) AS s{i}" for i in range(1, _KM_DIM + 1)
    )
    cent = ", ".join(f"CAST(s{i} AS DOUBLE) / n" for i in range(1, _KM_DIM + 1))
    dotqc = " + ".join(f"q.eq[{i}] * c.c[{i}]" for i in range(1, _KM_DIM + 1))
    # squares in DOUBLE — domain-edge eq (1e12) squared overflows INT64
    nq = " + ".join(
        f"CAST(q.eq[{i}] AS DOUBLE) * q.eq[{i}]" for i in range(1, _KM_DIM + 1)
    )
    nc = " + ".join(f"c.c[{i}] * c.c[{i}]" for i in range(1, _KM_DIM + 1))
    return f"""
    WITH q AS (SELECT e.vec_id, d.lang,
                      [CAST(floor(CAST(x AS DOUBLE) * {_KM_Q} + 0.5) AS BIGINT)
                       for x in e.embedding] AS eq
               FROM embeddings e JOIN documents d ON e.vec_id = d.doc_id),
    m AS (SELECT lang, CAST(count(*) AS BIGINT) AS n, {sums}
          FROM q GROUP BY lang),
    c AS (SELECT lang, n, [{cent}] AS c FROM m),
    s AS (SELECT q.vec_id, q.lang,
                 CAST(floor(({dotqc}) / (sqrt({nq}) * sqrt({nc})) * 1000000)
                      AS BIGINT) AS cos_q
          FROM q JOIN c ON q.lang = c.lang)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           {mean_quantized_signed_sql("sum(cos_q)", "count(*) * 1000000")} AS mean_cos,
           round(CAST(min(cos_q) AS DOUBLE) / 1000000, 6) AS min_cos,
           CAST(count(*) FILTER (WHERE cos_q < 500000) AS BIGINT) AS n_below_50
    FROM s GROUP BY lang
    """


@query("vector_lang_centroid_outliers", oracle=_lang_centroid_oracle())
def vector_lang_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space outlier audit: every document's cosine to its own
    language's centroid, rolled up per language (mean / min / count
    below 0.5) — the screen that catches mislabeled-language docs and
    broken embeddings before they poison ANN routing or semantic dedup
    (the cross-modal sibling of [[semantic_bucket_purity]]).

    Same determinism recipe as [[vector_kmeans_lloyd]]: inputs
    quantized to 1e-6 integers so centroid sums are exact under any
    fold order; the cosine folds in fixed index order; per-doc cosines
    are floor-quantized before the per-lang mean so even the rollup is
    integer-exact.  Plan: one (lang) centroid aggregation with 64
    integer partial sums (map-side combinable), broadcast of the
    5-row centroid table back, one rollup."""
    emb = _t(spark, sf_dir, "embeddings")
    docs = _t(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("vec_id"), "lang"
    )
    q = emb.join(docs, "vec_id").select(
        "vec_id", "lang",
        F.transform(
            "embedding",
            lambda x: F.floor(x.cast("double") * _KM_Q + 0.5).cast("bigint"),
        ).alias("eq"),
    )
    sums = [
        F.expr(f"cast(sum(eq[{i - 1}]) as bigint) as s{i}")
        for i in range(1, _KM_DIM + 1)
    ]
    m = q.groupBy("lang").agg(F.count("*").cast("bigint").alias("n"), *sums)
    cent = F.expr(
        "array("
        + ", ".join(f"cast(s{i} as double) / n" for i in range(1, _KM_DIM + 1))
        + ")"
    )
    c = m.select("lang", cent.alias("c"))
    dotqc = F.expr(
        " + ".join(f"eq[{i}] * c[{i}]" for i in range(_KM_DIM))
    )
    # squares in DOUBLE: eq is 1e-6 fixed-point bigint, and a domain-edge
    # coordinate (1e6 → eq 1e12) squared overflows int64 under ANSI
    nq = F.expr(
        " + ".join(f"cast(eq[{i}] as double) * eq[{i}]" for i in range(_KM_DIM))
    )
    nc = F.expr(" + ".join(f"c[{i}] * c[{i}]" for i in range(_KM_DIM)))
    s = q.join(F.broadcast(c), "lang").select(
        "lang",
        # try_divide: a zero-norm vector (or all-zero centroid) has
        # undefined cosine — NULL, which every aggregate below ignores,
        # matching DuckDB /0 → NULL instead of an ANSI crash
        F.floor(F.try_divide(dotqc, F.sqrt(nq) * F.sqrt(nc)) * 1_000_000)
        .cast("bigint")
        .alias("cos_q"),
    )
    return s.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        mean_quantized_signed(
            F.sum("cos_q"), F.count("*") * F.lit(1_000_000)
        ).alias("mean_cos"),
        F.round(F.min("cos_q").cast("double") / 1_000_000, 6).alias("min_cos"),
        F.count_if(F.col("cos_q") < 500_000).cast("bigint").alias("n_below_50"),
    )
