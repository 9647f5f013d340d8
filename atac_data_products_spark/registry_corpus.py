"""LLM-corpus pipeline batch: normalization/redaction, TF-IDF,
train/val/test splitting, sequence packing, source-mixture sampling.

These are the operators a large-scale training-data pipeline runs
between raw documents and a tokenized training set — the engine's
charter beyond the reference's own surface (BASELINE.json north_star).
Every one is deterministic (md5-slot hashing, declared orderings) so
each carries a DuckDB oracle like the rest of the contract.

Scale notes inline; the common theme is: per-source/per-shard
parallelism instead of global orderings, broadcast dimension literals,
and single-shuffle aggregations.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from . import registry_ext  # noqa: F401  (registers the CC oracle this module composes)
from .extensions.text import (
    TOKEN_SPLIT_RE,
    WS_CLASS,
    bpe_token_count,
    ensure_min_partitions,
    normalize_redact,
    normalize_redact_sql,
    shingle_table,
    token_count,
    tokens,
    tokens_sql,
    word_shingles,
    word_shingles_sql,
)
from .functions.hashes import hash59, hash59_sql
from .functions.numeric import (
    mean_quantized,
    mean_quantized_signed,
    mean_quantized_signed_sql,
    mean_quantized_sql,
)
from .registry import _t, _values_sql, query

# ---------------------------------------------------------------------------
# Normalization / redaction
# ---------------------------------------------------------------------------


@query(
    "corpus_normalize_redact",
    oracle=f"""
    WITH n AS (SELECT doc_id,
                      {normalize_redact_sql()} AS norm
               FROM documents)
    SELECT doc_id, md5(norm) AS norm_fp,
           CAST(length(norm) AS BIGINT) AS norm_len
    FROM n
    """,
)
def corpus_normalize_redact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonicalize text (lowercase, whitespace collapse) and redact
    digit runs to a placeholder — the first stage of a quality/PII
    pipeline.  Pure JVM regexp projection, no shuffle; the md5
    fingerprint of the normalized text is the cross-engine-checkable
    output (and doubles as the exact-dedup key post-normalization)."""
    d = _t(spark, sf_dir, "documents")
    norm = normalize_redact("text")
    return d.select(
        "doc_id",
        F.md5(norm).alias("norm_fp"),
        F.length(norm).cast("bigint").alias("norm_len"),
    )


# ---------------------------------------------------------------------------
# TF-IDF top terms
# ---------------------------------------------------------------------------


@query(
    "corpus_tfidf_topk",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({tokens_sql()}) AS term
                 FROM documents),
    tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
           FROM tok GROUP BY doc_id, term),
    df AS (SELECT term, count(DISTINCT doc_id) AS df FROM tok GROUP BY term),
    n AS (SELECT count(*) AS n_docs FROM documents),
    scored AS (SELECT tf.doc_id, tf.term,
                      round(tf * ln(CAST(n_docs AS DOUBLE) / df), 6) AS tfidf
               FROM tf JOIN df ON tf.term = df.term CROSS JOIN n),
    ranked AS (SELECT *, row_number() OVER (PARTITION BY doc_id
                                            ORDER BY tfidf DESC, term) AS rk
               FROM scored)
    SELECT doc_id, term, tfidf, CAST(rk AS BIGINT) AS rk
    FROM ranked WHERE rk <= 3
    """,
)
def corpus_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 TF-IDF terms per document.

    Three aggregations, all map-side combinable: tf (doc,term), df
    (term), then a broadcast of the tiny df/N sides back onto tf.  The
    per-doc ranking windows over (doc_id) — partition-parallel, never a
    global sort.  Ties broken by term so the top-k is total-ordered."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("term"))
    tf = tok.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    df = tok.groupBy("term").agg(F.countDistinct("doc_id").alias("df"))
    # corpus size as a broadcast one-row dim, so the whole query is ONE
    # lazy plan (no separate count() job on the driver)
    n = d.agg(F.count("*").cast("double").alias("n_docs"))
    scored = (
        tf.join(F.broadcast(df), "term")
        .crossJoin(F.broadcast(n))
        .select(
            "doc_id",
            "term",
            F.round(
                F.col("tf") * F.log(F.col("n_docs") / F.col("df")), 6
            ).alias("tfidf"),
        )
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("tfidf"), "term")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= 3)
        .select("doc_id", "term", "tfidf", "rk")
    )


# ---------------------------------------------------------------------------
# Deterministic train/val/test split
# ---------------------------------------------------------------------------


def _split() -> Column:
    """80/10/10 train/val/test from the md5 slot of the doc id."""
    slot = hash59(F.col("doc_id").cast("string")) % 100
    return F.when(slot < 80, "train").when(slot < 90, "val").otherwise("test")


def _split_sql(doc_id: str = "doc_id") -> str:
    """The DuckDB twin of :func:`_split`."""
    slot = f"{hash59_sql(f'CAST({doc_id} AS VARCHAR)')} % 100"
    return f"CASE WHEN {slot} < 80 THEN 'train' WHEN {slot} < 90 THEN 'val' ELSE 'test' END"


@query(
    "corpus_split_assign",
    oracle=f"""
    WITH s AS (SELECT lang, n_chars, {_split_sql()} AS split
               FROM documents)
    SELECT lang, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM s GROUP BY 1, 2
    """,
)
def corpus_split_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """80/10/10 train/val/test assignment from the md5 slot of the doc
    id: key-stable (a doc never migrates between splits as the corpus
    grows), engine-portable, and skew-free.  One narrow projection +
    one aggregation shuffle."""
    d = _t(spark, sf_dir, "documents")
    return d.groupBy("lang", _split().alias("split")).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_chars").alias("total_chars"),
    )


# ---------------------------------------------------------------------------
# Sequence packing
# ---------------------------------------------------------------------------

_PACK_CAP = 2048


@query(
    "corpus_seq_packing",
    oracle=rf"""
    WITH t AS (SELECT source, doc_id,
                      CAST(len({tokens_sql()}) AS BIGINT)
                          AS n_tokens
               FROM documents),
    c AS (SELECT source, doc_id, n_tokens,
                 sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                     ROWS UNBOUNDED PRECEDING) AS cum
          FROM t)
    SELECT source,
           CAST(floor((cum - n_tokens) / {_PACK_CAP}) AS BIGINT) AS bin_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM c GROUP BY source, bin_id
    """,
)
def corpus_seq_packing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous sequence packing for training batches: documents are
    packed in doc_id order into ~_PACK_CAP-token bins (bin = the running
    offset DIV cap; a doc may straddle two bins by < one doc).

    Deliberately PER-SOURCE: the running sum windows over each source
    partition in parallel.  A single global packing order would force
    one total sort of the corpus — the non-scalable formulation; sharded
    packing is what training pipelines do anyway (one packer per input
    shard)."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "source", "doc_id", token_count("text").cast("bigint").alias("n_tokens")
    )
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    c = t.withColumn("cum", F.sum("n_tokens").over(w))
    return c.groupBy(
        "source",
        F.floor((F.col("cum") - F.col("n_tokens")) / _PACK_CAP)
        .cast("bigint")
        .alias("bin_id"),
    ).agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tokens").alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# Source-mixture sampling
# ---------------------------------------------------------------------------

# sampling weight (percent) per source — the mixture recipe; both the
# Spark plan and the oracle are generated from this one constant.
_MIX_WEIGHTS = [(f"src{i}", 20 + 15 * (i % 5)) for i in range(20)]


@query(
    "corpus_mixture_sample",
    oracle=f"""
    WITH w AS ({_values_sql(_MIX_WEIGHTS, ["source", "pct"])}),
    s AS (SELECT d.source, pct,
                 {hash59_sql("'mix' || CAST(doc_id AS VARCHAR)")} % 100
                     AS slot
          FROM documents d JOIN w ON d.source = w.source)
    SELECT source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE slot < pct) AS BIGINT) AS n_kept
    FROM s GROUP BY source
    """,
)
def corpus_mixture_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing: each source keeps a configured fraction
    of its documents, decided by a key-stable md5 slot (salted 'mix' so
    it is independent of the split-assignment slot).  The weight table
    is a broadcast literal dim; sampling is a filter, not a shuffle —
    at 100 TB the kept fraction streams straight into the next stage."""
    d = _t(spark, sf_dir, "documents")
    weights = spark.sql(_values_sql(_MIX_WEIGHTS, ["source", "pct"]))
    slot = hash59(F.concat(F.lit("mix"), F.col("doc_id").cast("string"))) % 100
    joined = d.join(F.broadcast(weights), "source").select(
        "source", "pct", slot.alias("slot")
    )
    return joined.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_if(F.col("slot") < F.col("pct")).alias("n_kept"),
    )


# ---------------------------------------------------------------------------
# Python UDTF: one row in, N typed rows out (Spark 4 table-function API)
# ---------------------------------------------------------------------------


@query(
    "udtf_term_positions",
    oracle=f"""
    WITH tok AS (SELECT doc_id,
                        generate_subscripts({tokens_sql()}, 1) AS pos,
                        unnest({tokens_sql()}) AS term
                 FROM documents)
    SELECT doc_id, CAST(pos AS INT) AS pos, term
    FROM tok WHERE pos <= 5
    """,
)
def udtf_term_positions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Python UDTF (Spark 4 table-function API): each document expands
    to its first five (position, term) rows through a LATERAL join.

    This exists for API parity — the same semantics run natively as
    posexplode (vector_centroids / corpus_tfidf use that path).  UDTFs
    are the seam for expansion logic that genuinely needs Python (a
    model tokenizer, a parser); like all Python seams it's Arrow-batched
    but row-generating, so keep it off the hot path when a builtin
    exists."""
    import re

    from pyspark.sql.functions import udtf

    # the engine's token contract exactly (extensions/text.py TOKEN_SPLIT_RE):
    # bare str.split() is Unicode-wide (NBSP, U+2028, ...) and drops
    # empty tokens, silently diverging from the declared [\t\n\f\r ]
    # split on hostile input — trim spaces only, split on the class,
    # keep empties, like F.split/trim and the DuckDB oracle do
    ws_re = re.compile(TOKEN_SPLIT_RE)

    @udtf(returnType="pos int, term string")
    class TermSplit:
        def eval(self, text: str):
            if text is None:
                return
            for i, term in enumerate(ws_re.split(text.strip(" ").lower())):
                if i >= 5:
                    break
                yield i + 1, term

    spark.udtf.register("term_split_5", TermSplit)
    from .sources.tables import load_table

    load_table(spark, sf_dir, "documents").createOrReplaceTempView("__docs_udtf")
    return spark.sql(
        "SELECT doc_id, t.pos, t.term "
        "FROM __docs_udtf, LATERAL term_split_5(text) AS t"
    )


# ---------------------------------------------------------------------------
# Benchmark decontamination / repetition filtering / corpus stats
# ---------------------------------------------------------------------------


def _bench_shingles_maybe_broadcast(
    spark: SparkSession, docs: DataFrame, bench_side: DataFrame
) -> DataFrame:
    """Broadcast-hint the benchmark shingle set only when it provably
    fits (round-13, verdict find: the r12 contamination fusion HINTED
    broadcast unconditionally — the domain assumption that eval sets
    are tiny is sound, but at 100 TB a large held-out corpus would turn
    the hint into an executor OOM instead of a slow shuffle join).

    The gate is plan-time-free: the benchmark slice is derived from the
    documents relation by a source filter, so its shingle set is
    bounded by the documents' file bytes (Catalyst's own relation
    statistic — no job runs).  Under ``adp.contamination.broadcast_max_bytes``
    (default 1 GiB of input parquet) the hint is kept — the sf0.1 plan
    is unchanged; above it the hint is dropped and the planner/AQE pick
    the strategy from real runtime sizes (a tiny bench slice of a huge
    corpus still broadcasts — AQE converts at runtime; a genuinely
    large one degrades to a shuffle join instead of an OOM)."""
    cap_raw = spark.conf.get(
        "adp.contamination.broadcast_max_bytes", str(1 << 30)
    )
    try:
        cap = int(cap_raw)
    except (TypeError, ValueError):
        raise ValueError(
            "adp.contamination.broadcast_max_bytes must be an integer "
            f"byte cap, got {cap_raw!r}"
        ) from None
    try:
        input_bytes = int(
            str(
                docs._jdf.queryExecution().optimizedPlan().stats().sizeInBytes()
            )
        )
    except Exception:
        # statistics unavailable (non-file relation): keep the historic
        # hint — the engine-wide domain assumption, overridable by cap=0
        input_bytes = 0
    return F.broadcast(bench_side) if input_bytes <= cap else bench_side


@query(
    "corpus_contamination",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, {tokens_sql()} AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, source, unnest({word_shingles_sql("t")}) AS shingle
           FROM toks WHERE len(t) >= 3),
    bench AS (SELECT shingle FROM sh WHERE source = 'src9'),
    train AS (SELECT doc_id, shingle FROM sh WHERE source <> 'src9'),
    tot AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_shingles
            FROM train GROUP BY doc_id),
    cont AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_contaminated
             FROM train WHERE shingle IN (SELECT shingle FROM bench)
             GROUP BY doc_id)
    SELECT t.doc_id, t.n_shingles,
           coalesce(c.n_contaminated, 0) AS n_contaminated,
           {mean_quantized_sql("coalesce(c.n_contaminated, 0)", "t.n_shingles")}
             AS contamination
    FROM tot t LEFT JOIN cont c USING (doc_id)
    """,
)
def corpus_contamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination check: per training document, the
    fraction of its distinct word 3-grams that also appear in a held-out
    benchmark slice (source 'src9' stands in for the eval set) — the
    n-gram-overlap decontamination step every serious pretraining
    pipeline runs before training.

    Plan shape (round-12 fusion): the previous form derived the train
    shingle set twice — once for the per-doc total and once for the
    contaminated count — and reconciled the two aggregates with an
    outer join.  Both counts now come out of ONE aggregation over a
    single train derivation: a broadcast LEFT join against the distinct
    benchmark set tags each train shingle, and count(*)/count_if fold
    in the same map-side-combinable pass (the shape
    [[corpus_pipeline_e2e]] already used; measured −1 full
    tokenize+explode+distinct pass, 6 exchanges → 3).  The source
    filters push to the parquet scan on both branches, and the train
    distinct now keys (doc_id, shingle) without the constant source
    column.  At 100 TB the benchmark side is tiny relative to the
    corpus and broadcasts; the train side never self-joins."""
    d = _t(spark, sf_dir, "documents")

    def shingles(df, *keep):
        toked = df.select(*keep, tokens("text").alias("__toks"))
        return toked.select(
            *keep,
            F.explode(word_shingles(F.col("__toks"), 3)).alias("shingle"),
        ).where(F.col("shingle") != "")

    train = (
        shingles(d.where(F.col("source") != "src9"), "doc_id")
        .distinct()
    )
    bench = (
        shingles(d.where(F.col("source") == "src9"))
        .select(F.col("shingle").alias("__b_sh"))
        .distinct()
    )
    hit = train.join(
        _bench_shingles_maybe_broadcast(spark, d, bench),
        train.shingle == F.col("__b_sh"),
        "left",
    )
    covered = F.col("__b_sh").isNotNull()
    return hit.groupBy("doc_id").agg(
        F.count("*").alias("n_shingles"),
        F.count_if(covered).alias("n_contaminated"),
        # exact quantized integer ratio, not round(int/int double) —
        # docs/OPERATIONS.md quantization contract
        mean_quantized(F.count_if(covered), F.count("*")).alias(
            "contamination"
        ),
    )


@query(
    "corpus_repetition_ratio",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source, {tokens_sql()} AS t FROM documents),
    shm AS (SELECT doc_id, source, unnest({word_shingles_sql("t")}) AS shingle
            FROM toks WHERE len(t) >= 3)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_total,
           CAST(count(DISTINCT shingle) AS BIGINT) AS n_distinct,
           {mean_quantized_sql(
               "count(*) - count(DISTINCT shingle)", "count(*)"
           )} AS rep_ratio
    FROM shm GROUP BY doc_id
    """,
)
def corpus_repetition_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document repetition score (the Gopher-style repeated
    n-gram filter): 1 − distinct/total word 3-grams per document.
    Highly repetitive documents (boilerplate, keyword stuffing, decode
    loops) score near 1 and get filtered before training.

    Single map-side-combinable aggregation over the shingle multiset —
    one shuffle on doc_id, no joins, no Python."""
    d = ensure_min_partitions(
        # round-12: one input file -> one scan partition serializes the
        # heavy per-row expansion below; conditional spread (no-op at scale)
        _t(spark, sf_dir, "documents"), by="doc_id"
    )
    toked = d.select("doc_id", tokens("text").alias("__toks"))
    shm = toked.select(
        "doc_id", F.explode(word_shingles(F.col("__toks"), 3)).alias("shingle")
    ).where(F.col("shingle") != "")
    return shm.groupBy("doc_id").agg(
        F.count("*").alias("n_total"),
        F.countDistinct("shingle").alias("n_distinct"),
        mean_quantized(
            F.count("*") - F.countDistinct("shingle"), F.count("*")
        ).alias("rep_ratio"),
    )


# ---------------------------------------------------------------------------
# Quality gate / chunking / per-source reservoir
# ---------------------------------------------------------------------------

# Gopher-style quality rules, applied in fixed priority order; the first
# failing rule is the reported reason.  Thresholds chosen to split the
# synthetic corpus into a meaningful keep/drop mix (37/188/229 fail the
# three rules respectively at sf0.01).
_QG_STOPWORDS = ("the", "a")
_QG_MIN_CHARS = 100
_QG_MIN_STOP_RATIO = 0.05
_QG_MAX_AVG_TOK_LEN = 5.5


@query(
    "corpus_quality_gate",
    oracle=rf"""
    WITH t AS (SELECT doc_id, n_chars,
                      {tokens_sql()} AS toks
               FROM documents),
    m AS (SELECT doc_id, n_chars,
                 {mean_quantized_sql(
                     "len(list_filter(toks, x -> x IN ('the', 'a')))",
                     "len(toks)",
                 )} AS stop_ratio,
                 {mean_quantized_sql("n_chars", "len(toks)")} AS avg_tok_len
          FROM t)
    SELECT doc_id, stop_ratio, avg_tok_len,
           CASE WHEN n_chars < {_QG_MIN_CHARS} THEN 'too_short'
                WHEN stop_ratio < {_QG_MIN_STOP_RATIO} THEN 'low_stopword'
                WHEN avg_tok_len > {_QG_MAX_AVG_TOK_LEN} THEN 'long_tokens'
                ELSE 'ok' END AS reason,
           (n_chars >= {_QG_MIN_CHARS} AND stop_ratio >= {_QG_MIN_STOP_RATIO}
            AND avg_tok_len <= {_QG_MAX_AVG_TOK_LEN}) AS keep
    FROM m
    """,
)
def corpus_quality_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composed document-quality gate (the Gopher-rule pattern): length,
    stopword-ratio, and mean-token-length rules evaluated in one scan,
    emitting keep/drop plus the FIRST failing rule as a reason code —
    the audit trail a filtering pipeline reports per dropped doc.

    All rules are per-row array/scalar expressions (higher-order
    functions, no explode), so the gate is a pure narrow projection: no
    shuffle, fully pushdown-friendly, and at 100 TB it streams.  Ratios
    are rounded BEFORE thresholding on both engines (repo parity
    convention) so a float at the boundary cannot flip the verdict
    cross-engine."""
    d = ensure_min_partitions(
        # round-12: one input file -> one scan partition serializes the
        # heavy per-row expansion below; conditional spread (no-op at scale)
        _t(spark, sf_dir, "documents"), by="doc_id"
    )
    toks = tokens("text")
    n_toks = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in _QG_STOPWORDS])
    stop_ratio = mean_quantized(
        F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))), n_toks
    )
    avg_tok_len = mean_quantized("n_chars", n_toks)
    m = d.select(
        "doc_id",
        "n_chars",
        stop_ratio.alias("stop_ratio"),
        avg_tok_len.alias("avg_tok_len"),
    )
    reason = (
        F.when(F.col("n_chars") < _QG_MIN_CHARS, "too_short")
        .when(F.col("stop_ratio") < _QG_MIN_STOP_RATIO, "low_stopword")
        .when(F.col("avg_tok_len") > _QG_MAX_AVG_TOK_LEN, "long_tokens")
        .otherwise("ok")
    )
    return m.select(
        "doc_id",
        "stop_ratio",
        "avg_tok_len",
        reason.alias("reason"),
        (
            (F.col("n_chars") >= _QG_MIN_CHARS)
            & (F.col("stop_ratio") >= _QG_MIN_STOP_RATIO)
            & (F.col("avg_tok_len") <= _QG_MAX_AVG_TOK_LEN)
        ).alias("keep"),
    )


# RAG-style chunking: fixed token window with overlap (stride < window).
_CHUNK_W = 32
_CHUNK_S = 24


@query(
    "corpus_chunk_overlap",
    oracle=rf"""
    WITH t AS (SELECT doc_id,
                      {tokens_sql()} AS toks
               FROM documents
               WHERE text IS NOT NULL),
    s AS (SELECT doc_id, toks,
                 unnest(generate_series(1, greatest(len(toks), 1), {_CHUNK_S})) AS start
          FROM t),
    c AS (SELECT doc_id, start, toks[start : start + {_CHUNK_W - 1}] AS chunk
          FROM s)
    SELECT doc_id,
           CAST((start - 1) / {_CHUNK_S} AS BIGINT) AS chunk_idx,
           CAST(start AS BIGINT) AS start_tok,
           CAST(len(chunk) AS BIGINT) AS n_toks,
           md5(array_to_string(chunk, ' ')) AS chunk_fp
    FROM c
    """,
)
def corpus_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (window {W}, stride {S}) — the
    retrieval/embedding chunker: every document expands to its chunk
    table with stable ids, offsets, and a content fingerprint per chunk.

    The whole operator is array expressions on one row — sequence of
    chunk starts, slice per start — so the expansion is narrow (factor
    ~n_tokens/stride, bounded by document length), never a shuffle or a
    self-join.  At 100 TB chunking streams map-side straight into the
    embedding stage; the md5 fingerprint doubles as the chunk-level
    exact-dedup key."""
    d = _t(spark, sf_dir, "documents")
    # NULL text tokenizes to a NULL array; greatest(size(NULL), 1) is 1
    # (greatest skips NULLs), which would fabricate one empty chunk per
    # NULL document (hostile-fixture find) — NULL text has no chunks
    t = d.select("doc_id", tokens("text").alias("toks")).where(
        F.col("toks").isNotNull()
    )
    s = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("toks"), F.lit(1)), F.lit(_CHUNK_S))
        ).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start"), _CHUNK_W)
    return s.select(
        "doc_id",
        ((F.col("start") - 1) / _CHUNK_S).cast("bigint").alias("chunk_idx"),
        F.col("start").cast("bigint").alias("start_tok"),
        F.size(chunk).cast("bigint").alias("n_toks"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_fp"),
    )


corpus_chunk_overlap.__doc__ = corpus_chunk_overlap.__doc__.format(
    W=_CHUNK_W, S=_CHUNK_S
)

# Exact-substring duplication at span granularity: non-overlapping
# token windows, cross-document occurrence counting.
_SPAN_W = 16


@query(
    "corpus_span_dup_rate",
    oracle=rf"""
    WITH t AS (SELECT doc_id,
                      {tokens_sql()} AS toks
               FROM documents),
    s AS (SELECT doc_id, toks,
                 unnest(generate_series(1, greatest(len(toks), 1), {_SPAN_W})) AS start
          FROM t),
    c AS (SELECT doc_id,
                 md5(array_to_string(toks[start : start + {_SPAN_W - 1}], ' ')) AS fp
          FROM s),
    g AS (SELECT fp, count(DISTINCT doc_id) AS n_docs FROM c GROUP BY fp)
    SELECT c.doc_id,
           CAST(count(*) AS BIGINT) AS n_spans,
           CAST(sum(CASE WHEN g.n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans,
           {mean_quantized_sql(
               "sum(CASE WHEN g.n_docs > 1 THEN 1 ELSE 0 END)", "count(*)"
           )} AS dup_frac
    FROM c JOIN g USING (fp)
    GROUP BY c.doc_id
    """,
)
def corpus_span_dup_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-document repeated-span rate: non-overlapping {W}-token
    windows fingerprinted per doc, a span counted as duplicated when its
    fingerprint occurs in ≥2 DISTINCT documents — the span-granular
    exact-substring dedup signal (the fraction drives "remove repeated
    passages" decisions the way doc-level exact dedup can't: boilerplate
    headers/footers duplicate across otherwise-unique pages).

    Scale: chunking is narrow array expressions; then ONE shuffle on the
    16-byte span fingerprint for the distinct-doc count (combinable),
    whose output is already co-partitioned for the fp join back, and one
    (doc_id) shuffle for the per-doc rollup.  Bodies never shuffle —
    only fingerprints.  Within-doc repetition is the separate
    corpus_repetition_ratio signal."""
    d = _t(spark, sf_dir, "documents")
    # NULL text tokenizes to a NULL array; greatest(size(NULL), 1) is 1
    # (greatest skips NULLs), which would fabricate one empty chunk per
    # NULL document (hostile-fixture find) — NULL text has no chunks
    t = d.select("doc_id", tokens("text").alias("toks")).where(
        F.col("toks").isNotNull()
    )
    s = t.select(
        "doc_id",
        "toks",
        F.explode(
            F.sequence(F.lit(1), F.greatest(F.size("toks"), F.lit(1)), F.lit(_SPAN_W))
        ).alias("start"),
    )
    c = s.select(
        "doc_id",
        F.md5(F.concat_ws(" ", F.slice(F.col("toks"), F.col("start"), _SPAN_W))).alias(
            "fp"
        ),
    )
    g = c.groupBy("fp").agg(F.countDistinct("doc_id").alias("n_docs"))
    dup = F.when(F.col("n_docs") > 1, 1).otherwise(0)
    return (
        c.join(g, "fp")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(dup).cast("bigint").alias("n_dup_spans"),
            mean_quantized(F.sum(dup), F.count("*")).alias("dup_frac"),
        )
    )


corpus_span_dup_rate.__doc__ = corpus_span_dup_rate.__doc__.format(W=_SPAN_W)


@query(
    "corpus_novelty_rate",
    oracle=rf"""
    WITH toks AS (SELECT doc_id, {tokens_sql()} AS t
                  FROM documents),
    shingles AS (SELECT DISTINCT doc_id, unnest({word_shingles_sql("t")}) AS shingle
                 FROM toks WHERE len(t) >= 3),
    o AS (SELECT shingle, min(doc_id) AS first_doc FROM shingles GROUP BY shingle)
    SELECT s.doc_id,
           CAST(count(*) AS BIGINT) AS n_shingles,
           CAST(sum(CASE WHEN o.first_doc = s.doc_id THEN 1 ELSE 0 END) AS BIGINT)
               AS n_novel,
           {mean_quantized_sql(
               "sum(CASE WHEN o.first_doc = s.doc_id THEN 1 ELSE 0 END)",
               "count(*)",
           )} AS novelty_rate
    FROM shingles s JOIN o USING (shingle)
    GROUP BY s.doc_id
    """,
)
def corpus_novelty_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document novelty: the fraction of a doc's shingles that the
    corpus sees FIRST in that doc (global min doc_id owns the shingle).
    The curation-ordering signal — low-novelty docs add little content
    beyond what earlier docs already contribute, the streaming-corpus
    complement to pairwise dedup.

    Scale: one combinable min-agg shuffle on the shingle hash, one fp
    join back (co-partitioned with the agg output), one (doc_id)
    rollup.  Document bodies never shuffle."""
    sh = shingle_table(_t(spark, sf_dir, "documents"))
    owner = sh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    novel = F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
    return (
        sh.join(owner, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(novel).cast("bigint").alias("n_novel"),
            mean_quantized(F.sum(novel), F.count("*")).alias("novelty_rate"),
        )
    )

_RSV_K = 5


@query(
    "corpus_reservoir_per_source",
    oracle=f"""
    WITH h AS (SELECT source, doc_id,
                      md5('rsv' || CAST(doc_id AS VARCHAR)) AS hk
               FROM documents),
    r AS (SELECT source, doc_id, hk,
                 row_number() OVER (PARTITION BY source ORDER BY hk, doc_id) AS rk
          FROM h)
    SELECT source, doc_id, CAST(rk AS BIGINT) AS rk
    FROM r WHERE rk <= {_RSV_K}
    """,
)
def corpus_reservoir_per_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group "reservoir": the k={k} docs with the
    smallest salted-md5 rank per source — a uniform, key-stable sample
    (a doc's hash never changes, so the sample only changes when a
    smaller-hash doc arrives, exactly reservoir semantics) used for
    eyeballing/eval subsets per corpus slice.

    One shuffle on source; the window is partition-parallel.  For large
    k at 100 TB the same semantics run as a two-phase top-k (per-
    partition k-smallest, then merge) — Spark's window already degrades
    gracefully since each source partition sorts independently."""
    d = _t(spark, sf_dir, "documents")
    hk = F.md5(F.concat(F.lit("rsv"), F.col("doc_id").cast("string")))
    w = Window.partitionBy("source").orderBy("hk", "doc_id")
    return (
        d.select("source", "doc_id", hk.alias("hk"))
        .withColumn("rk", F.row_number().over(w).cast("bigint"))
        .where(F.col("rk") <= _RSV_K)
        .select("source", "doc_id", "rk")
    )


corpus_reservoir_per_source.__doc__ = corpus_reservoir_per_source.__doc__.format(
    k=_RSV_K
)


@query(
    "corpus_stats_rollup",
    oracle=f"""
    SELECT coalesce(source, 'ALL') AS source,
           coalesce(lang, 'ALL') AS lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(len({tokens_sql()})) AS BIGINT)
             AS n_tokens,
           {mean_quantized_sql("sum(n_chars)", "count(n_chars)")} AS avg_chars
    FROM documents
    GROUP BY ROLLUP(source, lang)
    """,
)
def corpus_stats_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus composition report: document/token/char statistics at
    (source, lang), per-source, and grand-total grain in ONE pass —
    GROUP BY ROLLUP, the partial-aggregate-friendly way to get the
    mixture table a data card reports.  NULL grouping slots are
    coalesced to 'ALL' so the oracle comparison is engine-portable."""
    d = _t(spark, sf_dir, "documents")
    return (
        d.select("source", "lang", "n_chars", F.size(tokens("text")).alias("__nt"))
        .rollup("source", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("__nt").cast("bigint").alias("n_tokens"),
            F.sum("n_chars").alias("__sum_ch"),
            F.count("n_chars").alias("__n_ch"),
        )
        .select(
            F.coalesce("source", F.lit("ALL")).alias("source"),
            F.coalesce("lang", F.lit("ALL")).alias("lang"),
            "n_docs",
            "n_tokens",
            mean_quantized("__sum_ch", "__n_ch").alias("avg_chars"),
        )
    )


# ---------------------------------------------------------------------------
# End-to-end near-dup pipeline: pairs -> clusters -> keep-best survivor
# ---------------------------------------------------------------------------


def _survivors_oracle() -> str:
    """Survivor selection on top of connected components over the LSH
    candidate pairs.  The LSH oracle (registered by registry_ext,
    imported above so its ORACLES entry exists at module-import time)
    replicates the banding from the same constants, so even though the
    pair stage is approximate-recall, BOTH engines derive the identical
    pair set and the whole pipeline stays value-checked."""
    from .registry import ORACLES

    pair_sql = ORACLES["dedup_minhash_lsh"]
    cc_sql = f"""
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
    return f"""
    WITH cc AS ({cc_sql}),
    sized AS (SELECT cluster_id, CAST(count(*) AS BIGINT) AS n_members
              FROM cc GROUP BY cluster_id),
    ranked AS (SELECT c.doc_id, c.cluster_id, s.n_members,
                      row_number() OVER (PARTITION BY c.cluster_id
                                         ORDER BY length(d.text) DESC, c.doc_id)
                          AS rn
               FROM cc c
               JOIN documents d ON c.doc_id = d.doc_id
               JOIN sized s ON c.cluster_id = s.cluster_id)
    SELECT doc_id, cluster_id, n_members FROM ranked WHERE rn = 1
    """


@query("corpus_dedup_survivors", oracle=_survivors_oracle())
def corpus_dedup_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical LLM dedup pipeline composed end-to-end: MinHash-LSH
    near-dup pairs -> connected components -> ONE survivor per duplicate
    cluster (longest text, doc_id tie-break).  The pair stage is the
    banded-LSH SCALE path, not the quadratic exact baseline — and it is
    still value-checked end to end because the oracle rebuilds the same
    bands from the same constants (the exact-pair twin of this pipeline
    is dedup_connected_components).

    Scale: the cluster map covers EDGE MEMBERS only
    (duplicate_clusters), so the per-cluster survivor window shuffles
    just the duplicated subset; every untouched document is a singleton
    survivor via one anti-join — the corpus is never shuffled by
    cluster_id.  Cluster sizes are bounded by real duplication, and a
    pathological mega-cluster is exactly the hot-bucket case the LSH
    cap test pins."""
    from .extensions.dedup import (
        LSH_MAX_BUCKET,
        digest_shingles,
        duplicate_clusters,
        minhash_lsh_dedup_pairs,
    )
    from .registry_ext import JACCARD_THRESHOLD

    docs = _t(spark, sf_dir, "documents")
    edges = minhash_lsh_dedup_pairs(
        digest_shingles(docs, sf_dir),
        threshold=JACCARD_THRESHOLD,
        max_bucket_size=LSH_MAX_BUCKET,
    ).select("doc_a", "doc_b")
    dup = duplicate_clusters(edges)  # (doc_id, cluster_id), members only
    sized = dup.groupBy("cluster_id").agg(F.count("*").alias("n_members"))
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc(F.length("text")), F.col("doc_id")
    )
    dup_survivors = (
        docs.select("doc_id", "text").join(dup, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .join(sized, "cluster_id")
        .select("doc_id", "cluster_id", "n_members")
    )
    singletons = (
        docs.select("doc_id")
        .join(dup.select("doc_id"), "doc_id", "left_anti")
        .select(
            "doc_id",
            F.col("doc_id").alias("cluster_id"),
            F.lit(1).cast("bigint").alias("n_members"),
        )
    )
    return dup_survivors.unionByName(singletons)


# ---------------------------------------------------------------------------
# Vocabulary coverage: the tokenizer-design report
# ---------------------------------------------------------------------------

VOCAB_TOPK = 200


@query(
    "corpus_vocab_coverage",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {tokens_sql()} AS t
                  FROM documents),
    tok AS (SELECT unnest(t) AS token FROM toks),
    counts AS (SELECT token, CAST(count(*) AS BIGINT) AS n
               FROM tok WHERE token != '' GROUP BY token),
    total AS (SELECT CAST(sum(n) AS BIGINT) AS total FROM counts),
    topk AS (SELECT token, n FROM counts ORDER BY n DESC, token LIMIT {VOCAB_TOPK})
    SELECT token, n,
           CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT) AS rank,
           {mean_quantized_sql(
               "sum(n) OVER (ORDER BY n DESC, token "
               "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)",
               "total")} AS cum_frac
    FROM topk CROSS JOIN total
    """,
)
def corpus_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary frequency table with cumulative corpus coverage — the
    report a tokenizer design reads ("how many types cover 95% of
    tokens").  Token counting and the ordered top-k are fully parallel
    (map-side-combinable agg + parallel top-k limit); the single-
    partition window runs over only the {VOCAB_TOPK}-row page, with the
    corpus-wide token total folded in as a broadcast one-row dim —
    no global sort of the full vocabulary anywhere."""
    docs = _t(spark, sf_dir, "documents")
    counts = (
        docs.select(F.explode(tokens("text")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").alias("n"))
    )
    total = counts.agg(F.sum("n").cast("bigint").alias("total"))
    topk = counts.orderBy(F.desc("n"), "token").limit(VOCAB_TOPK)
    w = Window.orderBy(F.desc("n"), "token")
    wsum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    return topk.crossJoin(F.broadcast(total)).select(
        "token",
        "n",
        F.row_number().over(w).cast("bigint").alias("rank"),
        # cum_frac is an exact integer ratio (cumulative count / total):
        # quantized lane per docs/OPERATIONS.md, not round(int/int, 6)
        mean_quantized(F.sum("n").over(wsum), "total").alias("cum_frac"),
    )


# ---------------------------------------------------------------------------
# Feature hashing: the hashing-trick featurizer
# ---------------------------------------------------------------------------

HASH_FEATURE_BUCKETS = 64


@query(
    "text_feature_hashing",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {tokens_sql()} AS t
                  FROM documents),
    tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
    h AS (SELECT doc_id,
                 {hash59_sql("token")} % {HASH_FEATURE_BUCKETS}
                     AS bucket
          FROM tok WHERE token != '')
    SELECT doc_id, bucket, CAST(count(*) AS BIGINT) AS n
    FROM h GROUP BY doc_id, bucket
    """,
)
def text_feature_hashing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The hashing trick: tokens -> fixed-width feature buckets via the
    repo's portable md5-prefix hash, counts per (doc, bucket) — a
    vocabulary-free featurizer whose output width is a constant, which
    is what makes it the streaming/OOV-safe choice at corpus scale.
    Long-form output (doc_id, bucket, n): sparse by construction; one
    combinable aggregation shuffle and no vocabulary state anywhere."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select(
        "doc_id", F.explode(tokens("text")).alias("token")
    ).where(F.col("token") != "")
    bucket = hash59("token") % HASH_FEATURE_BUCKETS
    return (
        tok.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("n"))
    )


# ---------------------------------------------------------------------------
# Collocation mining: PMI over bigrams
# ---------------------------------------------------------------------------


@query(
    "text_pmi_bigrams",
    oracle=f"""
    WITH toks AS (SELECT doc_id, {tokens_sql()} AS t
                  FROM documents),
    uni AS (SELECT unnest(t) AS tok FROM toks),
    uc AS (SELECT tok, CAST(count(*) AS BIGINT) AS c FROM uni WHERE tok != '' GROUP BY tok),
    nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uc),
    bg AS (SELECT unnest([t[i] || ' ' || t[i+1] FOR i IN range(1, len(t))]) AS bigram
           FROM toks WHERE len(t) >= 2),
    bc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS c_xy FROM bg GROUP BY bigram),
    nb AS (SELECT CAST(sum(c_xy) AS BIGINT) AS n_bi FROM bc),
    top AS (SELECT bigram, c_xy FROM bc ORDER BY c_xy DESC, bigram LIMIT 20)
    SELECT t.bigram, t.c_xy,
           round(ln((CAST(t.c_xy AS DOUBLE) / n_bi)
                    / ((CAST(x.c AS DOUBLE) / n_uni)
                       * (CAST(y.c AS DOUBLE) / n_uni))), 6) AS pmi
    FROM top t
    JOIN uc x ON x.tok = split_part(t.bigram, ' ', 1)
    JOIN uc y ON y.tok = split_part(t.bigram, ' ', 2)
    CROSS JOIN nu CROSS JOIN nb
    """,
)
def text_pmi_bigrams(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Collocation mining: pointwise mutual information for the top-20
    bigrams — ln(p(xy) / (p(x)p(y))) with the SAME float parenthesization
    on both engines (ratios first; raw integer cross-products would
    overflow BIGINT at corpus scale).  Unigram/bigram counting are both
    combinable aggregates; the unigram side and the one-row totals
    broadcast onto the 20-row top page, so nothing after the counts
    shuffles more than the page."""
    d = _t(spark, sf_dir, "documents")
    toks = d.select(tokens("text").alias("t"))
    uc = (
        toks.select(F.explode("t").alias("tok"))
        .where(F.col("tok") != "")
        .groupBy("tok")
        .agg(F.count("*").alias("c"))
    )
    nu = uc.agg(F.sum("c").cast("bigint").alias("n_uni"))
    bc = (
        toks.where(F.size("t") >= 2)
        .select(F.explode(word_shingles(F.col("t"), n=2)).alias("bigram"))
        .groupBy("bigram")
        .agg(F.count("*").alias("c_xy"))
    )
    nb = bc.agg(F.sum("c_xy").cast("bigint").alias("n_bi"))
    top = bc.orderBy(F.desc("c_xy"), "bigram").limit(20)
    x = uc.select(F.col("tok").alias("__xtok"), F.col("c").alias("__xc"))
    y = uc.select(F.col("tok").alias("__ytok"), F.col("c").alias("__yc"))
    joined = (
        top.join(F.broadcast(x), F.split_part(F.col("bigram"), F.lit(" "), F.lit(1)) == F.col("__xtok"))
        .join(F.broadcast(y), F.split_part(F.col("bigram"), F.lit(" "), F.lit(2)) == F.col("__ytok"))
        .crossJoin(F.broadcast(nu))
        .crossJoin(F.broadcast(nb))
    )
    pmi = F.round(
        F.log(
            (F.col("c_xy").cast("double") / F.col("n_bi"))
            / (
                (F.col("__xc").cast("double") / F.col("n_uni"))
                * (F.col("__yc").cast("double") / F.col("n_uni"))
            )
        ),
        6,
    )
    return joined.select("bigram", "c_xy", pmi.alias("pmi"))


# ---------------------------------------------------------------------------
# The composed training-data pipeline: one lazy plan, end to end
# ---------------------------------------------------------------------------


@query(
    "corpus_training_manifest",
    oracle=rf"""
    WITH t AS (SELECT doc_id, source, n_chars, text,
                      {tokens_sql()} AS toks
               FROM documents),
    gated AS (SELECT doc_id, source, text, toks
              FROM (SELECT *,
                           {mean_quantized_sql(
                               "len(list_filter(toks, x -> x IN ('the', 'a')))",
                               "len(toks)",
                           )} AS stop_ratio,
                           {mean_quantized_sql("n_chars", "len(toks)")} AS avg_tok_len
                    FROM t)
              WHERE n_chars >= {_QG_MIN_CHARS}
                AND stop_ratio >= {_QG_MIN_STOP_RATIO}
                AND avg_tok_len <= {_QG_MAX_AVG_TOK_LEN}),
    fp AS (SELECT doc_id, source, toks,
                  md5({normalize_redact_sql()}) AS norm_fp
           FROM gated),
    canon AS (SELECT * FROM (
                SELECT *, row_number() OVER (PARTITION BY norm_fp ORDER BY doc_id) AS rn
                FROM fp) WHERE rn = 1),
    assigned AS (SELECT source, len(toks) AS n_tokens, {_split_sql()} AS split
                 FROM canon)
    SELECT source, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM assigned GROUP BY 1, 2
    """,
)
def corpus_training_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The LLM training-data pipeline composed end to end in ONE lazy
    plan: quality gate (Gopher-style HOF rules, narrow projection) →
    normalize + fingerprint → exact-dedup survivor selection (min
    doc_id per normalized fingerprint) → key-stable md5-slot split →
    per-(source, split) manifest rollup.

    Catalyst sees the whole pipeline: the gate's predicates prune before
    the dedup shuffle, the only wide ops are one (fingerprint) window
    and one final aggregation, and every stage is the scale-safe twin
    of its standalone contract query (corpus_quality_gate,
    corpus_normalize_redact, dedup_exact, corpus_split_assign,
    corpus_stats_rollup)."""
    d = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    n_toks = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in _QG_STOPWORDS])
    stop_ratio = mean_quantized(
        F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))), n_toks
    )
    avg_tok_len = mean_quantized("n_chars", n_toks)
    gated = d.where(
        (F.col("n_chars") >= _QG_MIN_CHARS)
        & (stop_ratio >= _QG_MIN_STOP_RATIO)
        & (avg_tok_len <= _QG_MAX_AVG_TOK_LEN)
    )
    norm = normalize_redact("text")
    fp = gated.select(
        "doc_id", "source", F.size(tokens("text")).alias("n_tokens"),
        F.md5(norm).alias("norm_fp"),
    )
    w = Window.partitionBy("norm_fp").orderBy("doc_id")
    canon = fp.withColumn("rn", F.row_number().over(w)).where(F.col("rn") == 1)
    split = _split()
    return (
        canon.select("source", "n_tokens", split.alias("split"))
        .groupBy("source", "split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        )
    )


@query(
    "corpus_lang_drift_kl",
    oracle="""
    WITH c AS (SELECT source, lang, CAST(count(*) AS BIGINT) AS n
               FROM documents GROUP BY source, lang),
    src AS (SELECT source, CAST(sum(n) AS BIGINT) AS n_src FROM c GROUP BY source),
    langm AS (SELECT lang, CAST(sum(n) AS BIGINT) AS n_lang FROM c GROUP BY lang),
    tot AS (SELECT CAST(sum(n) AS BIGINT) AS n_tot FROM c)
    SELECT c.source,
           round(sum((CAST(c.n AS DOUBLE) / s.n_src)
                     * ln((CAST(c.n AS DOUBLE) / s.n_src)
                          / (CAST(g.n_lang AS DOUBLE) / t.n_tot))), 6) AS kl
    FROM c
    JOIN src s ON c.source = s.source
    JOIN langm g ON c.lang = g.lang
    CROSS JOIN tot t
    GROUP BY c.source
    """,
)
def corpus_lang_drift_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distribution-drift monitor: KL divergence of each source's
    language mix from the corpus-wide mix — the per-shard drift check a
    training-data pipeline runs before blending sources.  One (source,
    lang) count feeds every distribution; the source/global/total
    marginals all broadcast (bounded by |sources| x |langs|), and the
    ratio-first float parenthesization is identical on both engines.
    Zero-count (source, lang) cells contribute nothing by construction
    — KL terms exist only where the source has mass."""
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("source", "lang").agg(F.count("*").alias("n"))
    src = c.groupBy("source").agg(F.sum("n").cast("bigint").alias("n_src"))
    glob = c.groupBy("lang").agg(F.sum("n").cast("bigint").alias("n_lang"))
    tot = c.agg(F.sum("n").cast("bigint").alias("n_tot"))
    p = F.col("n").cast("double") / F.col("n_src")
    q = F.col("n_lang").cast("double") / F.col("n_tot")
    return (
        c.join(F.broadcast(src), "source")
        .join(F.broadcast(glob), "lang")
        .crossJoin(F.broadcast(tot))
        .groupBy("source")
        .agg(F.round(F.sum(p * F.log(p / q)), 6).alias("kl"))
    )


# ---------------------------------------------------------------------------
# Unigram LM scoring (CCNet-style quality signal)
# ---------------------------------------------------------------------------

_LP_SCALE = 1_000_000_000  # fixed-point 1e9 for log-probs


@query(
    "corpus_unigram_logprob",
    oracle=rf"""
    WITH toks AS (SELECT doc_id, {tokens_sql()} AS t
                  FROM documents),
    tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
    tok2 AS (SELECT doc_id, token FROM tok WHERE token != ''),
    uc AS (SELECT token, CAST(count(*) AS BIGINT) AS c FROM tok2 GROUP BY token),
    nu AS (SELECT CAST(sum(c) AS BIGINT) AS n_uni FROM uc),
    lp AS (SELECT token,
                  CAST(floor(ln(CAST(c AS DOUBLE) / n_uni) * {_LP_SCALE}) AS BIGINT)
                      AS lp_q
           FROM uc CROSS JOIN nu)
    SELECT t.doc_id,
           CAST(count(*) AS BIGINT) AS n_tokens,
           CAST(sum(l.lp_q) AS BIGINT) AS sum_lp_q,
           {mean_quantized_signed_sql(
               "sum(l.lp_q)", f"count(*) * CAST({_LP_SCALE} AS BIGINT)"
           )} AS avg_logprob
    FROM tok2 t JOIN lp l ON t.token = l.token
    GROUP BY t.doc_id
    """,
)
def corpus_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram LM scoring: each document's mean log-probability under
    the corpus's own unigram distribution — the CCNet-style LM quality
    signal (low scores ≈ gibberish / off-distribution text).

    Per-token log-probs are quantized to 1e-9 fixed-point BIGINTs, so
    the per-doc sums are exact integer adds — fold-order-proof under
    any distributed aggregation order (the same determinism pattern as
    fixed-point PageRank).  The unigram model is a broadcast dim
    (vocab-sized); one (doc) aggregation shuffle does the scoring."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("doc_id", F.explode(tokens("text")).alias("token")).where(
        F.col("token") != ""
    )
    uc = tok.groupBy("token").agg(F.count("*").alias("c"))
    nu = uc.agg(F.sum("c").cast("bigint").alias("n_uni"))
    lp = uc.crossJoin(F.broadcast(nu)).select(
        "token",
        F.floor(
            F.log(F.col("c").cast("double") / F.col("n_uni")) * _LP_SCALE
        ).cast("bigint").alias("lp_q"),
    )
    return (
        tok.join(F.broadcast(lp), "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.sum("lp_q").cast("bigint").alias("sum_lp_q"),
            mean_quantized_signed(
                F.sum("lp_q"), F.count("*") * F.lit(_LP_SCALE)
            ).alias("avg_logprob"),
        )
    )


@query(
    "corpus_dup_rate_by_source",
    oracle=f"""
    WITH n AS (SELECT doc_id, source,
                      md5({normalize_redact_sql()}) AS fp
               FROM documents),
    canon AS (SELECT fp, min(doc_id) AS keeper FROM n GROUP BY fp)
    SELECT n.source,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE n.doc_id != c.keeper) AS BIGINT) AS n_dups,
           round(count(*) FILTER (WHERE n.doc_id != c.keeper)
                 / CAST(count(*) AS DOUBLE), 6) AS dup_rate
    FROM n JOIN canon c ON n.fp = c.fp
    GROUP BY n.source
    """,
)
def corpus_dup_rate_by_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplication report per source: exact-dup rate after
    normalization — the data-card number that decides which sources
    need the (expensive) near-dup pass.  One fingerprint aggregation
    plus a co-partitioned join back; the rate divides exactly-counted
    BIGINTs."""
    d = _t(spark, sf_dir, "documents")
    norm = normalize_redact("text")
    n = d.select("doc_id", "source", F.md5(norm).alias("fp"))
    canon = n.groupBy("fp").agg(F.min("doc_id").alias("keeper"))
    j = n.join(canon, "fp")
    is_dup = F.col("doc_id") != F.col("keeper")
    return j.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.count_if(is_dup).alias("n_dups"),
        mean_quantized(F.count_if(is_dup), F.count("*")).alias("dup_rate"),
    )


@query(
    "text_readability_scores",
    oracle=f"""
    WITH m AS (SELECT doc_id,
                      CAST(len(list_filter({tokens_sql()},
                                           x -> x != '')) AS BIGINT) AS words,
                      CAST(greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS BIGINT)
                          AS sentences,
                      CAST(len(regexp_extract_all(lower(text), '[aeiouy]+')) AS BIGINT)
                          AS syllables
               FROM documents)
    SELECT doc_id, words, sentences, syllables,
           round(206.835 - 1.015 * (CAST(words AS DOUBLE) / sentences)
                         - 84.6 * (CAST(syllables AS DOUBLE) / words), 6)
               AS flesch
    FROM m WHERE words > 0
    """,
)
def text_readability_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Readability scoring (Flesch reading-ease with the standard
    vowel-group syllable heuristic): counts are JVM regexp expressions
    in one narrow projection — no shuffle, streams at any scale — and
    the score arithmetic uses the identical parenthesization on both
    engines.  The quality-pipeline complement to corpus_quality_gate's
    structural rules."""
    d = _t(spark, sf_dir, "documents")

    words = F.size(F.filter(tokens("text"), lambda x: x != "")).cast("bigint")
    sentences = F.greatest(
        F.regexp_count(F.col("text"), F.lit(r"[.!?]+")), F.lit(1)
    ).cast("bigint")
    syllables = F.regexp_count(F.lower(F.col("text")), F.lit("[aeiouy]+")).cast(
        "bigint"
    )
    m = d.select(
        "doc_id",
        words.alias("words"),
        sentences.alias("sentences"),
        syllables.alias("syllables"),
    ).where(F.col("words") > 0)
    return m.select(
        "doc_id",
        "words",
        "sentences",
        "syllables",
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (F.col("words").cast("double") / F.col("sentences"))
            - F.lit(84.6) * (F.col("syllables").cast("double") / F.col("words")),
            6,
        ).alias("flesch"),
    )


@query(
    "corpus_token_entropy",
    oracle=rf"""
    WITH toks AS (SELECT doc_id, {tokens_sql()} AS t
                  FROM documents),
    tok AS (SELECT doc_id, unnest(t) AS token FROM toks),
    c AS (SELECT doc_id, token, CAST(count(*) AS BIGINT) AS n
          FROM tok WHERE token != '' GROUP BY doc_id, token),
    s AS (SELECT doc_id,
                 CAST(sum(n) AS BIGINT) AS m,
                 CAST(sum(CAST(floor(n * ln(CAST(n AS DOUBLE)) * {1_000_000_000}) AS BIGINT))
                   AS BIGINT) AS nlogn_q
          FROM c GROUP BY doc_id)
    SELECT doc_id, m AS n_tokens,
           round(ln(CAST(m AS DOUBLE))
                 - (CAST(nlogn_q AS DOUBLE) / {1_000_000_000}) / m, 6) AS entropy
    FROM s
    """,
)
def corpus_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token Shannon entropy, H = ln(m) − (Σ nᵢ ln nᵢ)/m —
    the repetitiveness signal (low entropy ≈ templated/looping text)
    complementing the repetition-ratio rule.  Each count's nᵢ·ln nᵢ
    term is quantized to 1e-9 fixed point BEFORE the per-doc sum, so
    the distributed aggregation is exact integer adds under any fold
    order (the unigram-logprob convention); one (doc, token) shuffle
    and one doc rollup."""
    d = _t(spark, sf_dir, "documents")
    c = (
        d.select("doc_id", F.explode(tokens("text")).alias("token"))
        .where(F.col("token") != "")
        .groupBy("doc_id", "token")
        .agg(F.count("*").alias("n"))
    )
    nlogn_q = F.floor(
        F.col("n") * F.log(F.col("n").cast("double")) * F.lit(1_000_000_000)
    ).cast("bigint")
    s = c.groupBy("doc_id").agg(
        F.sum("n").cast("bigint").alias("m"),
        F.sum(nlogn_q).cast("bigint").alias("nlogn_q"),
    )
    return s.select(
        "doc_id",
        F.col("m").alias("n_tokens"),
        F.round(
            F.log(F.col("m").cast("double"))
            - (F.col("nlogn_q").cast("double") / F.lit(1_000_000_000)) / F.col("m"),
            6,
        ).alias("entropy"),
    )


@query(
    "corpus_split_leakage_audit",
    oracle=rf"""
    WITH s AS (SELECT doc_id, md5({normalize_redact_sql()}) AS fp, {_split_sql()} AS split
               FROM documents),
    train_fp AS (SELECT DISTINCT fp FROM s WHERE split = 'train')
    SELECT s.split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(count(*) FILTER (WHERE t.fp IS NOT NULL) AS BIGINT) AS n_leaked,
           {mean_quantized_sql(
               "count(*) FILTER (WHERE t.fp IS NOT NULL)", "count(*)")}
               AS leak_rate
    FROM s LEFT JOIN train_fp t ON s.fp = t.fp
    WHERE s.split != 'train'
    GROUP BY s.split
    """,
)
def corpus_split_leakage_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-split leakage audit: val/test documents whose normalized
    fingerprint also appears in train — the eval-integrity check every
    training pipeline must run AFTER splitting (key-stable splits
    prevent doc migration, not near-identical twins landing on both
    sides).  A semi-join shape: the distinct train-fingerprint set
    joins (broadcast when it fits, shuffled otherwise) against the
    held-out rows; counts divide exactly."""
    d = _t(spark, sf_dir, "documents")
    norm = normalize_redact("text")
    split = _split()
    s = d.select(F.md5(norm).alias("fp"), split.alias("split"))
    train_fp = (
        s.where(F.col("split") == "train")
        .select(F.col("fp").alias("t_fp"))
        .distinct()
    )
    held = s.where(F.col("split") != "train")
    j = held.join(train_fp, held.fp == train_fp.t_fp, "left")
    return j.groupBy("split").agg(
        F.count("*").alias("n_docs"),
        F.count_if(F.col("t_fp").isNotNull()).alias("n_leaked"),
        # exact quantized count ratio (docs/OPERATIONS.md contract)
        mean_quantized(
            F.count_if(F.col("t_fp").isNotNull()), F.count("*")
        ).alias("leak_rate"),
    )


# ---------------------------------------------------------------------------
# Round-3 batch: sentence stats, bigram LM, cross-source overlap,
# stratified sampling
# ---------------------------------------------------------------------------


@query(
    "text_sentence_stats",
    oracle=rf"""
    WITH seg AS (SELECT doc_id,
                        list_filter(
                          list_transform(
                            regexp_split_to_array(text, '[.!?]+\s+'),
                            s -> length(trim(s))),
                          x -> x > 0) AS lens
                 FROM documents)
    SELECT doc_id,
           CAST(len(lens) AS BIGINT) AS n_sentences,
           {mean_quantized_sql("list_aggregate(lens, 'sum')", "len(lens)")}
               AS avg_sentence_chars,
           CAST(list_aggregate(lens, 'max') AS BIGINT) AS max_sentence_chars
    FROM seg WHERE len(lens) > 0
    """,
)
def text_sentence_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation stats per document — the text-analysis
    probe behind readability/quality gates (documents whose mean
    sentence length is degenerate are boilerplate or OCR noise).

    Pure array HOFs inside whole-stage codegen: split on the sentence
    boundary regex, per-segment trimmed lengths via ``transform``, and
    the count/sum/max all reduce over the array IN INDEX ORDER — no
    explode, no shuffle, no Python.  Each row's work is O(doc length);
    at 100 TB this is a map-only pass."""
    d = _t(spark, sf_dir, "documents")
    lens = F.filter(
        F.transform(
            F.split(F.col("text"), r"[.!?]+" + WS_CLASS + "+"),
            lambda s: F.length(F.trim(s)),
        ),
        lambda x: x > 0,
    )
    return (
        d.select("doc_id", lens.alias("lens"))
        .where(F.size("lens") > 0)
        .select(
            "doc_id",
            F.size("lens").cast("bigint").alias("n_sentences"),
            # per-row exact integer mean (docs/OPERATIONS.md contract)
            mean_quantized(
                F.aggregate(
                    "lens", F.lit(0).cast("bigint"), lambda a, x: a + x
                ),
                F.size("lens"),
            ).alias("avg_sentence_chars"),
            F.array_max("lens").cast("bigint").alias("max_sentence_chars"),
        )
    )


_BG_SCALE = 1_000_000_000  # fixed-point 1e9 for bigram log-probs


@query(
    "corpus_bigram_logprob",
    oracle=rf"""
    WITH toks AS (SELECT doc_id, {tokens_sql()} AS t
                  FROM documents),
    bg AS (SELECT doc_id,
                  [t[x] || ' ' || t[x + 1] for x in generate_series(1, len(t) - 1)]
                      AS bigrams
           FROM toks),
    pair AS (SELECT doc_id, unnest(bigrams) AS bigram FROM bg),
    uni AS (SELECT token, CAST(count(*) AS BIGINT) AS cu
            FROM (SELECT unnest(t) AS token FROM toks) WHERE token != ''
            GROUP BY token),
    v AS (SELECT CAST(count(*) AS BIGINT) AS vocab FROM uni),
    bc AS (SELECT bigram, CAST(count(*) AS BIGINT) AS cb FROM pair GROUP BY bigram),
    lp AS (SELECT b.bigram,
                  CAST(floor(ln((b.cb + 1.0) / (u.cu + v.vocab)) * {_BG_SCALE})
                       AS BIGINT) AS lp_q
           FROM bc b
           JOIN uni u ON split_part(b.bigram, ' ', 1) = u.token
           CROSS JOIN v)
    SELECT p.doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(sum(l.lp_q) AS BIGINT) AS sum_lp_q,
           {mean_quantized_signed_sql(
               "sum(l.lp_q)", f"count(*) * CAST({_BG_SCALE} AS BIGINT)"
           )} AS avg_logprob
    FROM pair p JOIN lp l ON p.bigram = l.bigram
    GROUP BY p.doc_id
    """,
)
def corpus_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram language-model scoring with add-one smoothing: each
    document's mean log P(w2 | w1) under the corpus's own bigram
    counts — the step up from [[corpus_unigram_logprob]]'s CCNet-style
    quality signal (bigram perplexity separates shuffled-word salad
    from fluent text, which unigram scores cannot).

    Determinism: per-bigram log-probs quantized to 1e-9 fixed-point
    BIGINTs, so per-doc sums are exact integer adds under any fold
    order.  Plan shape: one token explode feeds BOTH count tables
    (bigram and unigram conditioning counts); the scoring join keys on
    the bigram string.  The model tables are corpus-vocabulary-sized —
    at 100 TB they no longer broadcast, and the scoring join becomes a
    shuffle hash join on the bigram key, which AQE picks on its own
    (nothing in the plan pins a broadcast)."""
    d = _t(spark, sf_dir, "documents")
    t = tokens("text")
    toks = d.select("doc_id", t.alias("t"))
    bigrams = F.zip_with(
        F.slice("t", 1, F.greatest(F.size("t") - 1, F.lit(0))),
        F.slice("t", 2, F.greatest(F.size("t") - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    pair = toks.select("doc_id", F.explode(bigrams).alias("bigram"))
    uni = (
        toks.select(F.explode("t").alias("token"))
        .where(F.col("token") != "")
        .groupBy("token")
        .agg(F.count("*").cast("bigint").alias("cu"))
    )
    v = uni.agg(F.count("*").cast("bigint").alias("vocab"))
    bc = pair.groupBy("bigram").agg(F.count("*").cast("bigint").alias("cb"))
    lp = (
        bc.join(uni, F.split_part(bc.bigram, F.lit(" "), F.lit(1)) == uni.token)
        .crossJoin(F.broadcast(v))
        .select(
            "bigram",
            F.floor(
                F.log((F.col("cb") + 1.0) / (F.col("cu") + F.col("vocab")))
                * _BG_SCALE
            ).cast("bigint").alias("lp_q"),
        )
    )
    return (
        pair.join(lp, "bigram")
        .groupBy("doc_id")
        .agg(
            F.count("*").cast("bigint").alias("n_bigrams"),
            F.sum("lp_q").cast("bigint").alias("sum_lp_q"),
            mean_quantized_signed(
                F.sum("lp_q"), F.count("*") * F.lit(_BG_SCALE)
            ).alias("avg_logprob"),
        )
    )


@query(
    "corpus_cross_source_overlap",
    oracle=f"""
    WITH toks AS (SELECT doc_id, source,
                         {tokens_sql()} AS t
                  FROM documents),
    sh AS (SELECT DISTINCT source,
                  md5(t[x] || ' ' || t[x+1] || ' ' || t[x+2] || ' ' ||
                      t[x+3] || ' ' || t[x+4]) AS dg
           FROM toks, (SELECT unnest(generate_series(1, 100000)) AS x) g
           WHERE x <= len(t) - 4)
    SELECT a.source AS source_a, b.source AS source_b,
           CAST(count(*) AS BIGINT) AS n_shared_shingles
    FROM sh a JOIN sh b ON a.dg = b.dg AND a.source < b.source
    GROUP BY a.source, b.source
    """,
)
def corpus_cross_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-source contamination matrix: for every source pair, how
    many distinct 5-gram shingles they share — the governance number
    that decides which source pairs need a near-dup pass before being
    mixed into one training blend (cf. [[corpus_contamination]], which
    checks documents against a benchmark; this checks sources against
    each other).

    Shingles are md5-digested BEFORE the shuffle, so the wide exchange
    carries 32-char digests, never text.  One ``groupBy(dg)`` with a
    map-side-partial ``collect_set(source)`` replaces the naive
    distinct + digest self-join (measured round 7: the join form ran
    4 exchanges and evaluated the tokenize/shingle subtree twice with
    no exchange reuse; this form runs 2 — the dg shuffle plus the
    190-row rollup — and scans once; 0.89x wall at sf0.1).  The
    per-digest set is bounded by the number of sources (20 here), so
    the in-memory pair expansion is <=190 structs per digest — no
    quadratic bucket risk, and the final aggregate is partial-agg'd
    down to source-pair cardinality before its exchange.
    At 100 TB: one wide shuffle on digest; everything after it is
    bounded per key."""
    # round-12: the sf-scale corpus arrives as one file → one scan
    # partition, serializing the tokenize+md5 expansion on a single
    # core; spread first (conditional — a corpus with thousands of
    # splits passes through untouched)
    d = ensure_min_partitions(_t(spark, sf_dir, "documents"), by="doc_id")
    t = tokens("text")
    toks = d.select("source", t.alias("t"))
    # sequence(1, 0) is DESCENDING [1, 0] in Spark, not empty — unguarded
    # it fabricated two windows per short document, with element_at(t, 0)
    # nulls md5-hashing into spurious "shared" shingles (hostile-fixture
    # find; same guard as word_shingles)
    n_win = F.size("t") - 4
    idx = F.when(n_win >= 1, F.sequence(F.lit(1), n_win)).otherwise(
        F.array().cast("array<int>")
    )
    # round-12: unhex the digest before the exchange — the md5 hex
    # string is only ever a grouping key, so the wide shuffle carries
    # 16 raw bytes instead of 32 hex chars (guide: shuffle fewer bytes
    # / narrower types; equality semantics identical, never surfaced)
    shingle = F.transform(
        idx,
        lambda x: F.unhex(
            F.md5(
                F.concat_ws(
                    " ",
                    F.element_at("t", x),
                    F.element_at("t", x + 1),
                    F.element_at("t", x + 2),
                    F.element_at("t", x + 3),
                    F.element_at("t", x + 4),
                )
            )
        ),
    )
    grouped = (
        toks.select("source", F.explode(shingle).alias("dg"))
        .groupBy("dg")
        .agg(F.array_sort(F.collect_set("source")).alias("ss"))
        .where(F.size("ss") >= 2)
    )
    pairs = F.flatten(
        F.transform(
            F.col("ss"),
            lambda a, i: F.transform(
                F.slice(F.col("ss"), i + 2, F.size("ss")),
                lambda b: F.struct(a.alias("source_a"), b.alias("source_b")),
            ),
        )
    )
    return (
        grouped.select(F.explode(pairs).alias("p"))
        .groupBy(
            F.col("p.source_a").alias("source_a"),
            F.col("p.source_b").alias("source_b"),
        )
        .agg(F.count("*").cast("bigint").alias("n_shared_shingles"))
    )


@query(
    "corpus_stratified_sample",
    oracle="""
    WITH r AS (SELECT doc_id, lang,
                      row_number() OVER (
                        PARTITION BY lang
                        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                      ) AS rk
               FROM documents)
    SELECT lang, doc_id, CAST(rk AS BIGINT) AS sample_rank
    FROM r WHERE rk <= 20
    """,
)
def corpus_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified sampling: a deterministic fixed-size sample per
    language stratum (the eval-set carve-out every training pipeline
    runs; ``df.sampleBy`` is only approximate and seed-dependent across
    partitionings, so the contract uses md5-ordered row_number — same
    rows on any cluster, any partition count).

    One shuffle on the stratum key; per-stratum state is a top-20
    heap.  At 100 TB, strata are language-sized (skewed: en >> rest) —
    the window's sort is bounded per partition and Spark's
    WindowGroupLimit pushes the rk <= 20 limit into the sort, so the
    big stratum never materializes a full ordering."""
    d = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        d.select("lang", "doc_id", F.row_number().over(w).alias("rk"))
        .where(F.col("rk") <= 20)
        .select("lang", "doc_id", F.col("rk").cast("bigint").alias("sample_rank"))
    )


@query(
    "corpus_shard_assign",
    oracle="""
    WITH r AS (SELECT doc_id, source, n_chars,
                      sum(n_chars) OVER (
                        PARTITION BY source
                        ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                        ROWS UNBOUNDED PRECEDING
                      ) AS cum
               FROM documents),
    s AS (SELECT source,
                 CAST(floor((cum - n_chars) / 2048.0) AS BIGINT) AS shard_id,
                 n_chars
          FROM r)
    SELECT source, shard_id,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_chars) AS BIGINT) AS total_chars
    FROM s GROUP BY source, shard_id
    """,
)
def corpus_shard_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard packing: assign each document to a ~2 KiB output
    shard within its source, by running-size cutoff over a
    deterministic md5 shuffle order — the step that turns a deduped
    corpus into evenly-sized webdataset/tfrecord shards.  A doc starts
    a new shard when the PRECEDING docs already fill the target (the
    ``cum - n_chars`` guard), so shard 0 is never empty and every doc
    lands in exactly one shard.

    One shuffle on source; the running sum is a bounded-state window.
    Shard sizes stay within one doc of target regardless of
    partitioning because the cumsum is an exact BIGINT over a total
    order.  At 100 TB the source partition is the parallel unit (one
    writer task per source × shard), matching how shard files are
    laid out on disk."""
    d = _t(spark, sf_dir, "documents")
    w = (
        Window.partitionBy("source")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    r = d.select(
        "source",
        "n_chars",
        F.sum("n_chars").over(w).alias("cum"),
    )
    shard = F.floor((F.col("cum") - F.col("n_chars")) / 2048.0).cast("bigint")
    return r.select("source", shard.alias("shard_id"), "n_chars").groupBy(
        "source", "shard_id"
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


@query(
    "corpus_importance_resampling",
    oracle=f"""
    WITH c AS (SELECT lang, CAST(count(*) AS BIGINT) AS n_lang
               FROM documents GROUP BY lang),
    t AS (SELECT CAST(sum(n_lang) AS BIGINT) AS n_tot,
                 CAST(count(*) AS BIGINT) AS n_langs
          FROM c),
    r AS (SELECT c.lang, c.n_lang,
                 least(1.0, (CAST(t.n_tot AS DOUBLE) / t.n_langs) / c.n_lang)
                     AS accept_p,
                 least(1.0, {mean_quantized_sql(
                     "t.n_tot", "t.n_langs * c.n_lang")}) AS accept_p_pub
          FROM c CROSS JOIN t),
    acc AS (SELECT d.lang, r.n_lang, r.accept_p, r.accept_p_pub,
                   CASE WHEN ({hash59_sql("CAST(d.doc_id AS VARCHAR)")} % 1000000)
                        < CAST(floor(r.accept_p * 1000000) AS BIGINT)
                        THEN 1 ELSE 0 END AS kept
            FROM documents d JOIN r ON d.lang = r.lang)
    SELECT lang,
           any_value(n_lang) AS n_orig,
           CAST(sum(kept) AS BIGINT) AS n_resampled,
           any_value(accept_p_pub) AS accept_p
    FROM acc GROUP BY lang
    """,
)
def corpus_importance_resampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixture rebalancing by importance resampling: down-sample
    over-represented languages toward a UNIFORM target mix with
    per-doc deterministic md5-slot acceptance — the DoReMi-style
    reweighting step run before tokenizing a multilingual blend
    (cf. [[corpus_mixture_sample]], which samples by source weight;
    this drives the mix toward a target distribution).

    Acceptance probability is a per-lang broadcast scalar
    (target_share / actual_share, clamped at 1), and the accept test is
    a pure per-row expression on the key hash — no shuffle beyond the
    lang-count aggregate and the final rollup, key-stable under corpus
    growth, reproducible on any cluster."""
    d = _t(spark, sf_dir, "documents")
    c = d.groupBy("lang").agg(F.count("*").cast("bigint").alias("n_lang"))
    t = c.agg(
        F.sum("n_lang").cast("bigint").alias("n_tot"),
        F.count("*").cast("bigint").alias("n_langs"),
    )
    # accept_p drives the md5-slot accept test and stays the raw IEEE
    # ratio (identical op sequence in both engines); the PUBLISHED
    # probability goes through the exact quantized lane instead of
    # round(double, 6) — docs/OPERATIONS.md quantization contract
    r = c.crossJoin(F.broadcast(t)).select(
        "lang",
        "n_lang",
        F.least(
            F.lit(1.0),
            (F.col("n_tot").cast("double") / F.col("n_langs")) / F.col("n_lang"),
        ).alias("accept_p"),
        F.least(
            F.lit(1.0),
            mean_quantized("n_tot", F.col("n_langs") * F.col("n_lang")),
        ).alias("accept_p_pub"),
    )
    slot = hash59(F.col("doc_id").cast("string")) % 1_000_000
    kept = F.when(
        slot < F.floor(F.col("accept_p") * 1_000_000).cast("bigint"), 1
    ).otherwise(0)
    acc = d.join(F.broadcast(r), "lang").select(
        "lang", "n_lang", "accept_p_pub", kept.alias("kept")
    )
    return acc.groupBy("lang").agg(
        F.any_value("n_lang").alias("n_orig"),
        F.sum("kept").cast("bigint").alias("n_resampled"),
        F.any_value("accept_p_pub").alias("accept_p"),
    )


@query(
    "corpus_tokenizer_fertility",
    oracle=rf"""
    WITH t AS (SELECT lang,
                      len({tokens_sql()})
                          AS n_words,
                      len(regexp_extract_all(lower(text),
                          '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS n_bpe
               FROM documents)
    SELECT lang,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_words) AS BIGINT) AS total_words,
           CAST(sum(n_bpe) AS BIGINT) AS total_bpe_tokens,
           {mean_quantized_sql("sum(n_bpe)", "sum(n_words)")} AS fertility
    FROM t GROUP BY lang
    """,
)
def corpus_tokenizer_fertility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer fertility per language: BPE-ish subword tokens per
    whitespace word — the number that decides whether a tokenizer is
    fair to a language before training on it (fertility ≫ peers means
    that language pays more sequence length per word; the standard
    multilingual-tokenizer audit).

    Both counts are JVM regex expressions in one narrow projection; the
    per-lang rollup divides exact BIGINT sums, so the ratio is
    fold-order-proof.  Shuffle: one combinable aggregate on lang."""
    d = _t(spark, sf_dir, "documents")
    t = d.select(
        "lang",
        token_count("text").alias("n_words"),
        bpe_token_count("text").alias("n_bpe"),
    )
    return t.groupBy("lang").agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_words").cast("bigint").alias("total_words"),
        F.sum("n_bpe").cast("bigint").alias("total_bpe_tokens"),
        mean_quantized(F.sum("n_bpe"), F.sum("n_words")).alias("fertility"),
    )


@query(
    "corpus_heldout_bigram_coverage",
    oracle=rf"""
    WITH toks AS (SELECT doc_id,
                         {hash59_sql("CAST(doc_id AS VARCHAR)")} % 100
                             AS slot,
                         {tokens_sql()} AS t
                  FROM documents),
    bg AS (SELECT doc_id, slot,
                  [t[x] || ' ' || t[x + 1] for x in generate_series(1, len(t) - 1)]
                      AS bigrams
           FROM toks),
    pair AS (SELECT doc_id, slot, unnest(bigrams) AS bigram FROM bg),
    train AS (SELECT DISTINCT bigram FROM pair WHERE slot < 80),
    held AS (SELECT p.doc_id, p.bigram,
                    (t.bigram IS NOT NULL) AS covered
             FROM pair p LEFT JOIN train t ON p.bigram = t.bigram
             WHERE p.slot >= 80)
    SELECT doc_id,
           CAST(count(*) AS BIGINT) AS n_bigrams,
           CAST(count(*) FILTER (WHERE covered) AS BIGINT) AS n_covered,
           {mean_quantized_sql(
               "count(*) FILTER (WHERE covered)", "count(*)"
           )} AS coverage
    FROM held GROUP BY doc_id
    """,
)
def corpus_heldout_bigram_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Held-out bigram coverage: for every val/test document (the
    md5-slot 20%), the fraction of its bigrams that occur anywhere in
    the train split — the OOV/coverage statistic that predicts LM eval
    difficulty and catches tokenizer/domain mismatch before a training
    run (low coverage = the eval set is out-of-distribution, not
    'hard').

    One bigram derivation feeds both sides (Catalyst reuses the
    subtree); the train side collapses to a DISTINCT bigram set and
    the held-out scoring is a left join on the bigram key — at 100 TB
    both shuffles key on bigram strings, and the per-doc rollup is
    combinable.  The split rule is the same key-stable md5 slot as
    [[corpus_split_assign]], so coverage is reproducible under corpus
    growth."""
    d = _t(spark, sf_dir, "documents")
    slot = hash59(F.col("doc_id").cast("string")) % 100
    t = tokens("text")
    bigrams = F.zip_with(
        F.slice("t", 1, F.greatest(F.size("t") - 1, F.lit(0))),
        F.slice("t", 2, F.greatest(F.size("t") - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    pair = d.select("doc_id", slot.alias("slot"), t.alias("t")).select(
        "doc_id", "slot", F.explode(bigrams).alias("bigram")
    )
    train = pair.where(F.col("slot") < 80).select("bigram").distinct()
    held = pair.where(F.col("slot") >= 80).join(
        train.select(F.col("bigram").alias("t_bigram")),
        F.col("bigram") == F.col("t_bigram"),
        "left",
    )
    covered = F.col("t_bigram").isNotNull()
    return held.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_bigrams"),
        F.count_if(covered).cast("bigint").alias("n_covered"),
        mean_quantized(F.count_if(covered), F.count("*")).alias(
            "coverage"
        ),
    )


_CONT_DROP_PCT = 15  # drop docs with >= 15% benchmark-shingle overlap


def _pipeline_e2e_oracle() -> str:
    """Gate → LSH-survivor dedup → decontamination → split → manifest,
    composed from the SAME oracle fragments as the standalone contracts
    (survivor SQL retargeted at the gated CTE via identifier rewrite;
    benchmark shingles still read the full corpus view)."""
    import re as _re

    surv = _re.sub(r"\bdocuments\b", "documents_gated", _survivors_oracle())
    stop_sql = mean_quantized_sql(
        f"len(list_filter({tokens_sql()}, x -> x IN ('the', 'a')))",
        f"len({tokens_sql()})",
    )
    avg_tok_sql = mean_quantized_sql("n_chars", f"len({tokens_sql()})")
    return f"""
    WITH documents_gated AS (
      SELECT doc_id, text, lang, source, n_chars FROM (
        SELECT d.*,
               {stop_sql} AS __stop_ratio,
               {avg_tok_sql} AS __avg_tok
        FROM documents d) t
      WHERE n_chars >= {_QG_MIN_CHARS} AND __stop_ratio >= {_QG_MIN_STOP_RATIO}
        AND __avg_tok <= {_QG_MAX_AVG_TOK_LEN} AND source <> 'src9'
    ),
    surv AS (SELECT doc_id FROM ({surv}) s),
    toks AS (SELECT doc_id, source, {tokens_sql()} AS t FROM documents),
    sh AS (SELECT DISTINCT doc_id, source, unnest({word_shingles_sql("t")}) AS shingle
           FROM toks WHERE len(t) >= 3),
    bench AS (SELECT DISTINCT shingle FROM sh WHERE source = 'src9'),
    cstat AS (SELECT t.doc_id,
                     CAST(count(*) AS BIGINT) AS n_sh,
                     CAST(count(*) FILTER (
                       WHERE t.shingle IN (SELECT shingle FROM bench)
                     ) AS BIGINT) AS n_cont
              FROM sh t JOIN surv USING (doc_id)
              GROUP BY t.doc_id),
    clean AS (SELECT doc_id FROM cstat
              WHERE n_cont * 100 < n_sh * {_CONT_DROP_PCT}),
    final AS (SELECT g.source,
                     CAST(len({tokens_sql("g.text")}) AS BIGINT) AS n_tokens,
                     {_split_sql("g.doc_id")} AS split
              FROM documents_gated g JOIN clean USING (doc_id))
    SELECT source, split,
           CAST(count(*) AS BIGINT) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS total_tokens
    FROM final GROUP BY 1, 2
    """


@query("corpus_pipeline_e2e", oracle=_pipeline_e2e_oracle())
def corpus_pipeline_e2e(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE full LLM training-data pipeline in one lazy composition —
    every stage the scale variant of its standalone contract:
    Gopher-style quality gate ([[corpus_quality_gate]]) → banded
    MinHash-LSH near-dup survivor selection on the gated set
    ([[corpus_dedup_survivors]], cap included) → benchmark
    decontamination dropping docs with ≥15% 3-gram overlap against the
    held-out source ([[corpus_contamination]]; integer-exact threshold
    comparison) → key-stable md5-slot split ([[corpus_split_assign]]) →
    per-(source, split) training manifest.  Its exact-dedup sibling is
    [[corpus_training_manifest]]; this one runs the near-dup scale
    path.

    Plan shape: the gate prunes before anything shuffles; the LSH
    stages shuffle digests and band keys, never text; the survivor
    window runs over EDGE MEMBERS only (duplicate_clusters) with
    untouched docs anti-joined straight through, so the corpus is never
    shuffled by cluster_id; contamination is a semi-join against the
    (broadcastable) benchmark shingle set; and the only eager step is
    the cluster map's bounded probe (or distributed convergence loop
    above the cap).  At 100 TB every stage's story is already audited
    under its standalone key — composition adds no new shuffle."""
    from .extensions.dedup import (
        LSH_MAX_BUCKET,
        digest_shingles,
        duplicate_clusters,
        minhash_lsh_dedup_pairs,
    )
    from .registry_ext import JACCARD_THRESHOLD
    from .spill import spill_once as _spill_once
    from .spill import spill_root as _spill_root

    d = _t(spark, sf_dir, "documents")
    toks = tokens("text")
    n_toks = F.size(toks)
    stop_arr = F.array(*[F.lit(s) for s in _QG_STOPWORDS])
    stop_ratio = mean_quantized(
        F.size(F.filter(toks, lambda x: F.array_contains(stop_arr, x))), n_toks
    )
    avg_tok_len = mean_quantized("n_chars", n_toks)
    gated = d.where(
        (F.col("n_chars") >= _QG_MIN_CHARS)
        & (stop_ratio >= _QG_MIN_STOP_RATIO)
        & (avg_tok_len <= _QG_MAX_AVG_TOK_LEN)
        & (F.col("source") != "src9")
    )
    # the gate+tokenize+shingle subtree has ~6 consumers (signatures,
    # verify, survivor window, singleton anti-join, train shingles,
    # final n_tokens): the gated digest multiset (own tag — it differs
    # from the full-corpus table) feeds the LSH stages AND the
    # contamination train side, and a tiny per-doc spill carries
    # (doc_id, source, n_tokens) for the gate-membership consumers
    gate_tbl = gated.select(
        "doc_id", "source", F.size(toks).cast("bigint").alias("n_tokens")
    )
    gate_path = _spill_root(spark, "e2e_gate", sf_dir)
    gate_fut = None
    if gate_path is not None:
        # round-13 (guide §2.6 "overlap independent jobs"): construction
        # previously ran digest-spill write → cluster probe → gate-spill
        # write serially.  The gate spill depends only on `gated`, so a
        # driver thread submits its write FIRST and the digest write +
        # probe jobs backfill alongside it; the result is joined before
        # any consumer needs the table.  spill_once is thread-safe (per-
        # path lock) and concurrent Spark jobs in one session are the
        # scheduler's normal shape; a failed write re-raises at
        # .result().  Iterations after the first skip both writes
        # (_SUCCESS), so this hides the gate write exactly where it is
        # paid — the session's first run.
        from concurrent.futures import ThreadPoolExecutor

        _pool = ThreadPoolExecutor(max_workers=1)
        gate_fut = _pool.submit(_spill_once, gate_tbl, spark, gate_path)
        _pool.shutdown(wait=False)
    sh = digest_shingles(gated, sf_dir, tag="lsh_digest_shingles_gated")
    edges = minhash_lsh_dedup_pairs(
        sh,
        threshold=JACCARD_THRESHOLD,
        max_bucket_size=LSH_MAX_BUCKET,
    ).select("doc_a", "doc_b")
    dup = duplicate_clusters(edges)  # edge members only
    if gate_fut is not None:
        gate_tbl = gate_fut.result()
    w = Window.partitionBy("cluster_id").orderBy(
        F.desc(F.length("text")), F.col("doc_id")
    )
    # dup members are all gated (edges only pair gated docs), so the
    # survivor window joins the RAW doc table — identical rows, no
    # second gate evaluation
    dup_surv = (
        d.select("doc_id", "text").join(dup, "doc_id")
        .withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select("doc_id")
    )
    surv = dup_surv.unionByName(
        gate_tbl.select("doc_id").join(dup.select("doc_id"), "doc_id", "left_anti")
    )

    bench = (
        d.where(F.col("source") == "src9")
        .select(tokens("text").alias("__toks"))
        .select(F.explode(word_shingles(F.col("__toks"), 3)).alias("shingle"))
        .where(F.col("shingle") != "")
        .select(hash59(F.col("shingle")).alias("b_sh"))
    )
    # survivors are gated, so the gated multiset covers every train doc;
    # the distinct collapses it to per-doc shingle-set semantics
    train_sh = sh.distinct().join(surv, "doc_id")
    hit = train_sh.join(
        _bench_shingles_maybe_broadcast(spark, d, bench.distinct()),
        train_sh.shingle == F.col("b_sh"),
        "left",
    )
    cstat = hit.groupBy("doc_id").agg(
        F.count("*").cast("bigint").alias("n_sh"),
        F.count_if(F.col("b_sh").isNotNull()).cast("bigint").alias("n_cont"),
    )
    clean = cstat.where(
        F.col("n_cont") * 100 < F.col("n_sh") * _CONT_DROP_PCT
    ).select("doc_id")
    split = _split()
    # clean ⊆ surv ⊆ gated: joining the spilled gate table re-reads
    # per-doc (source, n_tokens) instead of re-tokenizing the corpus
    final = gate_tbl.join(clean, "doc_id")
    return final.select("source", split.alias("split"), "n_tokens").groupBy(
        "source", "split"
    ).agg(
        F.count("*").cast("bigint").alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
    )


_JS_SCALE = 1_000_000_000_000  # 1e-12 fixed point for JS terms


@query(
    "corpus_js_divergence_sources",
    oracle=rf"""
    WITH tok AS (SELECT source, unnest({tokens_sql()})
                     AS token
                 FROM documents),
    tok2 AS (SELECT source, token FROM tok WHERE token != ''),
    cs AS (SELECT source, token, CAST(count(*) AS BIGINT) AS c
           FROM tok2 GROUP BY source, token),
    ns AS (SELECT source, CAST(sum(c) AS BIGINT) AS n_src FROM cs GROUP BY source),
    cg AS (SELECT token, CAST(sum(c) AS BIGINT) AS cq FROM cs GROUP BY token),
    ng AS (SELECT CAST(sum(cq) AS BIGINT) AS n_tot FROM cg),
    terms AS (SELECT cs.source,
                     CAST(floor((
                       0.5 * (cs.c / CAST(ns.n_src AS DOUBLE))
                           * ln((cs.c / CAST(ns.n_src AS DOUBLE))
                                / ((cs.c / CAST(ns.n_src AS DOUBLE)
                                    + cg.cq / CAST(ng.n_tot AS DOUBLE)) / 2))
                       + 0.5 * (cg.cq / CAST(ng.n_tot AS DOUBLE))
                           * ln((cg.cq / CAST(ng.n_tot AS DOUBLE))
                                / ((cs.c / CAST(ns.n_src AS DOUBLE)
                                    + cg.cq / CAST(ng.n_tot AS DOUBLE)) / 2))
                     ) * {_JS_SCALE}) AS BIGINT) AS t_q,
                     cg.cq
              FROM cs JOIN ns ON cs.source = ns.source
                      JOIN cg ON cs.token = cg.token
                      CROSS JOIN ng)
    SELECT t.source, ns.n_src AS n_tokens,
           round((CAST(sum(t.t_q) AS DOUBLE) / {_JS_SCALE}
                  + 0.5 * ln(2)
                    * (1 - CAST(sum(t.cq) AS DOUBLE) / any_value(ng.n_tot)))
                 , 6) AS js_divergence
    FROM terms t JOIN ns ON t.source = ns.source CROSS JOIN ng
    GROUP BY t.source, ns.n_src
    """,
)
def corpus_js_divergence_sources(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Jensen-Shannon divergence between each source's token
    distribution and the whole corpus — the bounded, symmetric content
    -drift score (0 = identical mix, ln2 = disjoint) that ranks sources
    by how far they pull the blend, at the TOKEN level where
    [[corpus_lang_drift_kl]] works at the language level.

    The vocabulary-absent terms are folded into a closed form
    (Σ over tokens a source lacks of ½·q·ln2 = ½·ln2·(1 − Σ_present
    q)), so the plan never builds a source × vocab grid — only the
    observed (source, token) rows join the two count dims.  Per-token
    terms quantize to 1e-12 fixed point before the per-source sum; the
    remainder derives from exact BIGINT count ratios."""
    d = _t(spark, sf_dir, "documents")
    tok = d.select("source", F.explode(tokens("text")).alias("token")).where(
        F.col("token") != ""
    )
    cs = tok.groupBy("source", "token").agg(F.count("*").cast("bigint").alias("c"))
    ns = cs.groupBy("source").agg(F.sum("c").cast("bigint").alias("n_src"))
    cg = cs.groupBy("token").agg(F.sum("c").cast("bigint").alias("cq"))
    ng = cg.agg(F.sum("cq").cast("bigint").alias("n_tot"))
    j = (
        cs.join(F.broadcast(ns), "source")
        .join(cg, "token")
        .crossJoin(F.broadcast(ng))
    )
    p = F.col("c") / F.col("n_src").cast("double")
    q = F.col("cq") / F.col("n_tot").cast("double")
    m = (p + q) / 2
    t_q = F.floor((0.5 * p * F.log(p / m) + 0.5 * q * F.log(q / m)) * _JS_SCALE).cast(
        "bigint"
    )
    terms = j.select("source", t_q.alias("t_q"), "cq", "n_tot")
    return (
        terms.join(F.broadcast(ns), "source")
        .groupBy("source", "n_src")
        .agg(
            F.round(
                F.sum("t_q").cast("double") / _JS_SCALE
                + 0.5
                * F.log(F.lit(2.0))
                * (1 - F.sum("cq").cast("double") / F.any_value("n_tot")),
                6,
            ).alias("js_divergence")
        )
        .select("source", F.col("n_src").alias("n_tokens"), "js_divergence")
    )


@query(
    "corpus_dedup_cluster_sizes",
    oracle=f"""
    WITH surv AS ({{SURV}})
    SELECT n_members,
           CAST(count(*) AS BIGINT) AS n_clusters,
           CAST(n_members * count(*) AS BIGINT) AS n_docs
    FROM surv GROUP BY n_members
    """.replace("{{SURV}}", "{SURV}").format(SURV=_survivors_oracle()),
)
def corpus_dedup_cluster_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate-cluster size distribution — the data-card histogram
    ('how much of the corpus is singletons vs 5+-copy boilerplate')
    read off the survivor table of [[corpus_dedup_survivors]]: one
    extra combinable aggregate over the already-audited pipeline, and
    the number that justifies (or retires) the near-dup pass per
    source refresh."""
    surv = corpus_dedup_survivors(spark, sf_dir)
    return surv.groupBy("n_members").agg(
        F.count("*").cast("bigint").alias("n_clusters"),
        (F.col("n_members") * F.count("*")).cast("bigint").alias("n_docs"),
    )


_ER_SCALE = 1_000_000_000  # 1e-9 fixed point for entropy-rate terms


@query(
    "corpus_entropy_rate",
    oracle=rf"""
    WITH toks AS (SELECT source, {tokens_sql()} AS t
                  FROM documents),
    bg AS (SELECT source,
                  unnest([t[x] || ' ' || t[x + 1]
                          for x in generate_series(1, len(t) - 1)]) AS bigram
           FROM toks),
    cb AS (SELECT source, bigram, CAST(count(*) AS BIGINT) AS c
           FROM bg GROUP BY source, bigram),
    cu AS (SELECT source, split_part(bigram, ' ', 1) AS w1,
                  CAST(sum(c) AS BIGINT) AS cw
           FROM cb GROUP BY source, split_part(bigram, ' ', 1)),
    nt AS (SELECT source, CAST(sum(c) AS BIGINT) AS n FROM cb GROUP BY source),
    terms AS (SELECT cb.source,
                     CAST(floor(-(cb.c / CAST(nt.n AS DOUBLE))
                                * ln(cb.c / CAST(cu.cw AS DOUBLE))
                                * {_ER_SCALE}) AS BIGINT) AS h_q
              FROM cb JOIN cu ON cb.source = cu.source
                             AND split_part(cb.bigram, ' ', 1) = cu.w1
                      JOIN nt ON cb.source = nt.source)
    SELECT t.source, nt.n AS n_bigrams,
           {mean_quantized_sql("sum(t.h_q)", str(_ER_SCALE))} AS entropy_rate
    FROM terms t JOIN nt ON t.source = nt.source
    GROUP BY t.source, nt.n
    """,
)
def corpus_entropy_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram conditional entropy rate H(w₂|w₁) per source — the
    information-theoretic compressibility/repetitiveness score (low
    rate = templated or boilerplate text even when unigram entropy
    looks healthy; the corpus-level counterpart of the per-doc
    [[corpus_token_entropy]] and the model-free sibling of
    [[corpus_bigram_logprob]]).

    H = −Σ p(w₁,w₂)·ln p(w₂|w₁) from exact BIGINT bigram and
    conditioning counts; each term quantizes to 1e-9 fixed point before
    the per-source sum.  One bigram aggregation feeds both count
    tables; the join keys on (source, w₁)."""
    d = _t(spark, sf_dir, "documents")
    t = tokens("text")
    bigrams = F.zip_with(
        F.slice(t, 1, F.greatest(F.size(t) - 1, F.lit(0))),
        F.slice(t, 2, F.greatest(F.size(t) - 1, F.lit(0))),
        lambda a, b: F.concat_ws(" ", a, b),
    )
    bg = d.select("source", F.explode(bigrams).alias("bigram"))
    cb = bg.groupBy("source", "bigram").agg(
        F.count("*").cast("bigint").alias("c")
    )
    w1 = F.split_part(F.col("bigram"), F.lit(" "), F.lit(1))
    cu = cb.groupBy("source", w1.alias("w1")).agg(
        F.sum("c").cast("bigint").alias("cw")
    )
    nt = cb.groupBy("source").agg(F.sum("c").cast("bigint").alias("n"))
    j = (
        cb.withColumn("w1", w1)
        .join(cu, ["source", "w1"])
        .join(F.broadcast(nt), "source")
    )
    h_q = F.floor(
        -(F.col("c") / F.col("n").cast("double"))
        * F.log(F.col("c") / F.col("cw").cast("double"))
        * _ER_SCALE
    ).cast("bigint")
    return (
        j.select("source", h_q.alias("h_q"), "n")
        .groupBy("source", "n")
        .agg(
            mean_quantized(F.sum("h_q"), F.lit(_ER_SCALE)).alias(
                "entropy_rate"
            )
        )
        .select("source", F.col("n").alias("n_bigrams"), "entropy_rate")
    )
