"""Text analysis for large-scale training-data pipelines.

Beyond the reference's surface (it has no text ops): tokenization,
n-gram shingling, quality scoring, heuristic language ID, and document
fingerprinting — all as native Column expressions (JVM-side, codegen),
no Python UDFs anywhere in the hot path.

Scale notes: every op here is embarrassingly parallel per document (no
shuffle at all until an aggregation consumes the result), so the 100 TB
cost is exactly one scan.  The shingle explode multiplies rows by
~tokens-per-doc; downstream consumers aggregate immediately (MinHash) so
the wide intermediate never materializes.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.hashes import hash59
from ..functions.numeric import mean_quantized

# Small English stopword marker list (public, standard function words).
STOPWORDS = ["the", "a", "an", "of", "to", "and", "in", "is", "on", "for"]

# Token whitespace is the EXPLICIT class [\t\n\f\r ] — never `\s`.
# Java regex (Spark's engine) defines \s as [ \t\n\x0B\f\r] while RE2
# (the DuckDB oracle's engine) defines it as [\t\n\f\r ]; a vertical
# tab in the input makes the two engines tokenize differently (found
# by the hostile-Unicode parity sweep, tools/hostile_fixture.py).
# Both engines read the class from here: each text rule below has one
# Spark function and its DuckDB twin (`*_sql`) beside it, and the
# twins splice the same pattern into the oracle SQL.
WS_CLASS = r"[\t\n\f\r ]"
TOKEN_SPLIT_RE = WS_CLASS + "+"


def tokens(text: Column | str) -> Column:
    """Whitespace tokenization of lower-cased, trimmed text."""
    c = F.col(text) if isinstance(text, str) else text
    return F.split(F.trim(F.lower(c)), TOKEN_SPLIT_RE)


def tokens_sql(expr: str = "text") -> str:
    """The DuckDB twin of :func:`tokens`: a token list."""
    return f"regexp_split_to_array(trim(lower({expr})), '{TOKEN_SPLIT_RE}')"


def normalize_redact(text: Column | str) -> Column:
    """Lower-cased, trimmed text with each whitespace run collapsed to
    one space and each digit run redacted to ``<num>``."""
    c = F.col(text) if isinstance(text, str) else text
    return F.regexp_replace(
        F.regexp_replace(F.trim(F.lower(c)), TOKEN_SPLIT_RE, " "), "[0-9]+", "<num>"
    )


def normalize_redact_sql(expr: str = "text") -> str:
    """The DuckDB twin of :func:`normalize_redact`."""
    return (
        f"regexp_replace(regexp_replace(trim(lower({expr})), '{TOKEN_SPLIT_RE}', ' ', 'g'), "
        "'[0-9]+', '<num>', 'g')"
    )


def word_shingles(toks: Column, n: int = 3) -> Column:
    """Word n-gram shingles as an array column (empty if < n tokens).

    Pure expression: transform over an index sequence — no explode until
    the consumer asks for one.
    """
    count = F.size(toks) - F.lit(n - 1)
    # guard: sequence(1, 0) would be DESCENDING [1,0] in Spark, not empty
    idx = F.when(count >= 1, F.sequence(F.lit(1), count)).otherwise(
        F.array().cast("array<int>")
    )
    parts = lambda i: [F.element_at(toks, i + j) for j in range(n)]  # noqa: E731
    return F.transform(idx, lambda i: F.concat_ws(" ", *parts(i)))


def word_shingles_sql(toks: str, n: int = 3) -> str:
    """The DuckDB twin of :func:`word_shingles` over the token list
    `toks`.  Each shingle joins its n tokens with ``||``, which DuckDB
    runs several times faster than ``array_to_string`` over a list
    slice: the slice builds one list per shingle."""
    words = " || ' ' || ".join(f"{toks}[i + {j}]" for j in range(n))
    return f"[{words} FOR i IN range(1, len({toks}) - {n - 2})]"


def ensure_min_partitions(
    df: DataFrame, min_parts: int | None = None, by: str | None = None
) -> DataFrame:
    """Spread a narrow input before CPU-heavy expansion.

    A small dimension-sized input often arrives as one file → one
    partition, serializing the expensive shingle/hash expansion on a
    single core.  Repartitioning a few thousand rows is ~free and buys
    full parallelism; inputs already wider than the target pass through
    untouched (so a 100 TB corpus with thousands of input splits never
    takes a gratuitous shuffle).

    ``by``: hash-partition on this key column instead of round-robin —
    skips the local sort every keyless ``repartition(n)`` pays for
    retry-determinism (spark.sql.execution.sortBeforeRepartition) and
    is deterministic under retries by construction (round-12
    interleaved A/B on corpus_cross_source_overlap: hash 1.33s median
    vs round-robin 1.49s vs unspread 1.50s at sf0.1).  Use a unique id
    so the hash spreads evenly.
    """
    spark = df.sparkSession
    min_parts = min_parts or spark.sparkContext.defaultParallelism
    if df.rdd.getNumPartitions() < min_parts:
        if by is not None:
            return df.repartition(min_parts, F.col(by))
        return df.repartition(min_parts)
    return df


def shingle_table(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    distinct: bool = True,
) -> DataFrame:
    """(id, shingle) pairs — the input to MinHash / Jaccard.

    Tokenization happens in its own projection: `word_shingles`
    references the token array many times, and materializing the alias
    keeps CollapseProject from re-inlining the regex split into every
    element access (measured ~4x on the shingle explode).

    ``distinct=True`` gives set semantics (one shuffle); pass False for
    consumers that are duplicate-insensitive (MinHash min) to stay
    shuffle-free.
    """
    # hash-key spread (round-12): skips the local sort every keyless
    # repartition pays for retry determinism; id_col is unique so the
    # hash spreads evenly.  No-op on inputs already wide.
    toked = ensure_min_partitions(docs, by=id_col).select(
        id_col, tokens(text_col).alias("__toks")
    )
    out = toked.select(
        id_col, F.explode(word_shingles(F.col("__toks"), n)).alias("shingle")
    ).where(F.col("shingle") != "")
    return out.distinct() if distinct else out


def token_count(text: Column | str) -> Column:
    return F.size(tokens(text))


# BPE-ish pre-tokenization: letter runs, digit runs, single punctuation —
# the classic byte-pair-encoding *pre*-split (the merge table itself is a
# model artifact; counting pre-tokens is the pipeline-side operation).
BPE_SPLIT_RE = r"[a-z]+|[0-9]+|[^a-z0-9\t\n\f\r ]"


def bpe_token_count(text: Column | str) -> Column:
    c = F.col(text) if isinstance(text, str) else text
    return F.size(F.regexp_extract_all(F.lower(c), F.lit(BPE_SPLIT_RE), F.lit(0)))


# Rolling-hash parameters (shared with the DuckDB oracle).
ROLL_BASE = 31
ROLL_MOD = 999_999_999_989  # < 2^40: acc*31 + h stays far below 2^63
ROLL_HASH_MASK = (1 << 40) - 1


def rolling_fingerprint(toks: Column) -> Column:
    """Order-sensitive polynomial rolling hash over the token stream:
    fold h = (h*B + hash(token)) mod M, seeded with the first token's
    hash (matching DuckDB's seedless list_reduce fold).  A pure
    expression fold — no window, no shuffle, no UDF.
    """
    hashed = F.transform(
        toks,
        lambda t: hash59(t) % F.lit(ROLL_HASH_MASK + 1),
    )
    rest = F.slice(hashed, 2, F.greatest(F.size(hashed) - 1, F.lit(0)))
    return F.aggregate(
        rest,
        F.element_at(hashed, 1),
        lambda acc, h: (acc * F.lit(ROLL_BASE) + h) % F.lit(ROLL_MOD),
    )


def quality_features(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Per-document quality features (length / uniqueness / stopword mix).

    All integer counts plus per-row double ratios (deterministic IEEE —
    no cross-row float accumulation), so the whole frame is
    oracle-hashable.
    """
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    t = F.col("__toks")
    out = docs.select(
        id_col, F.col(text_col), tokens(text_col).alias("__toks")
    ).select(
        id_col,
        F.size(t).alias("n_tokens"),
        F.size(F.array_distinct(t)).alias("n_uniq_tokens"),
        F.length(F.regexp_replace(F.col(text_col), WS_CLASS, "")).alias(
            "n_nonspace_chars"
        ),
        F.size(F.filter(t, lambda x: F.array_contains(stop, x))).alias("n_stopwords"),
    )
    return out.select(
        id_col,
        "n_tokens",
        "n_uniq_tokens",
        mean_quantized("n_uniq_tokens", "n_tokens").alias("ttr"),
        mean_quantized("n_nonspace_chars", "n_tokens").alias("avg_token_len"),
        mean_quantized("n_stopwords", "n_tokens").alias("stopword_ratio"),
        (
            (F.col("n_tokens") >= 5)
            & (F.col("n_tokens") <= 100_000)
            # integer cross-multiplication: n_uniq/n >= 0.1 compared
            # exactly, no float ratio at the gate boundary
            & (F.col("n_uniq_tokens") * 10 >= F.col("n_tokens"))
        ).alias("passes_quality"),
    )


def lang_id(docs: DataFrame, text_col: str = "text", id_col: str = "doc_id") -> DataFrame:
    """Heuristic language ID: English function-word density.

    An honest n-gram/stopword heuristic (the classic cheap LID signal):
    predicts 'en' when the marker-stopword share clears a threshold,
    'unknown' otherwise.  Real pipelines plug a fastText-style model in
    as a Pandas UDF at the same seam; the Spark plumbing is identical.
    """
    stop = F.array(*[F.lit(s) for s in STOPWORDS])
    t = F.col("__toks")
    n_stop = F.size(F.filter(t, lambda x: F.array_contains(stop, x)))
    n = F.size(t)
    return docs.select(id_col, tokens(text_col).alias("__toks")).select(
        id_col,
        # integer cross-multiplication: n_stop/n >= 0.02 == 50*n_stop >= n
        F.when(n_stop * 50 >= n, F.lit("en"))
        .otherwise(F.lit("unknown"))
        .alias("pred_lang"),
        mean_quantized(n_stop, n).alias("en_score"),
    )
