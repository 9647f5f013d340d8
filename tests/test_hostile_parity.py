"""Adversarial-Unicode parity battery.

The driver's synthetic text is tame ASCII-ish prose, so the oracle
gate never exercises the places two regex/Unicode engines can
disagree.  tools/hostile_fixture.py packs those places into a
schema-identical documents table; this battery runs the text-touching
keys' Spark plan AND DuckDB oracle side-by-side on it and requires the
same verdict the driver gate would.

Found (and fixed) by the sweep that introduced this battery:

- Java `\\s` includes \\x0B, RE2's doesn't → tokenizers pinned to the
  explicit class [\\t\\n\\f\\r ] on both engines (text.WS_CLASS; the
  oracles splice the same pattern through the text.py SQL twins)
- Java `\\b` is Unicode-aware, RE2's is ASCII → regex_extract_battery
  rewritten with explicit ASCII boundary classes
- a Spark SQL string literal unescapes backslashes → corpus_pii_scan's
  expr-embedded IPv4 \\. became a wildcard and phone/SSN digits
  false-matched (now Column-API F.lit patterns)
- sequence(1, 0) is DESCENDING in Spark → corpus_span_corruption and
  corpus_cross_source_overlap fabricated windows on short docs
- Spark bigint cast truncates 303.5 where DuckDB rounds half-even →
  corpus_vocab_growth_curve checkpoints now integer DIV on both sides
- ANSI DIVIDE_BY_ZERO in stat_ks_two_sample when one sample is empty →
  try_divide (NULL, matching DuckDB)
- multimodal_frame_sample's oracle assumed byte==char → digest is now
  md5 of the frame's hex, byte-exact for any payload

KNOWN CHECKER DIVERGENCE (exempt, not engine bugs): Spark/Java apply
Unicode FULL/contextual case mapping (Turkish İ → 'i̇', Greek final
sigma ς) while DuckDB lower() applies SIMPLE mapping ('i', 'σ') —
Spark is the Unicode-spec-correct one.  The fixture builder therefore
exposes CASE_TRAP_DOCS separately; this battery runs on the fixture
WITHOUT them, and the exempt list below names the keys that diverge
only when they are present (verified both ways at introduction:
88/88 without, exactly these 14 failing with).
"""

from __future__ import annotations

import pytest

from tools import hostile_fixture as hf
from tools.check_correctness import compare, duck_connect


# keys that diverge ONLY via the full-vs-simple case-mapping docs —
# single source of truth in tools/hostile_fixture.py, asserted exact
# (both directions, full registry) by tools/hostile_scan.py
def _case_mapping_exempt():
    return hf.CASE_MAPPING_EXEMPT

# the per-suite subset: every key the sweep caught a real bug in, plus
# the highest-churn tokenizer consumers (full 88-key audit:
# `python tools/hostile_fixture.py /tmp/h && python
# tools/check_correctness.py /tmp/h <keys>`)
RISK_KEYS = [
    "regex_extract_battery",
    "corpus_pii_scan",
    "corpus_span_corruption",
    "corpus_cross_source_overlap",
    "corpus_vocab_growth_curve",
    "stat_ks_two_sample",
    "multimodal_frame_sample",
    "udtf_term_positions",
    "text_token_count",
    "text_quality_score",
    "text_lang_id",
    "text_sentence_stats",
    "corpus_stats_rollup",
    "corpus_quality_gate",
    "corpus_normalize_redact",
    "dedup_exact",
    "dedup_ngram_jaccard",
    "dedup_minhash_signature",
    "corpus_seq_packing",
    "corpus_code_detection",
    # NULL text / NULL payload handling (fixture docs 2000-2002)
    "multimodal_byte_features",
    "corpus_chunk_overlap",
    "corpus_span_dup_rate",
    "stat_welch_ttest",
    # hostile embeddings: zero-norm / domain-edge vectors (try_divide
    # NULL-similarity contract; int64-headroom quantization domain)
    "similarity_topk",
    "similarity_ivf_topk",
    "similarity_range_search",
    "similarity_knn_join",
    "similarity_matryoshka_prefix_eval",
    "dedup_embedding_cosine_lsh",
    "vector_kmeans_lloyd",
    "vector_lang_centroid_outliers",
    "corpus_doc_embedding_hashed",
    # hostile events: pre-1970 floor-day indexes, NULL ts/user/type/
    # value/props, malformed JSON, session-gap boundary ties, /0 stats
    "events_kpi_daily",
    "events_dau_wau_mau",
    "events_markov_transitions",
    "window_session_agg",
    "sessionize_apply_in_pandas",
    "window_tumbling_agg",
    "window_rolling_median",
    "json_extract_battery",
    "cast_to_numeric",
    "timeseries_ohlc_downsample",
    "timeseries_holt_forecast",
    "timeseries_forecast_backtest",
    # the rest of the daily-cents family (derived.daily_cents)
    "timeseries_seasonal_decompose",
    "events_anomaly_seasonal",
    "stat_theil_sen",
    "timeseries_ewma_smoothing",
    "timeseries_autocorrelation",
    "agg_percentile_disc",
    "ml_roc_auc",
    "ml_decision_stump",
    "sketch_hll_mergeable_rollup",
    "stat_two_proportion_ztest",
    "events_anomaly_mad",
]


@pytest.fixture(scope="module")
def hostile_sf(tmp_path_factory):
    # drop the full-case-mapping docs (İ / final sigma): known checker
    # divergence, exercised + documented in the module docstring
    dest = tmp_path_factory.mktemp("hostile_sf")
    hf.build(str(dest), include_case_traps=False)
    return str(dest)


@pytest.fixture(scope="module")
def harness(spark, hostile_sf):
    import __spark_entry__ as entry

    con = duck_connect(hostile_sf)
    yield spark, entry.queries(), entry.oracle_sql(), compare, con
    con.close()


@pytest.mark.parametrize("key", RISK_KEYS)
def test_spark_matches_oracle_on_hostile_unicode(key, harness, hostile_sf):
    spark, queries, oracles, compare, con = harness
    spark_df = queries[key](spark, hostile_sf).toPandas()
    oracle_df = con.execute(oracles[key]).df()
    verdict = compare(key, spark_df, oracle_df)
    assert verdict == "OK", f"{key} diverges on hostile input: {verdict}"
