"""Oracle-identity proof for the prefix-filtered truth rewrite (r09
verdict task 2 → round 10).

`dedup_lsh_band_sweep` and `dedup_simhash_eval` grade their candidate
stages against exact-Jaccard ground truth.  Their oracles originally
embedded the NAIVE all-pairs inverted-index join — quadratic in
shingle document frequency, spilling >80 GB at the 8x value sweep —
so both were value-verified only at 4x (docs/SCALE_SWEEP.md, the one
asymmetry in the r09 value gate).  The rewrite switches the truth CTE
to `registry_ext.prefix_pair_sql`: prefix-filtered candidate
generation + exact verify, recall-LOSSLESS by the public prefix-
filtering theorem (Chaudhuri 2006 / Xiao 2008 — the same result
dedup_prefix_filter_join's ENGINE side relies on).

This test pins the equivalence DuckDB-side: the prefix-filtered query
must return the exact same (doc_a, doc_b, jaccard) rows as the naive
inverted-index oracle of dedup_ngram_jaccard — which itself remains
the live oracle for dedup_ngram_jaccard / dedup_prefix_filter_join
and is therefore independently driver-checked every round.
"""

from __future__ import annotations


def test_prefix_truth_matches_naive_inverted_index(duck):
    from atac_data_products_spark.registry_ext import ORACLES, prefix_pair_sql

    naive = duck.execute(
        f"SELECT * FROM ({ORACLES['dedup_ngram_jaccard']}) ORDER BY doc_a, doc_b"
    ).df()
    prefix = duck.execute(
        f"SELECT * FROM ({prefix_pair_sql(1, 5)}) ORDER BY doc_a, doc_b"
    ).df()
    assert len(naive) > 0, "fixture produced no near-dup pairs — vacuous test"
    assert naive.equals(prefix), (
        "prefix-filtered truth diverged from the naive inverted-index "
        "oracle — the lossless-prefix rewrite is broken"
    )


def test_eval_oracles_embed_the_prefix_form(duck):
    """Both eval keys must actually USE the bucketed truth (a revert to
    the naive CTE would silently reopen the 8x-oracle-spill gap)."""
    import __spark_entry__ as e

    os_ = e.oracle_sql()
    for key in ("dedup_lsh_band_sweep", "dedup_simhash_eval"):
        assert "pf_prefix" in os_[key], f"{key} oracle lost the prefix truth"
        assert "s1 JOIN shingles s2" not in os_[key]


def _naive_pair_sql(num: int, den: int) -> str:
    """Test-local naive inverted-index twin of prefix_pair_sql at an
    arbitrary threshold — the unfiltered ground truth the theorem says
    the prefix form must reproduce exactly."""
    from atac_data_products_spark.extensions.text import tokens_sql, word_shingles_sql
    from atac_data_products_spark.functions.numeric import mean_quantized_sql

    jac = mean_quantized_sql("n_inter", "za.n_sh + zb.n_sh - n_inter")
    return f"""
    WITH toks AS (SELECT doc_id, {tokens_sql()} AS t FROM documents),
    shingles AS (SELECT DISTINCT doc_id, unnest({word_shingles_sql("t")}) AS shingle
                 FROM toks WHERE len(t) >= 3),
    sizes AS (SELECT doc_id, count(*) AS n_sh FROM shingles GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS n_inter
              FROM shingles a JOIN shingles b USING (shingle)
              WHERE a.doc_id < b.doc_id GROUP BY 1, 2)
    SELECT doc_a, doc_b, {jac} AS jaccard
    FROM inter JOIN sizes za ON za.doc_id = doc_a
               JOIN sizes zb ON zb.doc_id = doc_b
    WHERE {jac} >= {num / den}
    """


def test_prefix_truth_identity_property():
    """Property form of the lossless-prefix theorem: on RANDOM small
    corpora (tiny vocab → forced shingle collisions, duplicated docs →
    J=1 pairs, truncations → containment-style pairs) and across LOW,
    MID, and HIGH thresholds, the prefix-filtered pair set equals the
    naive all-pairs truth row-for-row.  Hypothesis shrinks any
    counterexample to a minimal corpus."""
    import duckdb
    import pandas as pd
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    from atac_data_products_spark.registry_ext import prefix_pair_sql

    vocab = ["aa", "bb", "cc", "dd", "ee", "ff"]
    doc = st.lists(st.sampled_from(vocab), min_size=0, max_size=12).map(" ".join)

    @settings(
        max_examples=40,
        deadline=None,
        suppress_health_check=[HealthCheck.too_slow],
    )
    @given(
        texts=st.lists(doc, min_size=2, max_size=12),
        num_den=st.sampled_from([(1, 5), (1, 2), (4, 5)]),
    )
    def check(texts, num_den):
        num, den = num_den
        con = duckdb.connect()
        docs = pd.DataFrame(
            {"doc_id": range(len(texts)), "text": texts}
        )
        con.register("documents", docs)
        naive = con.execute(
            f"SELECT * FROM ({_naive_pair_sql(num, den)}) ORDER BY doc_a, doc_b"
        ).df()
        prefix = con.execute(
            f"SELECT * FROM ({prefix_pair_sql(num, den)}) ORDER BY doc_a, doc_b"
        ).df()
        assert naive.reset_index(drop=True).equals(
            prefix.reset_index(drop=True)
        ), f"divergence at t={num}/{den} on corpus {texts!r}"

    check()
