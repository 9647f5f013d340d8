"""Empty-input robustness battery.

A 0-row relation is a routine state at 100 TB — an upstream filter,
a partition predicate, or a source outage can drain any input — so no
operator may CRASH on it.  Returning zero rows (or a legitimately
constant result like a count of 0) is fine; `.first().field` on a
maybe-empty frame, `float()` of an aggregate-over-nothing NULL, and
schema inference over a directory a 0-row write left fileless are not.

A full-registry sweep lives in tools/empty_scan.py (run at
introduction: 344/344 survive).  This per-suite battery pins the keys
whose plans cross a driver-side bounded collect — exactly where the
crash class lives, and where the fixes landed:

- the 5 query-vector operators (`.first().embedding` → query_vector
  helper returning None → typed empty result)
- ml_logistic_irls (IRLS sufficient statistics are NULL over nothing)
- sink_partitioned_pruned (0-row partitioned write leaves no data
  file; the read-back is now schema-explicit)
- representative keys over the other audited collect sites (product
  pipeline firsts, dedup cluster probe, broadcast dim collect) that
  already survived the sweep — pinned so they stay that way.
"""

from __future__ import annotations

import pytest

from tools.empty_scan import build_empty_dir


RISK_KEYS = [
    # fixed by the audit: crashed on empty before
    "similarity_topk",
    "similarity_lsh_topk",
    "similarity_ivf_topk",
    "similarity_range_search",
    "similarity_mmr_rerank",
    "ml_logistic_irls",
    "sink_partitioned_pruned",
    # survived the sweep; pinned against regression (collect sites)
    "product_build_obs",
    "product_cell_count",
    "map_lookup_organ",
    "dedup_connected_components",
    "first_match_shortcircuit",
    "limit_page",
    "agg_first_match",
    "vector_kmeans_lloyd",
    "corpus_pipeline_e2e",
]


@pytest.fixture(scope="module")
def empty_sf(tmp_path_factory):
    dest = tmp_path_factory.mktemp("empty_sf")
    build_empty_dir(str(dest))
    return str(dest)


@pytest.fixture(scope="module")
def queries():
    import __spark_entry__ as entry

    return entry.queries()


@pytest.mark.parametrize("key", RISK_KEYS)
def test_survives_empty_input(key, spark, empty_sf, queries):
    df = queries[key](spark, empty_sf)
    n = df.count()  # must not raise
    assert n >= 0
    assert len(df.schema) > 0, f"{key}: empty result lost its schema"


def test_irls_degenerate_shape_matches_oracle(spark, empty_sf, queries, tmp_path):
    """Both IRLS early-return branches must yield the ORACLE's shape:
    exactly one row (n_iters, NULL, NULL) — a DuckDB aggregate without
    GROUP BY always emits one row, so a 0-row Spark result would be a
    cross-engine row-count mismatch on degenerate data (r09 ADVICE).

    Branch 1: empty events (sums-over-nothing are NULL).
    Branch 2: constant x (det = ΣW·ΣWx² − (ΣWx)² = 0)."""
    from atac_data_products_spark.registry_scale import IRLS_ITERS

    # branch 1 — empty input
    rows = queries["ml_logistic_irls"](spark, empty_sf).collect()
    assert len(rows) == 1
    assert (rows[0].n_iters, rows[0].beta0, rows[0].beta1) == (IRLS_ITERS, None, None)

    # branch 2 — constant x: every event has the same value
    const_dir = tmp_path / "const_sf"
    ev = spark.createDataFrame(
        [(i, f"u{i % 3}", "purchase" if i % 2 else "view", 5.0, None, None)
         for i in range(20)],
        "event_id bigint, user_id string, event_type string, value double,"
        " ts timestamp, props string",
    )
    ev.write.parquet(str(const_dir / "events.parquet"))
    rows = queries["ml_logistic_irls"](spark, str(const_dir)).collect()
    assert len(rows) == 1
    assert (rows[0].n_iters, rows[0].beta0, rows[0].beta1) == (IRLS_ITERS, None, None)
