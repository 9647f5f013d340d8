"""Physical-partitioning determinism battery.

At 1000 executors the scan splits and shuffle partition counts bear no
resemblance to local[32]'s — `spark.sql.files.maxPartitionBytes`
decides how parquet is split, `spark.sql.shuffle.partitions` decides
every exchange's fan-out, and NEITHER may change a query's RESULT.  A
key that is oracle-green under one physical layout but drifts under
another is broken at scale in a way the oracle gate can't see (the
driver runs one fixed layout).  This battery re-runs the
highest-risk keys — window tiebreaks, top-k, collect_list, sampling,
hash-derived RNG, iterative convergence, global row numbering — under
two deliberately different physical configurations and requires
bit-identical normalized output.

Risk selection rationale per key is in the list's comments; purely
scan-shaped keys (filters/projections) are excluded — their invariance
is structural, and the full registry would make this battery too slow
for every suite run.
"""

from __future__ import annotations

import pytest

from tools.check_correctness import normalize

SF = "/root/testdata/sf0.001"

# (key, why it's partition-layout risky)
RISK_KEYS = [
    "agg_collect_lists",        # collect_list order is partition-order
    "agg_first_match",          # explode+pivot last-wins pinning
    "first_match_shortcircuit", # top-1 under declared path order
    "limit_page",               # pagination needs a total order
    "window_topk_per_group",    # rank ties
    "window_rank_battery",      # rank/ntile/lag over declared order
    "join_zip_columns",         # global row numbering across tables
    "sample_deterministic",     # md5-slot sampling must not be rand()
    "stat_bootstrap_poisson_ci",# hash-derived Poisson draws
    "dedup_minhash_lsh",        # bucket-join pair emission
    "corpus_dedup_survivors",   # cluster-rep tiebreak (len, id)
    "corpus_split_assign",      # key-stable md5 split
    "similarity_mmr_rerank",    # greedy selection order
    "graph_pagerank",           # iterative float convergence
    "dedup_connected_components", # iterative min-label propagation
    "zorder_key",               # bit interleave is pure derivation
    "table_checksum",           # order-insensitive sum by contract
    "agg_mode_deterministic",   # mode tiebreak is declared
]


@pytest.fixture(scope="module")
def harness(spark):
    import __spark_entry__ as entry

    return spark, entry.queries(), normalize


LAYOUT_A = {
    "spark.sql.shuffle.partitions": "8",
    "spark.sql.files.maxPartitionBytes": "134217728",
    "spark.sql.adaptive.enabled": "true",
}
# few shuffle partitions + tiny scan splits + no AQE re-planning:
# maximally different physical plan from layout A without touching
# semantics (AQE may swap join strategies and coalesce partitions —
# neither may change results)
LAYOUT_B = {
    "spark.sql.shuffle.partitions": "3",
    "spark.sql.files.maxPartitionBytes": "65536",
    "spark.sql.adaptive.enabled": "false",
}


def _run(spark, fn, conf, normalize):
    saved = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        return normalize(fn(spark, SF).toPandas())
    finally:
        for k, v in saved.items():
            spark.conf.set(k, v)


@pytest.mark.parametrize("key", RISK_KEYS)
def test_result_independent_of_physical_layout(key, harness):
    spark, queries, normalize = harness
    fn = queries[key]
    a = _run(spark, fn, LAYOUT_A, normalize)
    b = _run(spark, fn, LAYOUT_B, normalize)
    assert a.shape == b.shape, (
        f"{key}: row/column count changed with physical layout "
        f"({a.shape} vs {b.shape})"
    )
    if not a.equals(b):
        diff = a.compare(b)
        raise AssertionError(
            f"{key}: values drift with physical layout; first diffs:\n"
            f"{diff.head(10)}"
        )
