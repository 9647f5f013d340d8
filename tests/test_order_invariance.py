"""Row-order / file-sharding determinism battery.

The testdata freezes one row order and one file per table; a 100 TB
lake guarantees neither.  Two failure classes live here:

- an implicit order dependence (a "first"/collect that isn't pinned by
  declared columns) — the partition-layout battery shuffles the
  EXECUTION layout, this one shuffles the DATA itself;
- a double-precision SUM whose accumulation order crosses the final
  rounding boundary — found live by tools/order_scan.py on
  tpch_q1_pricing_summary (one cent flip at round(2)), fixed by exact
  DECIMAL money math.  Keys aggregating doubles under a round() are
  therefore the core risk list below.

Full-registry sweep: tools/order_scan.py (at introduction: 344/344
after the Q1 fix, across seeds 1-5 × 1-7 files).
"""

from __future__ import annotations

import pytest

from tools.check_correctness import normalize
from tools.order_scan import build_shuffled_dir

SF = "/root/testdata/sf0.001"

# round-of-double-sum family (flip risk at the rounding boundary) +
# order-pinned output reps (implicit-first risk).
RISK_KEYS = [
    "tpch_q1_pricing_summary",   # the caught flipper, now DECIMAL-exact
    "tpch_q6_forecast_revenue",
    "tpch_q9_product_profit",
    "tpch_q11_value_concentration",
    "tpch_q17_small_qty_revenue",
    "tpch_q18_large_orders",
    "tpch_q22_idle_customers",
    "agg_cube_pricing",
    "agg_rollup_pricing",
    "agg_partial_merge",
    "agg_null_semantics_battery",
    "analytics_regional_revenue",
    "window_running_sum",
    "window_range_time_frame",
    "timeseries_gapfill",
    "timeseries_locf_impute",
    "timeseries_ohlc_downsample",
    "vector_kmeans_lloyd",
    "corpus_entropy_rate",
    "events_user_entropy",
    "ml_psi_drift",
    "sample_deterministic",
    # implicit-order risks: outputs must be pinned by declared columns
    "agg_collect_lists",
    "agg_first_match",
    "first_match_shortcircuit",
    "limit_page",
]


@pytest.fixture(scope="module")
def shuffled_sf(tmp_path_factory):
    dest = tmp_path_factory.mktemp("shuffled_sf")
    build_shuffled_dir(str(dest), seed=42, nfiles=3)
    return str(dest)


@pytest.fixture(scope="module")
def harness(spark):
    import __spark_entry__ as entry

    return spark, entry.queries(), normalize


@pytest.mark.parametrize("key", RISK_KEYS)
def test_result_independent_of_row_order(key, harness, shuffled_sf):
    spark, queries, normalize = harness
    fn = queries[key]
    a = normalize(fn(spark, SF).toPandas())
    b = normalize(fn(spark, shuffled_sf).toPandas())
    assert a.shape == b.shape, (
        f"{key}: row/column count changed with input row order "
        f"({a.shape} vs {b.shape})"
    )
    if not a.equals(b):
        diff = a.compare(b)
        raise AssertionError(
            f"{key}: values drift with input row order; first diffs:\n"
            f"{diff.head(10)}"
        )
