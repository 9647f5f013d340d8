"""VALUE-checked oracle sweep at synthesized N× scale (r08 verdict
task 1 → round 9).

The wall-clock scale probe (tools/scale_probe.py) answers "does the
plan survive N× data"; THIS tool answers "do the VALUES survive N×
data" — boundary-hit probability for quantization/envelope contracts
grows with row count (the first 10×-scale sweep caught two latent
bugs that four sf0.01 sweeps never touched), so the hash-compare gate
must also run above sf0.1.

It reuses scale_probe's multiplier synthesizer (id-offset copies with
deterministic text perturbation, preserving per-copy near-dup
structure) and EXTENDS it to the TPC-H facts — customer/orders/
lineitem get aligned key offsets per copy (o_custkey tracks the
customer offset, l_orderkey the orders offset) so FK containment and
join semantics are preserved; part/supplier/nation/region stay
dimension-sized.  Then it runs tools/check_correctness.py (the real
driver-gate comparator) over the boundary-sensitive key set:

- every key whose oracle rides the HUGEINT quantized lane
  (mean_quantized* / ratio_scaled_int* markers), plus
- the envelope/fold keys with no HUGEINT marker (sketch envelopes,
  Holt/centroid folds, approx percentile).

Usage:
    python tools/scale_sweep_value.py [multiplier] [key ...]

Record results in docs/SCALE_SWEEP.md (same format as the 10× record).
"""

from __future__ import annotations

import os
import subprocess
import sys

sys.path.insert(0, ".")

from tools.scale_probe import BASE, build_scaled  # noqa: E402

# boundary-sensitive keys WITHOUT a HUGEINT oracle marker: approximation
# envelopes and pinned IEEE folds whose numeric territory widens with n
EXTRA_KEYS = [
    "approx_distinct_accuracy",
    "sketch_hll_mergeable_rollup",
    "agg_percentiles",
    "timeseries_holt_forecast",
    "vector_kmeans_lloyd",
    "stat_anova_oneway",
    "growth_month_over_month",
]


def build_scaled_facts(spark, mult: int, out_dir: str) -> None:
    """scale_probe.build_scaled + aligned-offset copies of the TPC-H
    facts (it leaves customer/orders/lineitem at 1×)."""
    from pyspark.sql import functions as F

    build_scaled(spark, mult, out_dir)

    cust = spark.read.parquet(f"{BASE}/customer.parquet")
    orders = spark.read.parquet(f"{BASE}/orders.parquet")
    li = spark.read.parquet(f"{BASE}/lineitem.parquet")
    n_cust = cust.agg(F.max("c_custkey")).collect()[0][0] + 1
    n_ord = orders.agg(F.max("o_orderkey")).collect()[0][0] + 1

    def copies(df, offsets: dict[str, int]):
        parts = []
        for i in range(mult):
            cols = [
                (F.col(c) + i * off).alias(c) if c in offsets else F.col(c)
                for c, off in [(c, offsets.get(c, 0)) for c in df.columns]
            ]
            parts.append(df.select(cols))
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    copies(cust, {"c_custkey": n_cust}).write.mode("overwrite").parquet(
        f"{out_dir}/customer.parquet"
    )
    copies(orders, {"o_orderkey": n_ord, "o_custkey": n_cust}).write.mode(
        "overwrite"
    ).parquet(f"{out_dir}/orders.parquet")
    copies(li, {"l_orderkey": n_ord}).write.mode("overwrite").parquet(
        f"{out_dir}/lineitem.parquet"
    )


def boundary_keys() -> list[str]:
    import __spark_entry__ as e

    os_ = e.oracle_sql()
    keys = {k for k, sql in os_.items() if "HUGEINT" in sql}
    keys.update(k for k in EXTRA_KEYS if k in e.queries())
    return sorted(keys)


def main() -> int:
    from atac_data_products_spark.session import get_spark

    mult = int(sys.argv[1]) if len(sys.argv) > 1 else 8
    keys = sys.argv[2:] or boundary_keys()
    out_dir = f"/tmp/scale_sweep_x{mult}"
    spark = get_spark("scale-sweep-build")
    spark.sparkContext.setLogLevel("ERROR")
    print(f"building {mult}x corpus+facts at {out_dir} ...", flush=True)
    build_scaled_facts(spark, mult, out_dir)
    spark.stop()
    print(f"value gate: {len(keys)} boundary-sensitive keys", flush=True)
    # fresh interpreter for the gate itself (same entry as the driver)
    return subprocess.call(
        [sys.executable, "tools/check_correctness.py", out_dir, *keys],
        env={**os.environ},
    )


if __name__ == "__main__":
    raise SystemExit(main())
