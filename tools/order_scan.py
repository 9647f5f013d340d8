"""Exhaustive row-order / file-sharding invariance sweep.

The synthetic parquet tables freeze one physical row order and one
file per table; a real lake at 100 TB guarantees neither — ingestion
order, compaction, and writer parallelism all reshuffle rows and
resplit files.  A key whose result depends on the incidental order
(an implicit "first", a double sum whose accumulation order crosses a
rounding boundary) is oracle-green on the frozen layout and drifts on
any other.

This tool rewrites every table row-permuted (deterministic seed) and
split into N files, runs every key (or a subset) against both layouts,
and diffs normalized output:

    python tools/order_scan.py                   # seed 42, 3 files
    python tools/order_scan.py --seed 7 --files 5
    python tools/order_scan.py --seed 7 --files 5 key1 key2

Exits nonzero on drift.  Found at introduction: tpch_q1's double-sum
accumulation flipped a cent at the round(2) boundary → money math
rewritten in exact DECIMAL.  The per-suite battery
(tests/test_order_invariance.py) pins the risk subset.
"""

from __future__ import annotations

import argparse
import shutil
import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SCHEMA_SOURCE = "/root/testdata/sf0.001"
SKIP = {"gen_uuid", "gen_timestamp"}  # nondeterministic by nature


def build_shuffled_dir(
    dest: str, source: str = SCHEMA_SOURCE, seed: int = 42, nfiles: int = 3
) -> None:
    """Row-permute every table (deterministic rng) and split it into
    nfiles parquet parts under <dest>/<table>.parquet/."""
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    from atac_data_products_spark.sources.tables import TABLES

    for t in TABLES:
        tbl = pq.read_table(f"{source}/{t}.parquet")
        rng = np.random.default_rng(seed)
        shuf = tbl.take(pa.array(rng.permutation(tbl.num_rows)))
        part_dir = Path(dest) / f"{t}.parquet"
        part_dir.mkdir(parents=True, exist_ok=True)
        n = tbl.num_rows
        k = max(1, min(nfiles, n))
        cuts = [round(i * n / k) for i in range(k + 1)]
        for i in range(k):
            pq.write_table(
                shuf.slice(cuts[i], cuts[i + 1] - cuts[i]),
                part_dir / f"part-{i}.parquet",
            )


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("keys", nargs="*")
    ap.add_argument("--seed", type=int, default=42)
    ap.add_argument("--files", type=int, default=3)
    args = ap.parse_args()

    from atac_data_products_spark.session import get_spark
    from tools.measure import sweep

    import __spark_entry__ as entry

    qs = entry.queries()
    keys = args.keys or [k for k in sorted(qs) if k not in SKIP]

    spark = get_spark("order-scan", shuffle_partitions=8)
    tmp = tempfile.mkdtemp(prefix="adp_order_")
    try:
        build_shuffled_dir(tmp, seed=args.seed, nfiles=args.files)
        return sweep(
            keys,
            lambda k, sf_dir: qs[k](spark, sf_dir).toPandas(),
            (SCHEMA_SOURCE, tmp),
        )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    raise SystemExit(main())
