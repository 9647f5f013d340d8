"""Exhaustive empty-input robustness sweep over the registry.

Builds a schema-identical 0-row copy of every synthetic table and runs
every key (or a subset) against it.  A key may return an empty (or
legitimately constant) DataFrame — what it may NOT do is crash: a
0-row relation is a routine state at 100 TB (an upstream filter can
drain any input), and `.first().field` / `float(agg_over_nothing)` /
schema inference over a fileless directory are all latent crashes the
oracle gate never sees (it only runs populated SFs).

    python tools/empty_scan.py            # all keys
    python tools/empty_scan.py key1 key2  # subset

Exits nonzero on any failure.  The per-suite battery
(tests/test_empty_input.py) pins the driver-side-collect risk subset;
this tool is the full-registry audit.
"""

from __future__ import annotations

import sys
import tempfile
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SCHEMA_SOURCE = "/root/testdata/sf0.001"
SKIP: set[str] = set()


def build_empty_dir(dest: str, source: str = SCHEMA_SOURCE) -> None:
    import pyarrow.parquet as pq

    from atac_data_products_spark.sources.tables import TABLES

    for t in TABLES:
        schema = pq.read_schema(f"{source}/{t}.parquet")
        pq.write_table(schema.empty_table(), f"{dest}/{t}.parquet")


def main() -> int:
    from atac_data_products_spark.session import get_spark

    import __spark_entry__ as entry

    qs = entry.queries()
    keys = sys.argv[1:] or [k for k in sorted(qs) if k not in SKIP]

    spark = get_spark("empty-scan", shuffle_partitions=8)
    with tempfile.TemporaryDirectory(prefix="adp_empty_") as sf_dir:
        build_empty_dir(sf_dir)
        fails = []
        for i, k in enumerate(keys, 1):
            try:
                n = qs[k](spark, sf_dir).count()
                print(f"[{i}/{len(keys)}] {k}: ok rows={n}")
            except Exception as ex:  # noqa: BLE001 — report, don't mask
                fails.append(k)
                msg = str(ex).splitlines()[0][:120] if str(ex) else ""
                print(f"[{i}/{len(keys)}] {k}: FAIL {type(ex).__name__}: {msg}")
    print(f"\n{len(keys) - len(fails)}/{len(keys)} survive empty input")
    if fails:
        print("FAILURES:", ", ".join(fails))
    return 1 if fails else 0


if __name__ == "__main__":
    raise SystemExit(main())
