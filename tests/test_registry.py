"""Oracle-equivalence tests for every registered query (SURVEY.md §5.2.1).

Mirrors the driver's t2 gate at sf0.001 for speed: per key, run the Spark
implementation and the DuckDB oracle, compare row count + column names +
order-insensitive values.
"""

from __future__ import annotations

import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.check_correctness import compare  # noqa: E402

from tests.conftest import SF_SMALL  # noqa: E402


def _contract():
    import __spark_entry__ as e

    return e.queries(), e.oracle_sql()


QUERIES, ORACLES = _contract()


@pytest.mark.parametrize("key", sorted(QUERIES))
def test_query_matches_oracle(key, spark, duck):
    sdf = QUERIES[key](spark, SF_SMALL).toPandas()
    if key not in ORACLES:
        # rows-only contract: must at least run and return a stable schema
        assert sdf.columns.size > 0
        return
    odf = duck.execute(ORACLES[key]).df()
    verdict = compare(key, sdf, odf)
    assert verdict == "OK", f"{key}: {verdict}"


# keys whose shingle source spills by default: with spill off,
# digest_shingles hands them the same rows lazily
SPILL_OFF_KEYS = [
    "dedup_minhash_lsh",
    "dedup_containment",
    "dedup_minhash_estimate_calibration",
    "dedup_incremental_probe",
    "dedup_lsh_band_sweep",
    "corpus_pipeline_e2e",
]


@pytest.mark.parametrize("key", SPILL_OFF_KEYS)
def test_query_matches_oracle_with_spill_off(key, spark, duck):
    spark.conf.set("adp.spill.enabled", "false")
    try:
        sdf = QUERIES[key](spark, SF_SMALL).toPandas()
    finally:
        spark.conf.unset("adp.spill.enabled")
    verdict = compare(key, sdf, duck.execute(ORACLES[key]).df())
    assert verdict == "OK", f"{key}: {verdict}"


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert df.columns == [
        "cell_id", "dataset", "donor_name", "donor_segment", "nation_name", "region_name",
    ]
