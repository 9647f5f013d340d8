"""Oracle-equivalence tests for every registered query (SURVEY.md §5.2.1).

Mirrors the driver's t2 gate at sf0.001 for speed: per key, run the Spark
implementation and the DuckDB oracle, compare row count + column names +
order-insensitive values.
"""

from __future__ import annotations

import ast
import sys
from collections import Counter
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from tools.check_correctness import compare  # noqa: E402

from tests.conftest import REPO, SF_SMALL  # noqa: E402


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


PKG = REPO / "atac_data_products_spark"
# the code outside tests/ that may call into the package
CALLERS = [
    REPO / "__spark_entry__.py",
    REPO / "bench.py",
    *(REPO / "tools").glob("*.py"),
    *(REPO / "perfbench").glob("*.py"),
    *PKG.rglob("*.py"),
]
# package defs that only tests reach, each kept for the reason given
ONLY_TESTS_REACH = {
    # the network side of the reference's search-API query
    # (make_uuids_tsv.py); the registry keys read a local snapshot
    "sources/rest.py::fetch_search_hits",
}


def _names(tree: ast.AST) -> Counter:
    """How often each name is used in ``tree``: loads, attributes and
    imported names."""
    used: Counter = Counter()
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            used[node.id] += 1
        elif isinstance(node, ast.Attribute):
            used[node.attr] += 1
        elif isinstance(node, ast.alias):
            used[node.name.rpartition(".")[2]] += 1
    return used


def _is_key(node: ast.FunctionDef | ast.AsyncFunctionDef | ast.ClassDef) -> bool:
    return any(
        isinstance(d, ast.Call) and getattr(d.func, "id", None) == "query"
        for d in node.decorator_list
    )


def test_no_package_def_is_reached_only_by_tests():
    trees = {path: ast.parse(path.read_text()) for path in CALLERS}
    used = sum((_names(tree) for tree in trees.values()), Counter())
    # a registry key is reached through the contract; any other top-level
    # def or class needs a use outside its own body
    unused = {
        f"{path.relative_to(PKG)}::{node.name}"
        for path, tree in trees.items()
        if path.is_relative_to(PKG)
        for node in tree.body
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef))
        and not _is_key(node)
        and used[node.name] == _names(node)[node.name]
    }
    assert unused <= ONLY_TESTS_REACH, (
        "no key, tool, bench or benchmark uses these; delete them, or move "
        f"them into tests/ if only tests need them: {sorted(unused - ONLY_TESTS_REACH)}"
    )
