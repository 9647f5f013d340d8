"""Self-test of the benchmark at a tiny size.

    python3 perfbench/selftest.py

Checks that the generator is a pure function of the seed, that the
output checks catch a corrupted product, that a full ``read_h5mu``
decode of the exported ``.h5mu`` matches the product entry by entry, and
that every run prints exactly the metric names ``BENCHMARK.json``
declares.  Exits 0 when all pass.  Takes a few minutes: the last check
runs each workload once untraced and once traced, in a scratch
directory of its own, so its tiny inputs never meet the caches of real
runs.
"""

from __future__ import annotations

import contextlib
import filecmp
import io
import json
import os
import shutil
import sys
import tempfile

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]

import checks  # noqa: E402
import gen  # noqa: E402
import harness  # noqa: E402
import run as bench  # noqa: E402
import workloads  # noqa: E402

TINY = gen.ProductSize(datasets=4, cells=24, bins=60, genes=30,
                       unmanifested=1, new_datasets=3)
TINY_DOCS = 80


def _same_tree(a: str, b: str) -> bool:
    cmp = filecmp.dircmp(a, b)
    if cmp.left_only or cmp.right_only or cmp.funny_files:
        return False
    _, mismatch, errors = filecmp.cmpfiles(a, b, cmp.common_files, shallow=False)
    return not mismatch and not errors and all(
        _same_tree(os.path.join(a, d), os.path.join(b, d)) for d in cmp.common_dirs)


def test_generator_is_seeded(tmp: str) -> None:
    runs = {}
    for name, seed in (("a", 5), ("b", 5), ("c", 6)):
        runs[name] = gen.write_product_inputs(os.path.join(tmp, name), seed, TINY)
        gen.write_documents(os.path.join(tmp, name, "docs.parquet"), seed, TINY_DOCS)
    assert runs["a"] == runs["b"], "same seed, different truth"
    assert _same_tree(os.path.join(tmp, "a"), os.path.join(tmp, "b")), \
        "same seed, different input files"
    assert runs["a"] != runs["c"], "different seeds gave the same inputs"
    seq = gen.append_sequence(runs["a"], 30)
    assert seq == gen.append_sequence(runs["b"], 30)
    assert {case for case, _, _ in seq} == {"new", "changed", "removal"}


def test_checks_on_a_real_product(tmp: str) -> None:
    work = os.path.join(tmp, "flow")
    harness.configure_process(work)
    truth = gen.write_product_inputs(os.path.join(work, "in"), 7, TINY)
    spark, _ = harness.set_up(1)
    try:
        tracer = harness.Tracer(spark, False, "selftest")
        flow = workloads.cold_product_flow(spark, tracer, work, 7)
        want, product = truth["product"], flow["product_dir"]
        problems, _ = checks.check_product(product, want)
        assert problems == [], problems
        assert checks.check_h5mu_receipt(flow["receipt"], want) == []
        problems = checks.check_h5mu_roundtrip(spark, product, flow["h5mu_path"])
        assert problems == [], problems

        # corruption 1: product.json overstates the cell count
        meta_path = os.path.join(product, "product.json")
        with open(meta_path) as f:
            meta = json.load(f)
        meta["cell_count"] += 1
        with open(meta_path, "w") as f:
            json.dump(meta, f)
        problems, _ = checks.check_product(product, want)
        assert any("cell_count" in p for p in problems), problems
        meta["cell_count"] -= 1
        with open(meta_path, "w") as f:
            json.dump(meta, f)

        # corruption 2: one dataset's matrix partition is lost
        x_dir = os.path.join(product, "x_cell_by_gene")
        lost = sorted(d for d in os.listdir(x_dir) if d.startswith("dataset="))[0]
        shutil.rmtree(os.path.join(x_dir, lost))
        problems, _ = checks.check_product(product, want)
        assert any("x_cell_by_gene rows" in p for p in problems), problems
        problems = checks.check_h5mu_roundtrip(spark, product, flow["h5mu_path"])
        assert problems, "round trip missed a lost partition"

        # a receipt that disagrees with the truth
        bad = dict(flow["receipt"], n_obs=flow["receipt"]["n_obs"] - 1)
        assert checks.check_h5mu_receipt(bad, want)
    finally:
        harness.tear_down(spark)


def test_metric_names_match_spec(tmp: str) -> None:
    spec = bench._spec()
    bench_dir = os.path.join(tmp, "bench")
    want = {
        0: [m["name"] for m in spec["end_to_end"]],
        1: [m["name"] for m in spec["per_layer"]],
    }
    units = {m["name"]: m["unit"] for m in spec["end_to_end"] + spec["per_layer"]}
    workloads.PRODUCT_SIZE, workloads.N_DOCS = TINY, TINY_DOCS
    for w in spec["workloads"]:
        for trace in (0, 1):
            out = io.StringIO()
            with contextlib.redirect_stdout(out):
                rc = bench.main(["--workload", w["name"], "--seed", "3",
                                 "--seconds", "1", "--trace", str(trace)],
                                bench_dir=bench_dir)
            last = json.loads(out.getvalue().strip().splitlines()[-1])
            where = f"{w['name']} --trace {trace}"
            assert rc == 0 and last["correct"], f"{where}: {out.getvalue()[-2000:]}"
            assert sorted(last) == ["attempted", "correct", "failed", "metrics"]
            assert last["failed"] == 0 and last["attempted"] >= 1, where
            assert list(last["metrics"]) == want[trace], where
            for name, m in last["metrics"].items():
                assert m["unit"] == units[name], (where, name)
                assert isinstance(m["value"], (int, float)), (where, name)
                if trace == 0:
                    assert m["value"] > 0, (where, name)
        # the traced run compared itself with the untraced run just made
        with open(os.path.join(bench_dir, "trace", f"{w['name']}-seed3.json")) as f:
            overhead = json.load(f)["overhead"]
        assert overhead["untraced_runs"] == 1, overhead


def main() -> int:
    scratch = os.path.join(ROOT, ".bench_work")
    os.makedirs(scratch, exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="selftest-", dir=scratch)
    failed = 0
    try:
        for test in (test_generator_is_seeded, test_checks_on_a_real_product,
                     test_metric_names_match_spec):
            try:
                test(tmp)
                print(f"PASS {test.__name__}")
            except Exception as e:  # report every test, then fail the run
                failed += 1
                print(f"FAIL {test.__name__}: {type(e).__name__}: {e}")
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
