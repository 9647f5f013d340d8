"""Benchmark entry point.

    python3 perfbench/run.py --workload atac_product|lsh_corpus \\
        --seed N --seconds S --trace 0|1

Run from the repository root.  Inputs are generated from ``--seed`` under
``.bench_work/`` (removed again at exit); the program sees only those
files.  One process, ``local[4]``, 2 GB driver heap.  The session is set
up cold twice, each time in its own JVM; the workload runs in the second.

``--trace 0`` measures the end-to-end metrics with tracing off.
``--trace 1`` runs the workload with spans around every call into the
package, reads job, stage and task counters from Spark's status store,
prints the per-layer table and writes it, with the spans and the tracing
overhead, to ``.bench_work/trace/<workload>-seed<N>.json``.  The overhead
compares the traced run's wall times with those of untraced runs on the
same input and code (kept under ``.bench_work/cache/untraced/``).
Standard error gets the run's phase wall times, each set-up's time, the
memory peaks and the host's CPU steal.

The last line of standard output is one JSON object:
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
Metric names and units come from ``BENCHMARK.json``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import time
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
# cold set-ups per run, each in its own JVM; two, not more, so that a
# run stays near a minute (a cold set-up takes 8-10 s on a 4-core VM)
SETUP_REPEATS = 2
UNTRACED_KEPT = 10  # untraced results kept per input and code version


def _spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _package_present() -> bool:
    return os.path.isfile(
        os.path.join(ROOT, "atac_data_products_spark", "__init__.py"))


def main(argv: list[str] | None = None, bench_dir: str | None = None) -> int:
    """Run one workload; ``bench_dir`` holds its scratch files, caches and
    trace output (default ``.bench_work/`` at the repository root)."""
    spec = _spec()
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True,
                    choices=[w["name"] for w in spec["workloads"]])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, default=spec["run_seconds"])
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)
    if not _package_present():
        print("perfbench: atac_data_products_spark not found next to "
              "perfbench/; run from a full checkout", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    marks = [("start", time.perf_counter())]

    import harness
    import workloads

    bench_dir = bench_dir or os.path.join(ROOT, ".bench_work")
    work = os.path.join(
        bench_dir, f"{args.workload}-{args.seed}-{os.getpid()}")
    harness.configure_process(work)
    prepare, measure = workloads.WORKLOADS[args.workload]
    steal0 = harness.steal_s()
    try:
        inputs, input_digest = prepare(work, args.seed)
        marks.append(("inputs", time.perf_counter()))
        spark, setup = harness.set_up(SETUP_REPEATS)
        marks.append(("setup", time.perf_counter()))
        try:
            run = workloads.Run(
                spark=spark,
                tracer=harness.Tracer(spark, bool(args.trace), uuid.uuid4().hex[:8]),
                mem=harness.MemSampler(spark),
                work=work, cache=os.path.join(bench_dir, "cache"),
                seed=args.seed, seconds=args.seconds, input_digest=input_digest)
            try:
                measure(run, inputs)
            finally:
                run.mem.stop()
            marks.append(("workload", time.perf_counter()))
        finally:
            harness.tear_down(spark)
    finally:
        shutil.rmtree(work, ignore_errors=True)
    marks.append(("teardown", time.perf_counter()))

    # other tenants of the host show as CPU steal; a run with much of it
    # measured a slower machine
    run.table["cpu_steal_s"] = harness.steal_s() - steal0
    print(f"perfbench: {run.table['cpu_steal_s']:.2f} s of CPU steal during "
          "the run", file=sys.stderr)
    print("perfbench: wall s " + " ".join(
        f"{b[0]}={b[1] - a[1]:.1f}" for a, b in zip(marks, marks[1:])),
        file=sys.stderr)
    print("perfbench: set-ups s " + " ".join(
        f"{a + b:.2f}" for a, b in setup), file=sys.stderr)
    run.e2e["setup_s"] = harness.median([a + b for a, b in setup])
    peaks = run.mem.peaks_mb
    print("perfbench: memory peaks MB " + " ".join(
        f"{k}={v:.1f}" for k, v in peaks.items()), file=sys.stderr)
    run.e2e["peak_rss_mb"] = peaks["total"]
    for p in run.problems:
        print(f"CHECK FAILED {p}")
    correct = run.failed == 0
    untraced = os.path.join(
        bench_dir, "cache", "untraced",
        f"{args.workload}-{input_digest[:16]}-{harness.code_digest()[:16]}.json")
    if args.trace:
        run.layer.update({
            "session.get_spark_s": harness.median([a for a, _ in setup]),
            "session.worker_warmup_s": harness.median([b for _, b in setup]),
            **{f"mem.{k}_peak_mb": peaks[k] for k in harness.MemSampler.PARTS},
            "check.failed_ratio": run.failed / run.attempted,
            "wall.cold_s": run.e2e["cold_s"],
            "wall.call_p50_s": run.e2e["call_p50_s"],
        })
        _write_trace(bench_dir, args, run, _load(untraced))
        metrics = _select(spec["per_layer"], run.layer)
    else:
        kept = _load(untraced)[-(UNTRACED_KEPT - 1):]
        workloads.write_json(untraced, kept + [
            {k: run.e2e[k] for k in ("cold_s", "call_p50_s")}])
        metrics = _select(spec["end_to_end"], run.e2e)
    print(json.dumps({
        "correct": correct,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": metrics,
    }))
    return 0


def _select(declared: list[dict], values: dict) -> dict:
    """The declared metrics, in declared order.  A count a workload never
    touches (another workload's layer) reads 0; a missing time is a bug."""
    out = {}
    for m in declared:
        if m["name"] in values:
            v = values[m["name"]]
        elif m["unit"] in ("count", "B", "1"):
            v = 0
        else:
            raise KeyError(f"metric {m['name']!r} was not measured")
        out[m["name"]] = {"value": v, "unit": m["unit"]}
    return out


def _load(path: str) -> list:
    if not os.path.exists(path):
        return []
    with open(path) as f:
        return json.load(f)


def _write_trace(bench_dir: str, args, run, untraced: list[dict]) -> None:
    """Print the per-layer table and write it with spans and overhead.

    ``untraced``: the wall times of the untraced runs made on the same
    input (same seed and size) with the same code, which the traced
    run's wall times are compared against."""
    import workloads

    overhead = {"tracer_s": run.layer["trace.overhead_s"],
                "status_store_read_s": run.layer["trace.read_s"],
                "untraced_runs": len(untraced)}
    if untraced:
        import statistics

        for k in ("cold_s", "call_p50_s"):
            base = statistics.median(u[k] for u in untraced)
            overhead[f"{k}.traced"] = run.e2e[k]
            overhead[f"{k}.untraced_median"] = base
            overhead[f"{k}.share"] = run.e2e[k] / base - 1.0
    spans = run.table.pop("spans")
    print(f"{'span':44} {'layer':8} {'calls':>5} {'s':>8} {'self_s':>8} "
          f"{'jobs':>5} {'tasks':>6} {'shuf_w_B':>10}")
    for r in sorted(spans, key=lambda r: -r["s"]):
        print(f"{r['span'][:44]:44} {r['layer']:8} {r['calls']:5d} "
              f"{r['s']:8.3f} {r['self_s']:8.3f} {r['jobs']:5d} "
              f"{r['tasks']:6d} {r['shuffle_write_bytes']:10d}")
    for k, v in sorted(run.table["self_s"].items()):
        print(f"self time {k:10} {v:8.3f} s")
    for k, v in sorted(overhead.items()):
        print(f"overhead {k:30} {v}")
    workloads.write_json(
        os.path.join(bench_dir, "trace", f"{args.workload}-seed{args.seed}.json"),
        {"workload": args.workload, "seed": args.seed,
         "end_to_end": run.e2e, "per_layer": run.layer,
         "detail": run.table, "span_table": spans, "overhead": overhead,
         "spans": run.tracer.spans and [
             {"id": s.sid, "name": s.name, "layer": s.layer,
              "parent": s.parent, "run": s.run, "start": s.start,
              "end": s.end, **s.attrs} for s in run.tracer.spans]})


if __name__ == "__main__":
    sys.exit(main())
