"""The two workloads.  Each is a closed loop with one client: the next
call starts when the previous one returns.

``atac_product``
    The reference flow, cold, as one CWL job runs it in a fresh process:
    h5ad ingest with a partitioned parquet write, manifest scan,
    ``build_product`` and ``finalize_and_write``, then ``export_h5mu``
    from the written product.  Then a fixed sequence of
    ``append_dataset_to_product`` calls on that product in cycles of
    three (a new dataset, a re-add with changed features, a re-add
    lacking a modality); one call is one cycle.
``lsh_corpus``
    The LSH/corpus registry keys through ``__spark_entry__.queries()``,
    each constructed and collected once cold (spill writes and eager
    checkpoints paid), then re-executed warm from the constructed plan
    (spills and checkpoints reused) in passes over the key set; one call
    is one pass.

A run makes as many calls as fill ``--seconds`` at a nominal call time
(``CYCLE_S``, ``PASS_S``), at least one.  The count does not depend on
how fast the run goes, so every run's median is over the same calls.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

import checks
import gen
from harness import (
    MemSampler,
    Tracer,
    file_digest,
    median,
    tree_bytes,
    tree_cpu_s,
    tree_files,
)

PRODUCT_SIZE = gen.ProductSize()
N_DOCS = 300
LSH_KEYS = [
    "dedup_minhash_lsh",
    "dedup_prefix_filter_join",
    "corpus_pipeline_e2e",
    "corpus_dedup_survivors",
]
CYCLE = 3  # appends per call: a new dataset, a changed re-add, a removal
CYCLE_S = 10.0  # nominal seconds of one append cycle
PASS_S = 10.0  # nominal seconds of one warm pass over LSH_KEYS
TISSUE = "heart"


@dataclass
class Run:
    """One workload run: its inputs, its outcome and what it measured."""

    spark: object
    tracer: Tracer
    mem: MemSampler
    work: str
    cache: str
    seed: int
    seconds: float
    input_digest: str
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    e2e: dict = field(default_factory=dict)  # name -> value
    layer: dict = field(default_factory=dict)  # name -> value (traced run)
    table: dict = field(default_factory=dict)  # extra per-layer detail

    def check(self, what: str, problems: list[str]) -> None:
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems += [f"{what}: {p}" for p in problems]


# -- atac_product -------------------------------------------------------------


def prepare_atac_product(work: str, seed: int) -> tuple[dict, str]:
    """The inputs' ground truth, and a digest of it that names them."""
    inp = os.path.join(work, "in")
    truth = gen.write_product_inputs(inp, seed, PRODUCT_SIZE)
    return truth, file_digest([os.path.join(inp, "truth.json")])


def cold_product_flow(spark, tr: Tracer, work: str, seed: int) -> dict:
    """The reference flow on the inputs under ``work/in``, timed per
    phase: ingest, build (manifest scan, plan, finalize and write) and
    ``.h5mu`` export, plus its CPU seconds over all three.  Writes
    ``work/product`` and ``work/product.h5mu``."""
    from atac_data_products_spark.plans import product as plans
    from atac_data_products_spark.sources.ingest import (
        COO_SCHEMA,
        decode_h5ad_bytes,
        ingest_binary_files,
    )
    from atac_data_products_spark.sources.tsv import scan_tsv_manifest

    inp, coo = os.path.join(work, "in"), os.path.join(work, "coo")
    product_dir = os.path.join(work, "product")
    h5mu_path = os.path.join(work, "product.h5mu")
    c0, t0 = tree_cpu_s(), time.perf_counter()
    for mod in gen.MODALITIES:
        with tr.span("sources.ingest", "sources", modality=mod):
            ingest_binary_files(
                spark, f"{inp}/staging/*/{mod}.h5ad", decode_h5ad_bytes, COO_SCHEMA
            ).write.mode("overwrite").partitionBy("dataset").parquet(f"{coo}/{mod}")
    t1 = time.perf_counter()
    with tr.span("sources.scan_tsv_manifest", "sources"):
        manifest = scan_tsv_manifest(spark, f"{inp}/manifest.tsv")
    mats = {m: [spark.read.parquet(f"{coo}/{m}")] for m in gen.MODALITIES}
    result = plans.build_product(manifest, mats, tissue=TISSUE,
                                 product_uuid=f"perfbench-{seed}")
    with tr.span("plans.finalize_and_write", "plans"):
        meta = plans.finalize_and_write(result, manifest, product_dir)
    t2 = time.perf_counter()
    with tr.span("sinks.export_h5mu", "sinks"):
        receipt = export_product_h5mu(spark, product_dir, h5mu_path, meta)
    t3, c3 = time.perf_counter(), tree_cpu_s()
    written = (tree_files(product_dir), tree_bytes(product_dir))
    return {"meta": meta, "receipt": receipt, "written": written,
            "product_dir": product_dir, "h5mu_path": h5mu_path,
            "ingest_s": t1 - t0, "build_s": t2 - t1, "h5mu_s": t3 - t2,
            "cpu_s": c3 - c0}


def export_product_h5mu(spark, product_dir: str, path: str, meta: dict) -> dict:
    """``export_h5mu`` from a written product directory."""
    from atac_data_products_spark.sinks import writers

    return writers.export_h5mu(
        {m: spark.read.parquet(f"{product_dir}/x_{m}") for m in gen.MODALITIES},
        path,
        obs_cols=spark.read.parquet(f"{product_dir}/obs").select(
            "cell_id", "hubmap_id", "age", "sex"),
        uns={"product_uuid": meta["product_uuid"],
             "dataset_uuids": meta["dataset_uuids"]},
    )


def atac_product(run: Run, truth: dict) -> None:
    from pyspark.sql import functions as F

    from atac_data_products_spark import spill
    from atac_data_products_spark.plans import product as plans
    from atac_data_products_spark.sources import hdf5_write
    from atac_data_products_spark.sources.tsv import scan_tsv_manifest

    spark, tr = run.spark, run.tracer
    inp = os.path.join(run.work, "in")
    spark.conf.set("adp.spill.root", os.path.join(run.work, "spill"))
    tr.patch(plans, "build_product", "plans.build_product", "plans")
    tr.patch(plans, "write_product", "sinks.write_product", "sinks")
    tr.patch(spill, "lineage_checkpoint", "spill.checkpoint", "spill")
    tr.patch(hdf5_write, "build_h5mu", "sources.build_h5mu", "sources")
    tr.count_collects()

    with run.mem.window():
        flow = cold_product_flow(spark, tr, run.work, run.seed)
    product_dir, receipt, written = (
        flow["product_dir"], flow["receipt"], flow["written"])
    want = truth["product"]
    problems, rows = checks.check_product(product_dir, want)
    run.check("product", problems)
    run.check("export_h5mu receipt", checks.check_h5mu_receipt(receipt, want))
    run.e2e.update({
        "cold_s": flow["ingest_s"] + flow["build_s"] + flow["h5mu_s"],
        "cold_cpu_s": flow["cpu_s"],
        "bytes_written_per_input_byte":
            (written[1] + receipt["n_bytes"]) / truth["input_bytes"],
    })
    run.table.update({
        k: flow[k] for k in ("ingest_s", "build_s", "h5mu_s")})
    run.table.update({
        "input_nnz": truth["input_nnz"], "input_bytes": truth["input_bytes"]})

    # -- appends --------------------------------------------------------------
    manifest_a = scan_tsv_manifest(spark, f"{inp}/manifest_append.tsv")
    state = {u: truth["staged"][u] for u in truth["manifested"]}
    sources = {"staging": truth["staged"], "append_new": truth["append_new"],
               "append_changed": truth["append_changed"]}
    latencies, rewritten, cpus = [], [], []
    appends = CYCLE * _calls(run.seconds, CYCLE_S)
    for case, ds, source in gen.append_sequence(truth, appends):
        mods = gen.MODALITIES if case != "removal" else gen.MODALITIES[:1]
        new = {
            m: spark.read.parquet(f"{inp}/coo/{source}/{m}.parquet")
            .where(F.col("dataset") == ds)
            for m in mods
        }
        wall0 = time.time()
        with run.mem.window(), tr.span(
                "plans.append_dataset_to_product", "plans", case=case):
            a0, ac0 = time.perf_counter(), tree_cpu_s()
            got = plans.append_dataset_to_product(
                spark, product_dir, manifest_a, ds, new, tissue=TISSUE)
            latencies.append(time.perf_counter() - a0)
            cpus.append(tree_cpu_s() - ac0)
        rewritten.append(_bytes_since(product_dir, wall0))
        if case == "removal":
            state.pop(ds)
        else:
            state[ds] = sources[source][ds]
        run.check(f"append {case} {ds[:8]}",
                  checks.check_metadata(got, gen.product_truth(state)))
    problems, _ = checks.check_product(
        product_dir, gen.product_truth(state))
    run.check("product after appends", problems)
    run.e2e["call_p50_s"] = median(_per_cycle(latencies))
    run.e2e["call_cpu_s"] = median(_per_cycle(cpus))
    run.table.update({
        "append_latencies_s": latencies,
        "append_bytes_rewritten": rewritten,
    })

    if tr.enabled:
        tr.unpatch()
        _atac_layers(run, truth, rows, written, receipt, rewritten, inp)


def _calls(seconds: float, nominal_s: float) -> int:
    return max(1, round(seconds / nominal_s))


def _per_cycle(values: list[float]) -> list[float]:
    return [sum(values[i:i + CYCLE]) for i in range(0, len(values), CYCLE)]


def _bytes_since(path: str, wall: float) -> int:
    """Bytes of files under ``path`` modified at or after ``wall``."""
    total = 0
    for d, _, files in os.walk(path):
        for f in files:
            st = os.stat(os.path.join(d, f))
            if st.st_mtime >= wall - 0.01:
                total += st.st_size
    return total


def _atac_layers(run, truth, rows, written, receipt, rewritten, inp) -> None:
    """Per-layer numbers of the traced ``atac_product`` run."""
    from atac_data_products_spark.sources.hdf5 import read_h5ad_matrix

    rep = run.tracer.report(task_lists_for={"sources.ingest"})
    # driver-side decode of every staged file, outside the flow's spans
    decode_s, strings = 0.0, 0
    for ds in sorted(os.listdir(f"{inp}/staging")):
        for mod in gen.MODALITIES:
            with open(f"{inp}/staging/{ds}/{mod}.h5ad", "rb") as f:
                content = f.read()
            t0 = time.perf_counter()
            m = read_h5ad_matrix(content)
            decode_s += time.perf_counter() - t0
            strings += len(m["barcodes"]) + len(m["features"])
    ingest = rep.total("sources.ingest")
    task_s = sorted(d for s in rep.named("sources.ingest")
                    for d in rep.task_durations.get(s.sid, []))
    build = rep.named("plans.build_product")[0]  # the flow's, not an append's
    fin = rep.total("plans.finalize_and_write")
    app = rep.total("plans.append_dataset_to_product")
    run.layer.update({
        "hdf5.strings": strings,
        "ingest.tasks": ingest["tasks"],
        "ingest.rows_out": ingest["output_records"],
        "ingest.write_bytes": ingest["output_bytes"],
        "product.plan_jobs": rep.inclusive(build)["jobs"],
        **{f"product.finalize.{k}": fin[k] for k in (
            "jobs", "stages", "tasks", "shuffle_write_bytes",
            "shuffle_read_bytes", "spill_bytes", "exchanges",
            "broadcast_joins", "smj")},
        "product.finalize.files_written": written[0],
        "product.finalize.bytes_written": written[1],
        # obs rows the program wrote, over the cells staged in either modality
        "product.cells_out_per_cell_in": rows["obs"] / truth["input_cells"],
        "h5mu.rows_collected": rep.attr_total("sinks.export_h5mu", "rows_collected"),
        "h5mu.bytes": receipt["n_bytes"],
        "append.calls": len(rep.named("plans.append_dataset_to_product")),
        "append.jobs": app["jobs"],
        "append.tasks": app["tasks"],
        "append.bytes_rewritten": sum(rewritten),
    })
    run.table.update({
        "hdf5.decode_s": decode_s,
        "hdf5.decode_us_per_string": 1e6 * decode_s / strings,
        "ingest.task_s_p50": median(task_s) if task_s else 0.0,
        "ingest.task_s_max": max(task_s, default=0.0),
        "tsv.scan_s": rep.seconds("sources.scan_tsv_manifest"),
        "product.plan_s": build.end - build.start,
        "product.finalize_s": rep.seconds("plans.finalize_and_write"),
        "product.finalize.task_s_sum": fin["task_s_sum"],
        "h5mu.s": rep.seconds("sinks.export_h5mu"),
        "h5mu.assemble_s": rep.seconds("sources.build_h5mu"),
        "h5mu.spark_s": rep.seconds("sinks.export_h5mu")
            - rep.seconds("sources.build_h5mu"),
        "append.call_s": rep.seconds("plans.append_dataset_to_product"),
    })
    _common_layers(run, rep, os.path.join(run.work, "spill"))


# -- lsh_corpus ---------------------------------------------------------------


def prepare_lsh_corpus(work: str, seed: int) -> tuple[dict, str]:
    """The ``documents`` table's location and size, and a digest of its
    bytes that names it."""
    sf = os.path.join(work, "sf")
    os.makedirs(sf, exist_ok=True)
    path = os.path.join(sf, "documents.parquet")
    n_bytes = gen.write_documents(path, seed, N_DOCS)
    return {"sf": sf, "input_bytes": n_bytes, "docs": N_DOCS}, file_digest([path])


def lsh_corpus(run: Run, inputs: dict) -> None:
    import __spark_entry__

    from atac_data_products_spark import spill

    spark, tr, sf = run.spark, run.tracer, inputs["sf"]
    spill_root = os.path.join(run.work, "spill")
    spark.conf.set("adp.spill.root", spill_root)
    queries = __spark_entry__.queries()
    tr.patch(spill, "spill_once", "spill.spill_once", "spill")
    tr.patch(spill, "lineage_checkpoint", "spill.checkpoint", "spill")

    spill0 = spill.spill_write_seconds_total()
    with run.mem.window():
        cold = _lsh_cold(run, queries, sf)
        spill_write_s = spill.spill_write_seconds_total() - spill0
        spill_bytes = tree_bytes(spill_root)
        warm = _lsh_warm(run, cold["frames"], cold["outputs"])

    oracle = checks.oracle_frames(
        run.cache, run.input_digest, os.path.join(sf, "documents.parquet"), LSH_KEYS)
    for key in LSH_KEYS:
        for i, pdf in enumerate(cold["outputs"][key]):
            run.check(f"{key} {'cold' if i == 0 else 'warm'}",
                      checks.check_key(key, pdf, oracle[key]))
    cold_s = sum(cold["construct_s"].values()) + sum(cold["run_s"].values())
    run.e2e.update({
        "cold_s": cold_s,
        "cold_cpu_s": cold["cpu_s"],
        "call_p50_s": median(warm["passes"]),
        "call_cpu_s": median(warm["pass_cpu"]),
        "bytes_written_per_input_byte": spill_bytes / inputs["input_bytes"],
    })
    run.table.update({
        "lsh_cold_s": cold_s,
        "lsh_warm_passes_s": warm["passes"],
        "spill.write_s": spill_write_s,
        **{f"key.{k}.construct_s": v for k, v in cold["construct_s"].items()},
        **{f"key.{k}.run_s": v for k, v in cold["run_s"].items()},
        **{f"key.{k}.warm_s": median(v) for k, v in warm["per_key"].items()},
    })
    if tr.enabled:
        tr.unpatch()
        rep = tr.report()
        for key in LSH_KEYS:
            c = rep.total(f"key.{key}.construct")
            r = rep.total(f"key.{key}.run")
            run.layer[f"key.{key}.construct_jobs"] = c["jobs"]
            run.layer[f"key.{key}.shuffle_bytes"] = (
                c["shuffle_write_bytes"] + r["shuffle_write_bytes"])
        _common_layers(run, rep, spill_root)


def _lsh_cold(run: Run, queries: dict, sf: str) -> dict:
    """Construct and collect each key once, cold: spill writes and eager
    checkpoints are paid here."""
    tr = run.tracer
    frames, outputs = {}, {k: [] for k in LSH_KEYS}
    construct_s, run_s = {}, {}
    cpu0 = tree_cpu_s()
    for key in LSH_KEYS:
        with tr.span(f"key.{key}.construct", "registry"):
            t0 = time.perf_counter()
            frames[key] = queries[key](run.spark, sf)
            t1 = time.perf_counter()
        with tr.span(f"key.{key}.run", "registry"):
            outputs[key].append(frames[key].toPandas())
            t2 = time.perf_counter()
        construct_s[key], run_s[key] = t1 - t0, t2 - t1
    return {"frames": frames, "outputs": outputs, "construct_s": construct_s,
            "run_s": run_s, "cpu_s": tree_cpu_s() - cpu0}


def _lsh_warm(run: Run, frames: dict, outputs: dict) -> dict:
    """Passes over the key set, each a fresh execution of every
    constructed plan: its spills and checkpoints are leaves now, so only
    the final query runs.  One call is one pass."""
    per_key: dict[str, list[float]] = {k: [] for k in LSH_KEYS}
    passes, pass_cpu = [], []
    for _ in range(_calls(run.seconds, PASS_S)):
        pc0 = tree_cpu_s()
        for key in LSH_KEYS:
            with run.tracer.span(f"key.{key}.warm", "registry"):
                t0 = time.perf_counter()
                outputs[key].append(frames[key].select("*").toPandas())
                per_key[key].append(time.perf_counter() - t0)
        passes.append(sum(per_key[k][-1] for k in LSH_KEYS))
        pass_cpu.append(tree_cpu_s() - pc0)
    return {"per_key": per_key, "passes": passes, "pass_cpu": pass_cpu}


def _common_layers(run: Run, rep, spill_root: str) -> None:
    """Per-layer numbers both workloads report."""
    jobs = {k: sum(c[k] for c in rep.counters.values())
            for k in ("jobs", "tasks", "task_s_sum")}
    run.layer.update({
        "spill.writes": len(rep.named("spill.spill_once")),
        "spill.bytes": tree_bytes(spill_root),
        "spill.ckpt_count": len(rep.named("spill.checkpoint")),
        "spill.ckpt_s": rep.seconds("spill.checkpoint"),
        "jobs.count": jobs["jobs"],
        "jobs.tasks": jobs["tasks"],
        "jobs.task_s_sum": jobs["task_s_sum"],
        "trace.overhead_s": rep.overhead_s,
        "trace.read_s": rep.read_s,
    })
    run.table["self_s"] = rep.self_seconds()
    run.table["spans"] = rep.table()


WORKLOADS = {
    "atac_product": (prepare_atac_product, atac_product),
    "lsh_corpus": (prepare_lsh_corpus, lsh_corpus),
}


def write_json(path: str, obj) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path + ".tmp", "w") as f:
        json.dump(obj, f, indent=1, sort_keys=True, default=str)
    os.replace(path + ".tmp", path)
