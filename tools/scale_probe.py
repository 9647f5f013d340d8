"""Empirical scale-up probe: synthesize an N-fold larger corpus from
sf0.1 (id-offset + deterministic text perturbation so near-dup structure
is preserved per copy instead of collapsing into one giant dup cluster),
run the heavyweight extension operators at both scales, and print the
wall-clock ratio next to the data ratio.

A plan whose time ratio tracks the data ratio is shuffle/scan-bound
(healthy); a super-linear ratio exposes a pair-explosion or a
single-partition stage before it becomes a 100 TB incident.

Usage: python tools/scale_probe.py [multiplier] [key ...] [--attr]

``--attr`` (r10 verdict task 1): per-stage attribution from the UI
REST API — for each timed run, the stages it submitted are diffed off
a stage-id watermark and the top stages by executor time are printed
with shuffle-read/write bytes, input bytes, and task counts.  This is
what separates "the candidate set grew with the data" (data-inherent:
shuffle bytes track rows) from "the plan got more expensive per row"
(fixable: task time grows while bytes don't).
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import urllib.request

sys.path.insert(0, ".")

from tools.measure import time_key, warm_up  # noqa: E402

DEFAULT_KEYS = [
    "dedup_minhash_lsh",
    "corpus_dedup_survivors",
    "vector_kmeans_lloyd",
    "graph_pagerank",
    "ml_psi_drift",
    "corpus_cross_source_overlap",
    "dedup_incremental_probe",
    "similarity_topk",
]

BASE = "/root/testdata/sf0.1"


def build_scaled(spark, mult: int, out_dir: str) -> None:
    from pyspark.sql import functions as F

    if os.path.exists(out_dir):
        shutil.rmtree(out_dir)
    os.makedirs(out_dir)

    docs = spark.read.parquet(f"{BASE}/documents.parquet")
    n_docs = docs.agg(F.max("doc_id")).collect()[0][0] + 1
    parts = []
    for i in range(mult):
        # perturb each copy by suffixing a copy tag onto every 4th
        # token: ~3/4 of 3-gram shingles change, so cross-copy Jaccard
        # falls below the dedup threshold — the scaled corpus has mult×
        # docs with the SAME per-copy near-dup structure, not one giant
        # cross-copy dup cluster (which would conflate data scaling
        # with a semantic change in dup density)
        tagged = F.array_join(
            F.transform(
                F.split(F.col("text"), " "),
                lambda t, j: F.when(
                    j % 4 == 0, F.concat(t, F.lit(f"_c{i}"))
                ).otherwise(t),
            ),
            " ",
        )
        parts.append(
            docs.select(
                (F.col("doc_id") + i * n_docs).alias("doc_id"),
                tagged.alias("text"),
                "lang",
                "source",
                F.length(tagged).cast("bigint").alias("n_chars"),
            )
        )
    d = parts[0]
    for p in parts[1:]:
        d = d.unionByName(p)
    d.write.mode("overwrite").parquet(f"{out_dir}/documents.parquet")

    emb = spark.read.parquet(f"{BASE}/embeddings.parquet")
    n_emb = emb.agg(F.max("vec_id")).collect()[0][0] + 1
    eparts = [
        emb.select(
            (F.col("vec_id") + i * n_emb).alias("vec_id"),
            # rotate one dimension deterministically so copies are
            # distinct points, not coincident ones
            F.transform(
                "embedding", lambda x, j: x + (j == F.lit(i % 64)).cast("float") * 0.001
            ).alias("embedding"),
            "label",
        )
        for i in range(mult)
    ]
    e = eparts[0]
    for p in eparts[1:]:
        e = e.unionByName(p)
    e.write.mode("overwrite").parquet(f"{out_dir}/embeddings.parquet")

    ev = spark.read.parquet(f"{BASE}/events.parquet")
    n_ev = ev.agg(F.max("event_id")).collect()[0][0] + 1
    n_usr = ev.agg(F.max("user_id")).collect()[0][0] + 1
    vparts = [
        ev.select(
            (F.col("event_id") + i * n_ev).alias("event_id"),
            "ts",
            (F.col("user_id") + i * n_usr).alias("user_id"),
            "event_type",
            "value",
            "props",
        )
        for i in range(mult)
    ]
    v = vparts[0]
    for p in vparts[1:]:
        v = v.unionByName(p)
    v.write.mode("overwrite").parquet(f"{out_dir}/events.parquet")

    # remaining tables: symlink-equivalent copies (queries under probe
    # only touch documents/embeddings/events; the rest stay at sf0.1)
    for t in ["region", "nation", "customer", "supplier", "part", "orders", "lineitem"]:
        src = f"{BASE}/{t}.parquet"
        dst = f"{out_dir}/{t}.parquet"
        if os.path.isdir(src):
            shutil.copytree(src, dst)
        else:
            shutil.copy(src, dst)


class StageAttribution:
    """Per-stage metrics via the UI REST API (round-11 task 1).

    ``watermark()`` before a run, ``report(mark)`` after: every stage
    with id > mark belongs to the run (one driver thread; stage ids are
    monotone).  Uses ``sc.uiWebUrl`` — the address the UI actually
    bound, not the conf (ADVICE r10 on the chaos killer's 404 loop).
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        base = sc.uiWebUrl
        if not base:
            raise RuntimeError("--attr needs spark.ui.enabled=true")
        self._url = f"{base}/api/v1/applications/{sc.applicationId}/stages"

    def _stages(self) -> list[dict]:
        with urllib.request.urlopen(self._url, timeout=10) as r:
            return json.load(r)

    def watermark(self) -> int:
        return max((s["stageId"] for s in self._stages()), default=-1)

    def report(self, mark: int, top: int = 6) -> list[dict]:
        rows = [
            {
                "stage": s["stageId"],
                "tasks": s.get("numTasks", 0),
                "exec_s": round(s.get("executorRunTime", 0) / 1000, 1),
                "in_mb": round(s.get("inputBytes", 0) / 1e6, 1),
                "sh_r_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
                "sh_w_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
                "sh_r_rows": s.get("shuffleReadRecords", 0),
                "name": s.get("name", "")[:60],
            }
            for s in self._stages()
            if s["stageId"] > mark and s.get("status") != "SKIPPED"
        ]
        rows.sort(key=lambda r: -r["exec_s"])
        return rows[:top]


def timed(qs, key, spark, sf_dir, n=2, attr=None):
    """Min of n runs; with ``attr``, also the best run's top stages."""

    def build():
        return qs[key](spark, sf_dir)

    if not attr:
        return min(time_key(spark, build, n)[0])
    best, best_stages = None, None
    for _ in range(n):
        mark = attr.watermark()
        (dt,), _, _ = time_key(spark, build, 1)
        if best is None or dt < best:
            best, best_stages = dt, attr.report(mark)
    return best, best_stages


def _print_attr(tag: str, stages: list[dict]) -> None:
    print(f"  -- {tag}: top stages by executor time")
    hdr = f"  {'stage':>6} {'tasks':>5} {'exec_s':>8} {'in_mb':>9} {'shR_mb':>9} {'shW_mb':>9} {'shR_rows':>11}  name"
    print(hdr)
    for s in stages:
        print(
            f"  {s['stage']:>6} {s['tasks']:>5} {s['exec_s']:>8.1f} "
            f"{s['in_mb']:>9.1f} {s['sh_r_mb']:>9.1f} {s['sh_w_mb']:>9.1f} "
            f"{s['sh_r_rows']:>11}  {s['name']}"
        )


def main() -> None:
    from atac_data_products_spark.session import get_spark, sweep_conf

    import __spark_entry__ as e

    args = [a for a in sys.argv[1:] if a != "--attr"]
    want_attr = "--attr" in sys.argv[1:]
    mult = int(args[0]) if args else 8
    keys = args[1:] or DEFAULT_KEYS
    extra = None
    if want_attr:
        extra = {
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "5000",
        }
    spark = get_spark("scale-probe", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    # same sweep seam as check_correctness: ADP_SWEEP_CONF="k=v,k=v"
    # (runtime confs only — used e.g. to A/B adp.spill.enabled)
    for k, v in sweep_conf().items():
        spark.conf.set(k, v)
        print(f"sweep conf: {k}={v}", flush=True)
    attr = StageAttribution(spark) if want_attr else None
    out_dir = f"/tmp/scale_probe_x{mult}"
    if os.environ.get("ADP_SCALE_REUSE") and os.path.exists(out_dir):
        print(f"reusing {mult}x corpus at {out_dir}", flush=True)
    else:
        print(f"building {mult}x corpus at {out_dir} ...", flush=True)
        build_scaled(spark, mult, out_dir)
    qs = e.queries()
    warm_up(spark, qs, BASE)
    print(f"{'key':32} {'1x':>7} {f'{mult}x':>8} {'ratio':>6}  (data x{mult})")
    for k in keys:
        if attr:
            t1, s1 = timed(qs, k, spark, BASE, attr=attr)
            tn, sn = timed(qs, k, spark, out_dir, attr=attr)
            print(f"{k:32} {t1:7.2f} {tn:8.2f} {tn / t1:6.2f}", flush=True)
            _print_attr("1x", s1)
            _print_attr(f"{mult}x", sn)
        else:
            t1 = timed(qs, k, spark, BASE)
            tn = timed(qs, k, spark, out_dir)
            print(f"{k:32} {t1:7.2f} {tn:8.2f} {tn / t1:6.2f}", flush=True)


if __name__ == "__main__":
    main()
