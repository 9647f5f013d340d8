"""Machine-enforce the PYTHON-LANE rounding contract (r09 verdict
task 1 → round 10): no Python-side numeric publish — driver fold or
Arrow UDF — may use a construct whose rounding/floor semantics differ
from the SQL forms the oracles run.

Why a second scanner: tools/quantization_scan.py walks the ANALYZED
Spark plan, so it sees every JVM-side expression — but Python
arithmetic never reaches a plan.  Round 9 found two real bugs in
exactly that blind spot (`ml_logistic_irls` driver β re-quantization
and `decode_image_stats` UDF pixel means, both Python `round()` —
HALF-EVEN — where the contract and the oracle are SQL half-away).
The fix contract is recorded in docs/OPERATIONS.md: any Python-side
numeric publish must use the bigint half-away `(2|s|u + n) div 2n`
forms.  Nothing machine-checked that until this scanner.

What it does: AST-walks every module in `atac_data_products_spark/`
plus `__spark_entry__.py` and flags three construct classes — string
literals (oracle SQL text) are naturally invisible to the AST, so SQL
`round(...)` inside docstrings/oracles never false-positives:

  round-call   builtin `round(...)`, or `.round/.around/.rint`
               attribute calls (numpy/pandas) ANYWHERE in the file —
               Python/numpy round is half-even; SQL round is
               half-away.  Flagged module-wide because constant folds
               at module level feed both engines' query text.
  floordiv     Python `//` ANYWHERE — Python floors toward -inf while
               SQL `div`/DuckDB `//` truncate toward zero: a silent
               divergence the instant a numerator can go negative.
  div-in-lane  true division `/` inside a PYTHON-LANE context only
               (an Arrow-seam UDF body or a driver-fold function —
               module-level `/` builds Column trees the plan scanner
               already governs).  Divisions whose source text contains
               `F.` are auto-accepted as JVM Column construction.

Python-lane contexts are detected per module:
  * functions passed (positionally or by keyword) to mapInPandas /
    applyInPandas / applyInPandasWithState / mapInArrow /
    mapPartitions / foreachBatch / udf / pandas_udf, or decorated
    with (pandas_)udf — the Arrow/UDF seam;
  * functions whose body materializes to the driver (.collect /
    .first / .head / .take / .toPandas) — the driver-fold seam;
  * lambdas appearing directly as seam-call arguments.

Every flag must appear in EXEMPT with a docs/OPERATIONS.md-argued
class — EXACT in both directions (the quantization_scan standard): an
unexempted flag fails the scan (convert the site to the bigint
half-away form, or classify it), and a stale exemption fails too (the
site was rewritten — delete the entry).

Exemption classes:
  shared-constant      the value is computed ONCE in Python and the
                       SAME object parameterizes both the Spark plan
                       and the oracle SQL text (e.g. the MMR λ
                       complement) — cross-engine divergence is
                       structurally impossible.
  statistical-fold     rounding a multi-term IEEE accumulation whose
                       shortest decimal repr is ~17 digits — a
                       half-boundary hit at the publish scale is
                       measure-zero (same class as the plan scanner).
  nonneg-floor         `//` whose numerator is non-negative by
                       construction (sizes, counts, |s| forms, masked
                       scales): floor == truncate, Python and SQL
                       agree; includes the canonical half-away
                       quantizer `(2|s|u + n) // (2n)` itself.
  ceil-div-trick       `-a // b` with a >= 0 — the deliberate ceiling
                       division idiom; used only for plan shaping
                       (partition counts), never for published values.
  exact-int-to-double  `/` converting an exact integer <= 2^53 to
                       double by a power-of-ten unit — lossless or
                       identical to the oracle's CAST(x AS DOUBLE)/u.
  identical-ieee       a single IEEE division mirrored op-for-op by
                       the oracle SQL (documented in the site's
                       docstring) with no rounding downstream of it —
                       both engines perform the same rounding-free
                       float op on the same inputs.

Usage:
    python tools/python_lane_scan.py [--json]

Exit 0 = every flag exempted and every exemption live.  Suite wiring:
tests/test_python_lane_contract.py (lockstep with the plan scanner's
tests/test_quantization_contract.py).
"""

from __future__ import annotations

import ast
import json
import sys
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent

SCAN_ROOTS = ["atac_data_products_spark", "__spark_entry__.py"]

SEAM_FUNCS = {
    "mapInPandas", "applyInPandas", "applyInPandasWithState",
    "mapInArrow", "mapPartitions", "foreachBatch", "udf", "pandas_udf",
}
DRIVER_MAT = {"collect", "first", "head", "take", "toPandas"}
ROUND_ATTRS = {"round", "around", "rint"}


def _seam_names(tree: ast.AST) -> tuple[set[str], list[ast.Lambda]]:
    """Function names (and inline lambdas) passed to Arrow-seam calls."""
    names: set[str] = set()
    lambdas: list[ast.Lambda] = []
    for node in ast.walk(tree):
        if not isinstance(node, ast.Call):
            continue
        f = node.func
        fname = (
            f.attr if isinstance(f, ast.Attribute)
            else f.id if isinstance(f, ast.Name) else None
        )
        if fname not in SEAM_FUNCS:
            continue
        for a in list(node.args) + [k.value for k in node.keywords]:
            if isinstance(a, ast.Name):
                names.add(a.id)
            elif isinstance(a, ast.Lambda):
                lambdas.append(a)
    return names, lambdas


def _lane_contexts(tree: ast.AST) -> list[tuple[ast.AST, str, str]]:
    """(scope_node, qualname, kind) for every Python-lane context."""
    seam, lambdas = _seam_names(tree)
    out: list[tuple[ast.AST, str, str]] = []

    def visit(node: ast.AST, prefix: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                qn = f"{prefix}{child.name}"
                kind = None
                if child.name in seam:
                    kind = "udf"
                else:
                    for d in child.decorator_list:
                        if any(t in ast.unparse(d) for t in ("pandas_udf", "udf")):
                            kind = "udf"
                            break
                if kind is None:
                    for sub in ast.walk(child):
                        if (
                            isinstance(sub, ast.Call)
                            and isinstance(sub.func, ast.Attribute)
                            and sub.func.attr in DRIVER_MAT
                        ):
                            kind = "driver"
                            break
                if kind:
                    out.append((child, qn, kind))
                visit(child, qn + ".")
            elif isinstance(child, ast.ClassDef):
                visit(child, f"{prefix}{child.name}.")
            else:
                visit(child, prefix)

    visit(tree, "")
    out.extend((lam, "<seam-lambda>", "udf") for lam in lambdas)
    return out


def _def_spans(tree: ast.AST) -> list[tuple[int, int, str]]:
    """(start, end, qualname) for every def, for innermost-scope lookup."""
    spans: list[tuple[int, int, str]] = []

    def visit(node: ast.AST, prefix: str) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef)):
                qn = f"{prefix}{child.name}"
                spans.append((child.lineno, child.end_lineno or child.lineno, qn))
                visit(child, qn + ".")
            elif isinstance(child, ast.ClassDef):
                visit(child, f"{prefix}{child.name}.")
            else:
                visit(child, prefix)

    visit(tree, "")
    return spans


def _qual_at(spans: list[tuple[int, int, str]], lineno: int) -> str:
    best = "<module>"
    best_len = None
    for lo, hi, qn in spans:
        if lo <= lineno <= hi and (best_len is None or hi - lo < best_len):
            best, best_len = qn, hi - lo
    return best


def scan_file(path: Path) -> list[dict]:
    src = path.read_text()
    tree = ast.parse(src)
    rel = str(path.relative_to(REPO))
    spans = _def_spans(tree)
    flags: list[dict] = []

    def add(node: ast.AST, construct: str, scope: str | None = None) -> None:
        snip = ast.unparse(node)[:60]
        flags.append(
            {
                "file": rel,
                "scope": scope or _qual_at(spans, node.lineno),
                "construct": construct,
                "snippet": snip,
                "lineno": node.lineno,
            }
        )

    # module-wide: round-family calls and floor divisions
    for node in ast.walk(tree):
        if isinstance(node, ast.Call):
            f = node.func
            if isinstance(f, ast.Name) and f.id == "round":
                add(node, "round-call")
            elif isinstance(f, ast.Attribute) and f.attr in ROUND_ATTRS:
                base = ast.unparse(f.value)
                if base != "F":  # F.round is JVM-side, plan-scanner turf
                    add(node, "round-call")
        elif isinstance(node, ast.BinOp) and isinstance(node.op, ast.FloorDiv):
            add(node, "floordiv")

    # lane-only: true division inside UDF bodies / driver folds
    seen_div: set[int] = set()
    for scope_node, qn, kind in _lane_contexts(tree):
        for sub in ast.walk(scope_node):
            if (
                isinstance(sub, ast.BinOp)
                and isinstance(sub.op, ast.Div)
                and id(sub) not in seen_div
            ):
                seen_div.add(id(sub))
                text = ast.unparse(sub)
                if "F." in text:  # Column-tree construction — JVM lane
                    continue
                add(sub, f"div-in-{kind}", scope=qn)
    return flags


# ---------------------------------------------------------------------------
# Exemption table: (file, scope, construct, snippet) -> class.  EXACT in
# both directions — an unlisted flag fails; a listed entry the scan no
# longer produces fails as stale.  Snippets are the first 60 chars of
# the ast.unparse of the flagged node (stable under unrelated edits;
# line numbers deliberately NOT part of the key).
# ---------------------------------------------------------------------------

EXEMPT: dict[tuple[str, str, str, str], str] = {
    # --- round-call ---------------------------------------------------
    # MMR λ complement: ONE Python-computed constant parameterizes both
    # the oracle SQL text and the Spark literal — divergence impossible.
    ("atac_data_products_spark/registry_scale.py", "_mmr_oracle",
     "round-call", "round(1 - MMR_LAMBDA, 6)"): "shared-constant",
    ("atac_data_products_spark/registry_scale.py", "similarity_mmr_rerank",
     "round-call", "round(1 - MMR_LAMBDA, 6)"): "shared-constant",
    # --- floordiv -----------------------------------------------------
    ("atac_data_products_spark/extensions/avi.py", "encode_avi",
     "floordiv", "1000000 // fps"): "nonneg-floor",
    ("atac_data_products_spark/extensions/multimodal.py",
     "frame_sample.sample", "floordiv",
     "(len(raw) + frame_bytes - 1) // frame_bytes"): "nonneg-floor",
    ("atac_data_products_spark/extensions/multimodal.py",
     "decode_image_stats.stats", "floordiv",
     "(2 * s * 1000000 + n) // (2 * n)"): "nonneg-floor",
    ("atac_data_products_spark/extensions/wav.py", "decode_wav",
     "floordiv", "bits // 8"): "nonneg-floor",
    ("atac_data_products_spark/extensions/wav.py", "decode_wav",
     "floordiv", "len(data) // frame_bytes"): "nonneg-floor",
    ("atac_data_products_spark/extensions/wav.py", "encode_wav",
     "floordiv", "bits // 8"): "nonneg-floor",
    ("atac_data_products_spark/operators/graph.py", "<module>",
     "floordiv",
     "RANK_SCALE * (DAMP_DEN - DAMP_NUM) // DAMP_DEN"): "nonneg-floor",
    ("atac_data_products_spark/operators/graph.py", "_pagerank_loop",
     "floordiv", "TELEPORT_NUM // n_nodes"): "nonneg-floor",
    ("atac_data_products_spark/operators/graph.py", "_pagerank_loop",
     "floordiv", "RANK_SCALE // n_nodes"): "nonneg-floor",
    ("atac_data_products_spark/registry.py", "sink_compact_small_files",
     "floordiv", "-total // COMPACT_TARGET_BYTES"): "ceil-div-trick",
    ("atac_data_products_spark/registry_ext.py", "<module>",
     "floordiv", "SIMHASH_BITS // _SIMHASH_BAND_BITS"): "nonneg-floor",
    ("atac_data_products_spark/registry_ext.py",
     "_media_relation", "floordiv",
     "(len(rows) + 31) // 32"): "nonneg-floor",
    ("atac_data_products_spark/registry_scale.py",
     "ml_logistic_irls._q_ns", "floordiv",
     "(2 * abs(num) * scale + den) // (2 * den)"): "nonneg-floor",
    # MemTotal in KiB to whole GiB of driver heap; no oracle sees it
    ("atac_data_products_spark/session.py", "default_driver_memory",
     "floordiv", "kib // (2 * 1024 * 1024)"): "nonneg-floor",
    ("atac_data_products_spark/sources/hdf5_write.py", "_write_csr_anndata",
     "floordiv", "len(np.asarray(data)) // 3"): "nonneg-floor",
    # --- div-in-lane --------------------------------------------------
    # quantized integer published over its power-of-ten unit — the
    # prescribed final step of the half-away form itself.
    ("atac_data_products_spark/extensions/multimodal.py",
     "decode_image_stats.stats", "div-in-udf",
     "(2 * s * 1000000 + n) // (2 * n) / 1000000.0"): "exact-int-to-double",
    # β_ns are exact ints ~1e10 « 2^53; /1e9 is the identical conversion
    # the oracle's CAST(ns AS DOUBLE)/1e9 makes (site docstring).
    ("atac_data_products_spark/registry_scale.py", "ml_logistic_irls",
     "div-in-driver", "b0_ns / 1000000000.0"): "exact-int-to-double",
    ("atac_data_products_spark/registry_scale.py", "ml_logistic_irls",
     "div-in-driver", "b1_ns / 1000000000.0"): "exact-int-to-double",
    # publish divide of the half-away-quantized 1e-6 integers — the
    # exact twin of the oracle's mean_quantized_signed publish.
    ("atac_data_products_spark/registry_scale.py", "ml_logistic_irls",
     "div-in-driver", "_q_ns(b0_ns, 1000, 1) / 1000000.0"): "exact-int-to-double",
    ("atac_data_products_spark/registry_scale.py", "ml_logistic_irls",
     "div-in-driver", "_q_ns(b1_ns, 1000, 1) / 1000000.0"): "exact-int-to-double",
    # driver probe-selection cosine: documented op-for-op mirror of the
    # oracle's try_divide fold ("same sequential fold order as the SQL
    # oracle"), no rounding downstream — ordering only.
    ("atac_data_products_spark/extensions/similarity.py", "ivf_topk",
     "div-in-driver", "dp / (nc * qn)"): "identical-ieee",
    # int8 quantization normalize: feeds the half-AWAY floor form
    # np.floor(|y|+0.5) that _quant_sql mirrors op-for-op (docstring:
    # "bit-exact cross-engine by construction").
    ("atac_data_products_spark/registry_ext.py", "ml_score_batch.infer",
     "div-in-udf", "v / safe[:, None]"): "identical-ieee",
    # r12 gram rewrite: the same int8-quantization normalize as
    # ml_score_batch (same two IEEE ops in the same order as the
    # _quant_sql oracle twin), feeding sign·floor(|y|+0.5) — bit-exact
    # cross-engine by construction.
    ("atac_data_products_spark/registry_ext.py", "vector_gram_int8.gram",
     "div-in-udf", "v / safe[:, None]"): "identical-ieee",
    # r12 MMR driver greedy: the pairwise-cosine division mirrors the
    # retired Spark try_divide op-for-op (sequential IEEE folds feed
    # it; the denominator-zero → None guard precedes it); downstream
    # quantization is Decimal(repr)·HALF_UP — the exact Spark
    # Round(double, 6) algorithm, NOT Python round() (site comment).
    ("atac_data_products_spark/registry_scale.py", "similarity_mmr_rerank",
     "div-in-driver", "d / denom"): "identical-ieee",
}


def scan_all() -> list[dict]:
    flags: list[dict] = []
    for root in SCAN_ROOTS:
        p = REPO / root
        files = sorted(p.rglob("*.py")) if p.is_dir() else [p]
        for f in files:
            flags.extend(scan_file(f))
    return flags


def verdict(flags: list[dict]) -> tuple[list[str], list[str]]:
    keys = {(f["file"], f["scope"], f["construct"], f["snippet"]) for f in flags}
    violations = sorted(
        f"{k[0]}::{k[1]} [{k[2]}] {k[3]}" for k in keys if k not in EXEMPT
    )
    stale = sorted(
        f"{k[0]}::{k[1]} [{k[2]}] {k[3]}" for k in EXEMPT if k not in keys
    )
    return violations, stale


def main() -> int:
    flags = scan_all()
    if "--json" in sys.argv:
        print(json.dumps(flags, indent=1, sort_keys=True))
    else:
        for f in flags:
            k = (f["file"], f["scope"], f["construct"], f["snippet"])
            cls = EXEMPT.get(k, "** UNEXEMPTED **")
            print(
                f"{f['file']}:{f['lineno']} {f['scope']} "
                f"[{f['construct']}] {f['snippet']!r} -> {cls}"
            )
    violations, stale = verdict(flags)
    for v in violations:
        print(f"VIOLATION (unexempted python-lane construct): {v}",
              file=sys.stderr)
    for s in stale:
        print(f"STALE EXEMPTION (site no longer flagged): {s}", file=sys.stderr)
    print(
        f"\n{len(flags)} flags; {len(violations)} violations, "
        f"{len(stale)} stale exemptions",
        file=sys.stderr,
    )
    return 1 if (violations or stale) else 0


if __name__ == "__main__":
    raise SystemExit(main())
