"""Full-registry hostile-input sweep, recorded as a dated artifact.

Promotes the round-7 manual closing tally (VERDICT r07 task 3) to a
repeatable gate.  Two passes over the adversarial fixture
(tools/hostile_fixture.py), every registry key through the live DuckDB
comparator each time:

1. WITHOUT the case-trap docs (Turkish İ / Greek final sigma): every
   key must be OK — zero divergence tolerated.
2. WITH them: the divergent key set must equal CASE_MAPPING_EXEMPT
   EXACTLY.  A key missing from the failures means the exemption list
   is stale (over-exempting); an extra failure means a new divergence
   is hiding behind the documented one.  Both directions fail the scan.

Writes docs/HOSTILE_SWEEP.md (date, git rev, counts, runtime, the
assertion results) and exits non-zero on any violation.

    python tools/hostile_scan.py            # full registry, both passes
    python tools/hostile_scan.py --no-artifact
    python tools/hostile_scan.py key1 key2  # subset (no artifact)

The per-suite fast battery (51 risk keys, pass-1 fixture only) is
tests/test_hostile_parity.py; THIS scan is the completeness record.
"""

from __future__ import annotations

import subprocess
import sys
import tempfile
import time
from datetime import date
from pathlib import Path

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

from tools.check_correctness import compare, duck_connect  # noqa: E402


def run_pass(spark, queries, oracles, sf_dir: str, keys) -> dict:
    """{key: verdict-first-line}; 'OK' / 'OK (0 rows)' / 'rows-only: N' /
    failure text."""
    con = duck_connect(sf_dir)
    out: dict[str, str] = {}
    for key in keys:
        try:
            sdf = queries[key](spark, sf_dir).toPandas()
        except Exception as e:  # noqa: BLE001 - verdict, not control flow
            out[key] = f"SPARK ERROR: {type(e).__name__}: {e}"
            continue
        if key not in oracles:
            out[key] = f"rows-only: {len(sdf)}"
            continue
        try:
            odf = con.execute(oracles[key]).df()
        except Exception as e:  # noqa: BLE001
            out[key] = f"ORACLE ERROR: {type(e).__name__}: {e}"
            continue
        verdict = compare(key, sdf, odf).splitlines()[0]
        # both engines empty: the check passes but shows nothing
        out[key] = f"{verdict} (0 rows)" if verdict == "OK" and not len(sdf) else verdict
    con.close()
    return out


def main() -> int:
    args = [a for a in sys.argv[1:] if not a.startswith("--")]
    write_artifact = "--no-artifact" not in sys.argv[1:] and not args

    import __spark_entry__ as entry
    from tools import hostile_fixture as hf
    from atac_data_products_spark.session import get_spark

    queries, oracles = entry.queries(), entry.oracle_sql()
    keys = args or sorted(queries)
    spark = get_spark("hostile-scan")

    t0 = time.time()
    with tempfile.TemporaryDirectory(prefix="hostile_scan_") as tmp:
        clean_dir, trap_dir = f"{tmp}/clean", f"{tmp}/traps"
        hf.build(clean_dir, include_case_traps=False)
        hf.build(trap_dir, include_case_traps=True)

        print(f"pass 1: {len(keys)} keys, case-trap docs EXCLUDED")
        p1 = run_pass(spark, queries, oracles, clean_dir, keys)
        p1_bad = {k: v for k, v in p1.items() if not v.startswith(("OK", "rows-only"))}
        for k, v in p1_bad.items():
            print(f"  FAIL {k}: {v}")
        print(f"pass 1: {len(keys) - len(p1_bad)}/{len(keys)} clean")

        print(f"pass 2: {len(keys)} keys, case-trap docs INCLUDED")
        p2 = run_pass(spark, queries, oracles, trap_dir, keys)
        p2_bad = {k for k, v in p2.items() if not v.startswith(("OK", "rows-only"))}

    elapsed = time.time() - t0
    expected = hf.CASE_MAPPING_EXEMPT & set(keys)
    extra = sorted(p2_bad - expected)
    stale = sorted(expected - p2_bad)
    rows_only = sorted(k for k, v in p1.items() if v.startswith("rows-only"))
    empty = sorted(k for k, v in p1.items() if v.endswith("(0 rows)"))
    ok = not p1_bad and not extra and not stale

    print(f"pass 2 divergent: {len(p2_bad)} (expected exemptions: {len(expected)})")
    if extra:
        print(f"  EXTRA divergence beyond the exemption list: {extra}")
    if stale:
        print(f"  STALE exemptions (no longer diverge): {stale}")
    print(f"pass 1 graded on 0 rows in both engines: {len(empty)} {empty}")
    print(f"{'CLEAN' if ok else 'VIOLATIONS'} in {elapsed:.0f}s")

    if write_artifact and not args:
        rev = subprocess.run(
            ["git", "rev-parse", "--short", "HEAD"],
            cwd=REPO, capture_output=True, text=True,
        ).stdout.strip()
        art = REPO / "docs" / "HOSTILE_SWEEP.md"
        art.write_text(f"""# Hostile-input sweep record

Generated by `python tools/hostile_scan.py` — do not hand-edit.

- date: {date.today().isoformat()}
- git: {rev}
- keys swept: {len(keys)} (full registry), {len(rows_only)} rows-only
- runtime: {elapsed:.0f}s ({elapsed / max(len(keys), 1) / 2:.1f}s/key/pass, one local[32] session)

## Pass 1 — case-trap docs excluded

Every key's Spark plan vs its DuckDB oracle on the adversarial fixture
(hostile Unicode documents + NULL rows, hostile embeddings, hostile
events — tools/hostile_fixture.py).

**{len(keys) - len(p1_bad)}/{len(keys)} clean.**{"" if not p1_bad else chr(10) + chr(10) + chr(10).join(f"- FAIL `{k}`: {v}" for k, v in sorted(p1_bad.items()))}

Graded on 0 rows in both engines (the check passes but shows nothing):
{len(empty)} keys{": " + ", ".join(f"`{k}`" for k in empty) if empty else ""}.

## Pass 2 — case-trap docs included (exemption-list exactness)

The full/simple Unicode case-mapping checker divergence
(docs/OPERATIONS.md) must account for EVERY divergence — the failing
set must equal `CASE_MAPPING_EXEMPT` in both directions.

- divergent keys: {len(p2_bad)}; exemption list: {len(expected)}
- extra (beyond list): {extra if extra else "none"}
- stale (listed, no longer diverge): {stale if stale else "none"}

**Verdict: {"CLEAN — the exemption list is exactly the divergence set" if ok else "VIOLATIONS (see above)"}.**
""")
        print(f"artifact -> {art}")
    return 0 if ok else 1


if __name__ == "__main__":
    sys.exit(main())
