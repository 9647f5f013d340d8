"""Build each registry key's plan once and keep its plan texts: the
static scanners (plan_shape_scan, quantization_scan,
nondeterminism_scan) are pure functions of what `capture` returns."""

from __future__ import annotations

import contextlib
import io
import re

# untruncated plan texts: past this many fields Spark prints
# "... N more fields", hiding the bindings and markers scanned for
FIELDS_CONF = "spark.sql.debug.maxToStringFields"


def formatted(df) -> str:
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def nodes(plan: str, name: str) -> int:
    # node headers print as "(n) Name" (the tree echoes each node too,
    # as `+- Name (n)` — counting headers avoids double counting)
    return len(re.findall(rf"^\(\d+\) {name}\b", plan, re.M))


def capture(spark, qs, keys, sf_dir) -> dict:
    """{key: {"analyzed": str, "formatted": str} | {"err": str}}, each
    key built once.  Relations a key caches stay cached for later keys,
    as in a driver session."""
    prev = spark.conf.get(FIELDS_CONF, None)
    spark.conf.set(FIELDS_CONF, "100000")
    out: dict[str, dict] = {}
    try:
        for key in keys:
            try:
                df = qs[key](spark, sf_dir)
                out[key] = {
                    "analyzed": df._jdf.queryExecution().analyzed().toString(),
                    "formatted": formatted(df),
                }
            except Exception as ex:  # noqa: BLE001 — report, don't abort
                out[key] = {"err": f"{type(ex).__name__}: {ex}"[:300]}
    finally:
        if prev is None:
            spark.conf.unset(FIELDS_CONF)
        else:
            spark.conf.set(FIELDS_CONF, prev)
    return out
