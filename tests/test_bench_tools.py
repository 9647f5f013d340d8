"""Tests for the bench tooling: tools/bench_diff.py flag logic (no Spark
needed) and the shared measurement code in tools/measure.py.

The multi-lens flagging rule requires every normalization lens to agree.
r12 advisor find: a regressed key that is itself a member of the mid
variance index inflates the mid index with its own regression and
self-masks its mid-normalized lens — a key dominating the index could
never be flagged.  The fix recomputes the mid ratio leave-one-out (the
index is sum(queries[k]) so the key's own contribution subtracts out).
"""

from __future__ import annotations

import json
import sys

import pandas as pd
import pytest

from tools import bench_diff
from tools.measure import sweep, time_key


def _write(tmp_path, name, queries, vi_keys, mid_keys):
    vi = round(sum(queries[k] for k in vi_keys), 3)
    vim = round(sum(queries[k] for k in mid_keys), 3)
    doc = {
        "metric": "bench",
        "value": sum(queries.values()),
        "unit": "sec",
        "sf": 0.1,
        "queries": queries,
        "variance_index": vi,
        "variance_index_keys": vi_keys,
        "variance_index_mid": vim,
        "variance_index_mid_keys": mid_keys,
    }
    p = tmp_path / name
    p.write_text(json.dumps(doc))
    return str(p)


def test_mid_index_key_cannot_self_mask(tmp_path, monkeypatch, capsys):
    """m1 dominates the mid index and regresses 3x.  With the all-in mid
    ratio its own regression inflates the index (31/11 = 2.82) so the
    mid lens reads 3.0/2.82 = 1.06 — under the pre-r12 rule the key
    could never flag.  Leave-one-out removes m1 from both sides
    ((31-30)/(11-10) = 1.0) and the flag survives every lens."""
    vi_keys = ["t1"]
    mid_keys = ["m1", "m2"]
    old = _write(
        tmp_path, "old.json",
        {"t1": 0.1, "m1": 10.0, "m2": 1.0, "q1": 1.0}, vi_keys, mid_keys,
    )
    new = _write(
        tmp_path, "new.json",
        {"t1": 0.1, "m1": 30.0, "m2": 1.0, "q1": 1.0}, vi_keys, mid_keys,
    )
    monkeypatch.setattr(sys, "argv", ["bench_diff.py", old, new])
    rc = bench_diff.main()
    out = capsys.readouterr().out
    assert rc == 1
    assert "REGRESSIONS (1): ['m1']" in out
    assert "leave-one-out" in out


def test_unchanged_keys_do_not_flag(tmp_path, monkeypatch, capsys):
    vi_keys = ["t1"]
    mid_keys = ["m1", "m2"]
    old = _write(
        tmp_path, "old.json",
        {"t1": 0.1, "m1": 10.0, "m2": 1.0, "q1": 1.0}, vi_keys, mid_keys,
    )
    new = _write(
        tmp_path, "new.json",
        {"t1": 0.1, "m1": 10.1, "m2": 1.0, "q1": 1.05}, vi_keys, mid_keys,
    )
    monkeypatch.setattr(sys, "argv", ["bench_diff.py", old, new])
    rc = bench_diff.main()
    out = capsys.readouterr().out
    assert rc == 0
    assert "REGRESSED" not in out


def test_json_report_full_width(tmp_path, monkeypatch):
    """--json emits a driver-style per-query prev/now/speedup record for
    EVERY common key (r12 verdict: the 5-key PERF window is a noise
    lottery; the committed artifacts must carry the full-width,
    load-normalized diff)."""
    vi_keys = ["t1"]
    mid_keys = ["m1", "m2"]
    old = _write(
        tmp_path, "old.json",
        {"t1": 0.2, "m1": 10.0, "m2": 1.0, "q1": 2.0, "q2": 1.0},
        vi_keys, mid_keys,
    )
    new = _write(
        tmp_path, "new.json",
        # host 2x more loaded (t1 doubles); q1 genuinely halves raw
        {"t1": 0.4, "m1": 20.0, "m2": 2.0, "q1": 2.0, "q2": 2.0},
        vi_keys, mid_keys,
    )
    out = tmp_path / "report.json"
    monkeypatch.setattr(
        sys, "argv", ["bench_diff.py", old, new, "--json", str(out)]
    )
    rc = bench_diff.main()
    assert rc == 0
    doc = json.loads(out.read_text())
    assert doc["n_common"] == 5
    assert set(doc["per_query"]) == {"t1", "m1", "m2", "q1", "q2"}
    q1 = doc["per_query"]["q1"]
    # raw parity, but the 2x variance-index lens normalizes it to a 2x
    # improvement (speedup = prev/now convention, >1 is faster)
    assert q1["speedup"] == 1.0
    assert q1["speedup_norm"] == 2.0
    assert q1["status"] == "improved"
    # unchanged-under-load keys read flat after normalization
    assert doc["per_query"]["q2"]["speedup_norm"] == 1.0
    assert doc["per_query"]["q2"]["status"] == "flat"
    assert doc["geomean_speedup_norm"] > 1.0
    assert doc["variance_index_ratio"] == 2.0


def test_json_report_marks_new_and_gone(tmp_path, monkeypatch):
    vi_keys = ["t1"]
    old = _write(tmp_path, "o.json", {"t1": 0.2, "gone_q": 1.0}, vi_keys, [])
    new = _write(tmp_path, "n.json", {"t1": 0.2, "new_q": 1.0}, vi_keys, [])
    out = tmp_path / "r.json"
    monkeypatch.setattr(
        sys, "argv", ["bench_diff.py", old, new, "--json", str(out)]
    )
    bench_diff.main()
    doc = json.loads(out.read_text())
    assert doc["per_query"]["gone_q"]["status"] == "gone"
    assert doc["per_query"]["new_q"]["status"] == "new"
    assert doc["n_common"] == 1


def test_sweep_conf_parses_pairs_and_rejects_bare_segments(monkeypatch):
    """ADP_SWEEP_CONF is parsed in one place: whitespace is stripped,
    empty segments are ignored, and a segment without '=' (a value
    split at its comma) is an error instead of a silent drop."""
    from atac_data_products_spark.session import sweep_conf

    monkeypatch.delenv("ADP_SWEEP_CONF", raising=False)
    assert sweep_conf() == {}
    monkeypatch.setenv("ADP_SWEEP_CONF", " a.b = 1 ,, c=x=y ,")
    assert sweep_conf() == {"a.b": "1", "c": "x=y"}
    monkeypatch.setenv("ADP_SWEEP_CONF", "spark.master=local-cluster[2,8,8192]")
    with pytest.raises(ValueError, match="'8'"):
        sweep_conf()


def test_default_driver_memory_is_half_the_host_capped(tmp_path):
    """The driver heap defaults to half of MemTotal in whole GiB, at
    least 1g and at most 24g, and to 24g where meminfo is unreadable."""
    from atac_data_products_spark.session import default_driver_memory

    meminfo = tmp_path / "meminfo"
    for kib, want in [(16456384, "7g"), (1 << 20, "1g"), (256 << 20, "24g")]:
        meminfo.write_text(f"MemTotal:       {kib} kB\nMemFree:  1 kB\n")
        assert default_driver_memory(str(meminfo)) == want
    assert default_driver_memory(str(tmp_path / "missing")) == "24g"


def test_sweep_reports_each_key_and_fails_on_drift_or_error(capsys):
    """Both settings run through normalize, so row order and column
    order do not count as drift; a changed value does, and an exception
    under either setting is an ERR line, not a crash."""
    frames = {
        "same": (pd.DataFrame({"b": [2, 1], "a": ["y", "x"]}),
                 pd.DataFrame({"a": ["x", "y"], "b": [1, 2]})),
        "moved": (pd.DataFrame({"v": [1.0]}), pd.DataFrame({"v": [1.5]})),
    }

    def run(key, setting):
        if key == "boom" and setting == "flipped":
            raise ValueError("bad input\nsecond line")
        return frames.get(key, frames["same"])[setting == "flipped"]

    rc = sweep(["same", "moved", "boom"], run, ("base", "flipped"))
    out = capsys.readouterr().out.splitlines()
    assert out[:3] == [
        "[1/3] same: ok",
        "[2/3] moved: DRIFT",
        "[3/3] boom: ERR ValueError: bad input",
    ]
    assert "1/3 invariant" in out
    assert "DRIFT: moved" in out
    assert "ERRORS: boom" in out
    assert rc == 1

    assert sweep(["boom"], run, ("base", "flipped")) == 1
    assert sweep(["same"], run, ("base", "flipped")) == 0
    assert capsys.readouterr().out.splitlines()[-1] == "1/1 invariant"


def test_time_key_times_each_run_and_leaves_no_cache(spark):
    """One time per iteration, and a .cache() inside build() is dropped after
    every run, so runs stay cold and nothing leaks into the next key.  Each
    run also reports the classes it compiled: the first run of a plan no
    session has seen compiles its own, the later runs reuse them."""
    built = []

    def build():
        # codegen inlines the literal: one no other test uses makes the
        # first run's classes new to the session
        df = spark.range(100).selectExpr("id % 7919 AS k").cache()
        built.append(df)
        return df

    runs, spill_runs, compiled = time_key(spark, build, 3)
    assert len(runs) == len(spill_runs) == len(compiled) == len(built) == 3
    assert all(t >= 0 for t in runs)
    assert compiled[0] > 0
    assert compiled[1:] == [0, 0]
    assert spark._jsparkSession.sharedState().cacheManager().isEmpty()
