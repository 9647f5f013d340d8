"""Spill-root resolution: the round-4 verdict's one latent correctness
hazard — parquet spills must never land on node-local /tmp when the
master is a real cluster (each executor would write to its OWN /tmp and
the follow-up spark.read.parquet would miss data)."""

import tempfile

import pytest

from atac_data_products_spark.spill import (
    _resolve_base,
    fixture_root,
    spill_root,
)


def test_conf_root_wins_everywhere():
    assert (
        _resolve_base("s3a://bucket/tmp/", "spark://m:7077", None, False)
        == "s3a://bucket/tmp"
    )
    assert (
        _resolve_base("s3a://bucket/tmp", "local[4]", "/wh", True)
        == "s3a://bucket/tmp"
    )


def test_local_master_falls_back_to_tempdir():
    assert _resolve_base(None, "local[32]", None, False) == (
        tempfile.gettempdir().rstrip("/")
    )
    assert _resolve_base(None, "local-cluster[2,2,1024]", None, False) == (
        tempfile.gettempdir().rstrip("/")
    )


def test_nonlocal_master_without_conf_skips_spill():
    # THE hazard case: yarn/k8s/standalone master, no adp.spill.root →
    # no node-local path may be invented; caller must skip the spill
    for master in ("spark://m:7077", "yarn", "k8s://https://host:6443"):
        assert _resolve_base(None, master, None, False) is None


def test_nonlocal_fixture_uses_warehouse_dir():
    # fixtures must be written somewhere; warehouse dir is shared storage
    assert (
        _resolve_base(None, "yarn", "hdfs:///user/hive/warehouse/", True)
        == "hdfs:///user/hive/warehouse"
    )
    assert _resolve_base(None, "yarn", None, True) is None


def test_spill_root_scoped_per_session_and_input(spark):
    p1 = spill_root(spark, "t1", "/data/sf1")
    p2 = spill_root(spark, "t1", "/data/sf2")
    p3 = spill_root(spark, "t2", "/data/sf1")
    assert p1 is not None and len({p1, p2, p3}) == 3
    # per-session scoping (round-4 ADVICE: concurrent sessions must not
    # overwrite each other's in-flight spills)
    assert spark.sparkContext.applicationId in p1
    # deterministic within a session: reruns overwrite, never accumulate
    assert spill_root(spark, "t1", "/data/sf1") == p1


def test_fixture_root_never_none_on_local(spark):
    p = fixture_root(spark, "fw", "/data/sf1")
    assert p.startswith(tempfile.gettempdir())


def test_spill_root_is_writable_and_readable(spark):
    path = spill_root(spark, "roundtrip", "/x")
    df = spark.range(100).selectExpr("id", "id * 2 AS v")
    df.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    assert back.count() == 100


def test_fixture_root_raises_without_any_base(monkeypatch):
    import atac_data_products_spark.spill as spill_mod

    class _FakeConf:
        def get(self, k, d=None):
            return {"spark.master": "yarn"}.get(k, d)

    class _FakeSC:
        applicationId = "app-x"

    class _FakeSpark:
        conf = _FakeConf()
        sparkContext = _FakeSC()

    with pytest.raises(RuntimeError, match="adp.spill.root"):
        spill_mod.fixture_root(_FakeSpark(), "t", "/x")
    assert spill_mod.spill_root(_FakeSpark(), "t", "/x") is None


def test_spill_root_conf_overrides_and_is_used(spark, tmp_path):
    """adp.spill.root set → spills land under it (the cluster knob)."""
    import os

    from atac_data_products_spark.spill import spill_root

    root = str(tmp_path / "shared")
    old = spark.conf.get("adp.spill.root", None)
    spark.conf.set("adp.spill.root", root)
    try:
        p = spill_root(spark, "conf_test", "/x")
        assert p.startswith(root)
        spark.range(10).write.mode("overwrite").parquet(p)
        assert spark.read.parquet(p).count() == 10
        assert os.path.isdir(root)
    finally:
        if old is None:
            spark.conf.unset("adp.spill.root")
        else:
            spark.conf.set("adp.spill.root", old)


def test_spill_disabled_conf(spark):
    from atac_data_products_spark.spill import spill_root

    spark.conf.set("adp.spill.enabled", "false")
    try:
        assert spill_root(spark, "t", "/x") is None
    finally:
        spark.conf.unset("adp.spill.enabled")


def test_session_spill_dir_cleanup_registered_and_stale_pruned(spark, tmp_path):
    """The session's spill dir is atexit-deleted and long-dead siblings
    are pruned at first spill (round-5 review: appId scoping must not
    leak one dir per session forever)."""
    import os
    import time

    import atac_data_products_spark.spill as spill_mod

    root = str(tmp_path / "spillbase")
    os.makedirs(root)
    # a stale sibling from a "dead" session
    stale = os.path.join(root, "adp_spill_app-dead-123")
    os.makedirs(stale)
    old = time.time() - 8 * 24 * 3600
    os.utime(stale, (old, old))
    # a fresh sibling (another live session) must survive
    fresh = os.path.join(root, "adp_spill_app-live-456")
    os.makedirs(fresh)

    spark.conf.set("adp.spill.root", root)
    try:
        p = spill_mod.spill_root(spark, "cleanup_test", "/x")
        assert p is not None
        assert not os.path.exists(stale), "stale session dir not pruned"
        assert os.path.exists(fresh), "live sibling must not be touched"
        sess = spill_mod._session_dir(root, spark)
        assert sess in spill_mod._CLEANUP_REGISTERED
    finally:
        spark.conf.unset("adp.spill.root")


def test_heartbeat_written_and_protects_idle_live_session(spark, tmp_path):
    """Round-5 ADVICE: dir mtime alone would let a concurrent pruner
    delete a >7-day-idle LIVE session's spill (reads don't bump mtime).
    spill_root must (a) refresh a _HEARTBEAT marker in our own session
    dir on every call, and (b) spare a sibling whose dir mtime is stale
    but whose heartbeat is fresh."""
    import os
    import time

    import atac_data_products_spark.spill as spill_mod

    root = str(tmp_path / "hbbase")
    os.makedirs(root)
    old = time.time() - 8 * 24 * 3600

    # sibling A: stale dir mtime but FRESH heartbeat (idle live session)
    idle_live = os.path.join(root, "adp_spill_app-idle-live")
    os.makedirs(idle_live)
    with open(os.path.join(idle_live, spill_mod._HEARTBEAT), "w"):
        pass
    os.utime(idle_live, (old, old))  # dir looks stale; heartbeat is now

    # sibling B: stale dir mtime AND stale heartbeat (truly dead)
    dead = os.path.join(root, "adp_spill_app-dead-hb")
    os.makedirs(dead)
    hb_dead = os.path.join(dead, spill_mod._HEARTBEAT)
    with open(hb_dead, "w"):
        pass
    os.utime(hb_dead, (old, old))
    os.utime(dead, (old, old))

    spark.conf.set("adp.spill.root", root)
    try:
        p = spill_mod.spill_root(spark, "hb_test", "/x")
        assert p is not None
        assert os.path.exists(idle_live), (
            "idle-but-live session (fresh heartbeat) must not be pruned"
        )
        assert not os.path.exists(dead), (
            "stale dir with stale heartbeat must still be pruned"
        )
        # our own session dir has a heartbeat after the call
        sess = spill_mod._session_dir(root, spark)
        assert os.path.exists(os.path.join(sess, spill_mod._HEARTBEAT))
        # a second call refreshes it (mtime strictly advances)
        t1 = os.path.getmtime(os.path.join(sess, spill_mod._HEARTBEAT))
        time.sleep(0.05)
        spill_mod.spill_root(spark, "hb_test2", "/x")
        t2 = os.path.getmtime(os.path.join(sess, spill_mod._HEARTBEAT))
        assert t2 >= t1
    finally:
        spark.conf.unset("adp.spill.root")


def test_heartbeat_daemon_thread_started(spark, tmp_path, monkeypatch):
    """Round-6 ADVICE: synchronous touches only cover path-RESOLUTION
    time; a session holding a resolved spill path for >7 days of lazy
    re-reads never called spill_root again.  A daemon thread must keep
    the marker fresh for the whole session lifetime."""
    import os
    import threading
    import time

    import atac_data_products_spark.spill as spill_mod

    root = str(tmp_path / "hb_thread")
    spark.conf.set("adp.spill.root", root)
    # shrink the interval so one refresh cycle happens inside the test
    monkeypatch.setattr(spill_mod, "_HEARTBEAT_INTERVAL_S", 0.05)
    # force a fresh thread registration for this session dir
    sess = spill_mod._session_dir(root, spark)
    spill_mod._HEARTBEAT_THREADS.discard(sess)
    try:
        spill_mod.spill_root(spark, "hb_thread", "/x")
        names = [t.name for t in threading.enumerate()]
        assert any(n.startswith("adp-spill-heartbeat-") for n in names), names
        hb = os.path.join(sess, spill_mod._HEARTBEAT)
        t1 = os.path.getmtime(hb)
        # WITHOUT any further spill_root call, the thread refreshes it
        deadline = time.time() + 5
        while time.time() < deadline:
            if os.path.getmtime(hb) > t1:
                break
            time.sleep(0.05)
        assert os.path.getmtime(hb) > t1, (
            "background thread did not refresh the heartbeat"
        )
        # registration is once-per-session-dir: a second call must not
        # spawn a second thread
        n_before = sum(
            1 for t in threading.enumerate()
            if t.name == f"adp-spill-heartbeat-{sess[-12:]}"
        )
        spill_mod.spill_root(spark, "hb_thread2", "/x")
        n_after = sum(
            1 for t in threading.enumerate()
            if t.name == f"adp-spill-heartbeat-{sess[-12:]}"
        )
        assert n_after == n_before
    finally:
        spark.conf.unset("adp.spill.root")


def test_spill_once_concurrent_callers_write_once(spark, tmp_path):
    """Round-12 concurrent-gate find: two registry keys share a spill
    tag (dedup_minhash_lsh / corpus_dedup_survivors both spill the LSH
    digest multiset), so under the concurrent gate two driver threads
    hit spill_once on ONE path — the unguarded check-then-write raced
    two mode("overwrite") jobs onto it.  The per-path lock must
    serialize: every caller sees the full dataset, the source is
    materialized exactly once."""
    import threading

    from atac_data_products_spark.spill import spill_once

    acc = spark.sparkContext.accumulator(0)

    def _count_rows(it):
        for x in it:
            acc.add(1)
            yield (x,)

    df = (
        spark.sparkContext.parallelize(range(100), 4)
        .mapPartitions(_count_rows)
        .toDF("v bigint")
    )
    path = str(tmp_path / "shared_spill")
    counts, errors = [], []

    def _worker():
        try:
            counts.append(spill_once(df, spark, path).count())
        except Exception as e:  # pragma: no cover - failure detail
            errors.append(e)

    threads = [threading.Thread(target=_worker) for _ in range(4)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert counts == [100, 100, 100, 100]
    # exactly one materialization of the source across all 4 callers
    assert acc.value == 100


def test_spill_once_records_write_seconds(spark, tmp_path):
    """The write-seconds ledger (r12 verdict: make the min-of-N-excluded
    spill write visible): the paying call records a positive duration
    under its path; the skipping call adds nothing."""
    import atac_data_products_spark.spill as spill_mod

    path = str(tmp_path / "ledger_spill")
    df = spark.range(100)
    assert path not in spill_mod.SPILL_WRITE_SECONDS
    before_total = spill_mod.spill_write_seconds_total()
    spill_mod.spill_once(df, spark, path)
    assert spill_mod.SPILL_WRITE_SECONDS[path] > 0
    first = spill_mod.SPILL_WRITE_SECONDS[path]
    assert spill_mod.spill_write_seconds_total() > before_total
    spill_mod.spill_once(df, spark, path)  # _SUCCESS exists: no write
    assert spill_mod.SPILL_WRITE_SECONDS[path] == first


def test_digest_shingles_rows_same_with_and_without_spill(spark, tmp_path):
    """digest_shingles is the LSH family's one shingle source: the lazy
    rows (no sf_dir), the spill-off rows and the spilled rows are the
    same (id, hash59 digest) multiset, and a second spilled call on the
    same (tag, sf_dir) scans the first call's write instead of writing."""
    import hashlib

    import atac_data_products_spark.spill as spill_mod
    from atac_data_products_spark.extensions.dedup import digest_shingles

    docs = spark.createDataFrame(
        [(1, "a b c d a b c"), (2, "x y z"), (3, "one two"), (4, "")],
        "doc_id bigint, text string",
    )
    sf_dir = str(tmp_path / "corpus")

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    lazy = rows(digest_shingles(docs))
    spark.conf.set("adp.spill.enabled", "false")
    try:
        off = rows(digest_shingles(docs, sf_dir))
    finally:
        spark.conf.unset("adp.spill.enabled")
    before = spill_mod.spill_write_seconds_total()
    on = rows(digest_shingles(docs, sf_dir))
    written = spill_mod.spill_write_seconds_total()
    again = rows(digest_shingles(docs, sf_dir))
    assert written > before
    assert spill_mod.spill_write_seconds_total() == written
    assert lazy == off == on == again

    def h59(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:15], 16)

    shingles = [(1, "a b c"), (1, "b c d"), (1, "c d a"), (1, "d a b"),
                (1, "a b c"), (2, "x y z")]
    assert lazy == sorted((i, h59(s)) for i, s in shingles)
