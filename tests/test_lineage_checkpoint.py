"""Fault-tolerant lineage-checkpoint contract (round 10).

The executor-SIGKILL chaos sweep proved ``localCheckpoint`` blocks die
with their executor and take the query down
(CHECKPOINT_RDD_BLOCK_ID_NOT_FOUND — docs/SCALE_SWEEP.md round-10
addendum).  ``spill.lineage_checkpoint`` routes every lineage
truncation through a conf switch: reliable ``df.checkpoint()`` under
``adp.checkpoint.root``, ``localCheckpoint`` otherwise.  These tests
pin the switch itself; the end-to-end recovery proof is the chaos
sweep (25 executor kills, 345/345).
"""

from __future__ import annotations

import glob
import os

import pytest
from pyspark.sql import functions as F

from atac_data_products_spark.spill import (
    ckpt_eager,
    ckpt_lazy,
    lineage_checkpoint,
    release_checkpoint,
)


@pytest.fixture()
def ckpt_root(spark, tmp_path):
    root = str(tmp_path / "ckpt")
    os.mkdir(root)
    spark.conf.set("adp.checkpoint.root", root)
    try:
        yield root
    finally:
        spark.conf.unset("adp.checkpoint.root")


def _demo(spark):
    return spark.range(0, 100, 1, 4).select(
        "id", (F.col("id") % 7).alias("k")
    )


def test_default_mode_is_local_checkpoint(spark):
    # no conf -> localCheckpoint: nothing may be written to any
    # checkpoint dir, and values are unchanged
    assert spark.conf.get("adp.checkpoint.root", None) is None
    out = lineage_checkpoint(_demo(spark))
    assert out.count() == 100
    assert sorted(r.k for r in out.where("id < 3").collect()) == [0, 1, 2]


def test_reliable_mode_writes_to_the_conf_root(spark, ckpt_root):
    out = _demo(spark).transform(ckpt_eager)
    assert out.count() == 100
    # eager reliable checkpoint materializes partition files under the
    # conf root (this is what survives an executor SIGKILL)
    files = glob.glob(os.path.join(ckpt_root, "**", "part-*"), recursive=True)
    assert files, "reliable mode wrote no checkpoint partitions"
    # and the data read back from the checkpoint is intact
    assert out.agg(F.sum("id")).collect()[0][0] == 4950


def test_lazy_variant_materializes_on_first_action(spark, ckpt_root):
    out = _demo(spark).transform(ckpt_lazy)
    assert out.groupBy("k").count().count() == 7


def test_values_identical_across_modes(spark, ckpt_root):
    reliable = lineage_checkpoint(_demo(spark)).collect()
    spark.conf.unset("adp.checkpoint.root")
    local = lineage_checkpoint(_demo(spark)).collect()
    spark.conf.set("adp.checkpoint.root", ckpt_root)  # fixture unsets
    assert sorted(map(tuple, reliable)) == sorted(map(tuple, local))


def _rdd_dirs(root):
    return set(glob.glob(os.path.join(root, "**", "rdd-*"), recursive=True))


def test_release_checkpoint_deletes_reliable_files(spark, ckpt_root):
    # unpersist() alone leaks reliable checkpoint FILES (cleanCheckpoints
    # defaults to false) — release_checkpoint must delete the superseded
    # generation's directory so iterative operators stay O(live
    # generations) on shared storage, not O(iterations). (ADVICE r10)
    out = _demo(spark).transform(ckpt_eager)
    assert out.count() == 100
    before = _rdd_dirs(ckpt_root)
    assert before, "eager reliable checkpoint wrote no rdd-* dir"
    release_checkpoint(out)
    assert _rdd_dirs(ckpt_root) == set(), "checkpoint files survived release"


def test_release_checkpoint_noop_on_plain_frames(spark, ckpt_root):
    # non-checkpoint frames and localCheckpoint results (no files) must
    # degrade to plain unpersist without raising
    release_checkpoint(_demo(spark))
    spark.conf.unset("adp.checkpoint.root")
    local = lineage_checkpoint(_demo(spark))
    assert local.count() == 100
    release_checkpoint(local)
    spark.conf.set("adp.checkpoint.root", ckpt_root)  # fixture unsets


def test_root_change_mid_session_redirects(spark, ckpt_root, tmp_path):
    # changing adp.checkpoint.root mid-session must redirect new
    # checkpoints to the NEW root — the conf is the source of truth,
    # not whichever setCheckpointDir call happened first (ADVICE r10)
    first = _demo(spark).transform(ckpt_eager)
    assert first.count() == 100
    assert _rdd_dirs(ckpt_root)
    new_root = str(tmp_path / "ckpt2")
    os.mkdir(new_root)
    spark.conf.set("adp.checkpoint.root", new_root)
    try:
        second = _demo(spark).transform(ckpt_eager)
        assert second.count() == 100
        assert _rdd_dirs(new_root), "checkpoint did not follow the conf change"
    finally:
        spark.conf.set("adp.checkpoint.root", ckpt_root)
