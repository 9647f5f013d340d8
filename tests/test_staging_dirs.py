"""Registry keys that write to disk keep their files under one
per-process staging root (registry._staging_dir), and the root is
removed when the interpreter exits, so building keys over and over
leaves nothing behind in the temp dir."""

from __future__ import annotations

import os
import subprocess
import sys
import tempfile

from atac_data_products_spark import registry
from tests.conftest import REPO, SF_SMALL

SINK_KEYS = [
    "sink_tsv",
    "sink_metadata_json",
    "sink_orc_roundtrip",
    "sink_partitioned_pruned",
    "sink_product_dir",
]


def test_sink_keys_write_under_the_staging_root(spark, tmp_path, monkeypatch):
    import __spark_entry__ as e

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(registry, "_STAGING_ROOT", None)
    qs = e.queries()
    for k in SINK_KEYS:
        # twice: each call gets its own output dir under the root
        assert qs[k](spark, SF_SMALL).count() == qs[k](spark, SF_SMALL).count()
    root = os.path.basename(registry._STAGING_ROOT or "")
    assert {p.name for p in tmp_path.iterdir()} - {root} == set()


def test_staging_root_removed_at_exit(tmp_path):
    out = subprocess.run(
        [
            sys.executable,
            "-c",
            "from atac_data_products_spark import registry\n"
            "print(registry._staging_dir('probe'))",
        ],
        cwd=REPO,
        env={**os.environ, "TMPDIR": str(tmp_path)},
        capture_output=True,
        text=True,
        check=True,
    )
    probe = out.stdout.strip().splitlines()[-1]
    assert probe.startswith(str(tmp_path))
    assert not os.path.exists(os.path.dirname(probe))
    assert list(tmp_path.iterdir()) == []
