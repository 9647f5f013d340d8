"""Arrow batch-boundary determinism battery.

Every Pandas-UDF seam (``mapInPandas`` / ``applyInPandas``) receives
its input as a STREAM of Arrow record batches whose sizes are an
execution detail: locally the default is
``spark.sql.execution.arrow.maxRecordsPerBatch = 10000`` so a whole
sf0.001 table arrives as one batch per partition, but on a real
cluster the batch shape is set by partition sizes, memory pressure,
and operator fusion — none of which the query controls.  A seam whose
output depends on WHERE the batch boundaries fall (per-batch counters,
cross-batch accumulators, "first row of the batch" logic, per-batch
dedup) is oracle-green locally and silently wrong at 100 TB.

This battery re-runs every registry key that crosses the Arrow seam
(the ARROW_ALLOWLIST set from test_plan_shapes.py, minus the two
file-writing h5mu sinks whose outputs are round-tripped byte-for-byte
in test_h5mu.py) under the default batch size and again under
``maxRecordsPerBatch = 3`` — hundreds of tiny batches at 500+ input
rows — and requires bit-identical normalized output.

applyInPandas keys are included even though Spark hands each GROUP to
the UDF whole: the conf still reshapes the Arrow transfer, and the
guarantee "group never split" is exactly the kind of assumption this
battery exists to pin.
"""

from __future__ import annotations

import pytest

from tests.test_plan_shapes import ARROW_ALLOWLIST
from tools.check_correctness import normalize

SF = "/root/testdata/sf0.001"

# Every Arrow-crossing registry key (tests/test_plan_shapes.py
# ARROW_ALLOWLIST) that returns a comparable DataFrame.  Keep in sync:
# the cross-check test below fails if the allowlist gains a key this
# battery doesn't cover.
ARROW_KEYS = [
    "ml_score_batch",              # batch inference; logistic scores
    "multimodal_avi_demux",        # RIFF/AVI container walk per row
    "multimodal_byte_features",    # rolling byte stats per payload
    "multimodal_frame_sample",     # deterministic frame subsample
    "multimodal_media_pipeline",   # sniff -> route -> all three codecs
    "multimodal_png_decode",       # stdlib inflate + unfilter per row
    "multimodal_wav_decode",       # PCM stats per payload
    "scan_h5ad",                   # HDF5 ingest through the codec seam
    "scan_h5ad_codec",             # raw-byte HDF5 decode
    "scan_parquet_rowgroup_stats", # footer parse over file listing
    "sessionize_apply_in_pandas",  # stateful per-user session walk
    "vector_gram_int8",            # per-batch Q^T Q partials + integer sum
]

# Arrow-seam keys deliberately not run here, with the reason.
EXEMPT = {
    "sink_h5mu_file": "writes a file; byte-level round-trip in test_h5mu.py",
    "sink_h5mu_file_gzip": "writes a file; gzip round-trip in test_h5mu.py",
}

BATCH_CONF = "spark.sql.execution.arrow.maxRecordsPerBatch"


@pytest.fixture(scope="module")
def harness(spark):
    import __spark_entry__ as entry

    return spark, entry.queries(), normalize


def _run(spark, fn, batch_size, normalize):
    saved = spark.conf.get(BATCH_CONF)
    try:
        spark.conf.set(BATCH_CONF, str(batch_size))
        return normalize(fn(spark, SF).toPandas())
    finally:
        spark.conf.set(BATCH_CONF, saved)


@pytest.mark.parametrize("key", ARROW_KEYS)
def test_result_independent_of_arrow_batch_size(key, harness):
    spark, queries, normalize = harness
    fn = queries[key]
    big = _run(spark, fn, 10000, normalize)
    tiny = _run(spark, fn, 3, normalize)
    assert big.shape == tiny.shape, (
        f"{key}: row/column count changed with Arrow batch size "
        f"({big.shape} vs {tiny.shape}) — the seam is batch-boundary-"
        f"dependent and will drift on a cluster"
    )
    if not big.equals(tiny):
        diff = big.compare(tiny)
        raise AssertionError(
            f"{key}: values drift with Arrow batch size; first diffs:\n"
            f"{diff.head(10)}"
        )


def test_battery_covers_every_arrow_seam():
    """If a new Arrow seam lands (ARROW_ALLOWLIST grows), it must be
    added here (or explicitly exempted with a reason) — batch-boundary
    invariance is part of an Arrow seam's definition of done."""
    allow = set(ARROW_ALLOWLIST)
    covered = set(ARROW_KEYS) | set(EXEMPT)
    missing = allow - covered
    assert not missing, (
        f"Arrow seams without batch-invariance coverage: {sorted(missing)}"
    )
    stale = covered - allow
    assert not stale, (
        f"battery lists keys no longer in ARROW_ALLOWLIST: {sorted(stale)}"
    )
