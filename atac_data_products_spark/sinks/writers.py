"""Product / manifest sinks (SURVEY.md §2.8).

The reference hands artifacts between CWL steps via output globs
(steps/concatenate.cwl:29-40) and uploads with shelled-out aws-cli
(bin/upload.py:9-22).  Here a *data product* is a directory of Parquet
tables (SURVEY.md §1.4) written idempotently (overwrite-by-product-dir),
with `_SUCCESS` markers replacing the reference's `finished.txt`
sentinel (bin/upload.py:37-39).  S3 deployment is the same code path —
`s3a://` URIs + Hadoop credentials config, never `os.system("aws …")`
(§2.11 quirk 7).
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame


def write_manifest_tsv(df: DataFrame, path: str) -> None:
    """Manifest TSV sink (make_uuids_tsv.py:164) — header, tab-separated,
    and WITHOUT the positional index column (the `Unnamed: 0` artifact,
    §2.11)."""
    df.coalesce(1).write.options(sep="\t", header=True).mode("overwrite").csv(path)


def write_product(
    out_dir: str,
    obs: DataFrame,
    modalities: dict[str, tuple[DataFrame, DataFrame]],
    metadata: dict,
) -> None:
    """Write one data product:

      out_dir/
        obs/                     cell metadata (small)
        x_<modality>/            long/COO matrix, partitioned by dataset
        var_<modality>/          feature metadata
        product.json             metadata record (create_json parity,
                                 bin/concatenate.py:81-96)

    Matrix tables partition by `dataset` so downstream per-dataset access
    prunes partitions — the same access pattern the reference hardcodes
    as per-directory file reads (bin/concatenate.py:124-136).
    """
    obs.write.mode("overwrite").parquet(_join_uri(out_dir, "obs"))
    for modality, (x, var) in modalities.items():
        # sort within files by the row key so parquet row-group min/max
        # statistics prune per-cell reads inside each dataset partition
        (
            x.sortWithinPartitions("dataset", "cell_id")
            .write.mode("overwrite")
            .partitionBy("dataset")
            .parquet(_join_uri(out_dir, f"x_{modality}"))
        )
        # var partitions by dataset too, so incremental re-adds can
        # replace exactly one dataset's feature contribution via dynamic
        # partition overwrite
        (
            var.write.mode("overwrite")
            .partitionBy("dataset")
            .parquet(_join_uri(out_dir, f"var_{modality}"))
        )
    # product.json goes through the Hadoop FileSystem API, not a local
    # open(): the SAME write_product call then works against any
    # configured filesystem URI (file://, hdfs://, s3a:// + credentials
    # in the Hadoop conf) — the reference's upload step (bin/upload.py)
    # becomes a URI choice, not a separate code path.
    _write_text_uri(
        obs.sparkSession,
        _join_uri(out_dir, "product.json"),
        json.dumps(metadata, indent=2, sort_keys=True),
    )


def _csr_from_coo(pdf):
    """Vectorized CSR assembly from a long COO pandas frame with columns
    (cell_id, feature_id, value), for the h5mu container sink.

    Duplicate (cell_id, feature_id) entries are SUMMED first — the
    scipy/anndata duplicate-coalescing convention — so a union of
    per-dataset contributions round-trips to the same matrix every
    consumer sees.  Categorical codes + bincount replace the old
    per-barcode filter loop (O(cells × rows)); rows are sorted by
    (cell_id, feature_id) so codes arrive CSR-ordered.

    Returns (barcodes, features, data float64, indices int32,
    indptr int64)."""
    import numpy as np
    import pandas as pd

    pdf = (
        pdf.groupby(["cell_id", "feature_id"], as_index=False)["value"]
        .sum()
        .sort_values(["cell_id", "feature_id"], ignore_index=True)
    )
    barcodes = sorted(pdf["cell_id"].unique().tolist())
    features = sorted(pdf["feature_id"].unique().tolist())
    cell_codes = pd.Categorical(pdf["cell_id"], categories=barcodes).codes
    feat_codes = pd.Categorical(pdf["feature_id"], categories=features).codes
    counts = np.bincount(cell_codes, minlength=len(barcodes))
    indptr = np.concatenate([[0], np.cumsum(counts)]).astype("int64")
    return (
        barcodes,
        features,
        pdf["value"].to_numpy(dtype="float64"),
        feat_codes.astype("int32"),
        indptr,
    )


def _join_uri(base: str, *parts: str) -> str:
    """Path join that is safe for URIs as well as local paths (always
    '/' separated; never os.sep-dependent)."""
    return "/".join([base.rstrip("/"), *parts])


# Driver-side file helpers over the Hadoop FileSystem for a path's
# scheme, so file://, hdfs:// and s3a:// all work.  They run no Spark
# job and are for small files (metadata, the .h5mu blob), never bulk data.


def _hadoop_path(spark, path: str):
    """(FileSystem, Path) for `path`."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    return jpath.getFileSystem(spark._jsc.hadoopConfiguration()), jpath


def _write_bytes_uri(spark, path: str, content: bytes) -> None:
    """Write `content` to `path`, overwriting it."""
    fs, jpath = _hadoop_path(spark, path)
    out = fs.create(jpath, True)
    try:
        out.write(bytearray(content))
    finally:
        out.close()


def _write_text_uri(spark, path: str, content: str) -> None:
    """Write `content` to `path` as UTF-8, overwriting it."""
    _write_bytes_uri(spark, path, content.encode("utf-8"))


def _read_text_uri(spark, path: str) -> str:
    """Read the UTF-8 text file at `path`."""
    fs, jpath = _hadoop_path(spark, path)
    buf = spark._jvm.java.io.ByteArrayOutputStream()
    inp = fs.open(jpath)
    try:
        spark._jvm.org.apache.hadoop.io.IOUtils.copyBytes(inp, buf, 65536, False)
    finally:
        inp.close()
    return bytes(buf.toByteArray()).decode("utf-8")


def _delete_uri(spark, path: str) -> None:
    """Recursively delete `path` (no-op if absent)."""
    fs, jpath = _hadoop_path(spark, path)
    if fs.exists(jpath):
        fs.delete(jpath, True)


def _check_h5mu_row_alignment(
    name: str, barcodes: list, obs_index: list
) -> None:
    """CSR row-alignment invariant for the h5mu container: each
    modality's row axis must equal the shared obs index exactly.  A real
    raise, not an assert — asserts vanish under ``python -O``, and a
    caller bypassing the intersect semantics would otherwise write
    silently misaligned obsmap/X rows (round-5 ADVICE)."""
    if barcodes != obs_index:
        # pinpoint the first divergence: lengths alone are confusing for
        # the same-length/different-ORDER case this guard also catches
        # (round-6 ADVICE)
        pos = next(
            (
                i
                for i, (b, o) in enumerate(zip(barcodes, obs_index))
                if b != o
            ),
            min(len(barcodes), len(obs_index)),
        )
        b_at = barcodes[pos] if pos < len(barcodes) else "<end>"
        o_at = obs_index[pos] if pos < len(obs_index) else "<end>"
        raise ValueError(
            f"h5mu modality {name!r}: CSR row axis does not match the "
            f"shared obs index ({len(barcodes)} vs {len(obs_index)} "
            f"cells; first mismatch at row {pos}: modality has {b_at!r}, "
            f"obs index has {o_at!r} — a same-length mismatch means the "
            "rows are out of ORDER) — modality rows must cover exactly "
            "the intersected obs set, in obs-index order"
        )


def export_h5mu(
    modalities: dict[str, DataFrame],
    path: str,
    obs_cols: DataFrame | None = None,
    uns: dict | None = None,
    compression: str | None = None,
) -> dict:
    """Single-file MuData export — artifact parity with the reference's
    ``mdata.write(f"{output_file_name}.h5mu")`` (bin/concatenate.py:150).

    ``modalities``: name -> long COO DataFrame (cell_id, feature_id,
    value).  The shared obs index is the INTERSECTION of the modality
    cell sets in sorted order (``mu.pp.intersect_obs`` parity,
    concatenate.py:100-101); rows outside it are dropped from every
    modality.  ``obs_cols``: optional (cell_id, <col>…) annotation frame
    joined onto the shared index (annotate_mudata parity).

    SCALE CONTRACT: a .h5mu is ONE file — inherently a single-writer
    artifact, exactly as the reference's muon call is.  The matrices are
    intersected in Spark (distributed shuffles); the surviving COO rows
    stream to the driver, which sums duplicates and orders them
    (_csr_from_coo) for byte assembly; O(matrix) driver memory, so
    this is the dataset-scoped interchange export.  The parquet product
    directory (write_product) remains the 100 TB path; this sink exists
    so muon/scanpy users can consume the product without this engine.

    ``compression``: None (default) or ``"gzip"`` — deflate chunk-
    filters every modality's X arrays.  Deflate ONLY, no shuffle:
    h5py's ``create_dataset(compression="gzip")`` leaves the shuffle
    filter off by default, and ``mdata.write(..., compression="gzip")``
    passes that through, so a single-filter pipeline is the actual
    on-disk parity layout (review finding).  Callers who want
    shuffle+deflate can assemble via build_h5mu directly.
    """
    if compression not in (None, "gzip"):
        raise ValueError(
            f"unsupported compression {compression!r} (None or 'gzip')"
        )
    from pyspark.sql import functions as F

    from ..sources.hdf5_write import build_h5mu
    from ..spill import ckpt_eager

    names = sorted(modalities)
    shared = None
    for name in names:
        cells = modalities[name].select(
            F.col("cell_id").cast("string").alias("cell_id")
        ).distinct()
        shared = cells if shared is None else shared.join(cells, "cell_id")
    # computed once: every modality's semi-join below reads the
    # checkpoint.  Python's code-point order equals Spark's UTF-8 byte
    # order, and _csr_from_coo sorts its row axis the same way.
    shared = shared.transform(ckpt_eager)
    obs_index = sorted(r["cell_id"] for r in shared.collect())
    mod_tuples = {}
    for name in names:
        df = (
            modalities[name]
            .withColumn("cell_id", F.col("cell_id").cast("string"))
            .join(shared, "cell_id", "left_semi")
            .select(
                F.col("cell_id").cast("string").alias("cell_id"),
                F.col("feature_id").cast("string").alias("feature_id"),
                F.col("value").cast("double").alias("value"),
            )
        )
        # shared assembly incl. duplicate (cell, feature) summation;
        # intersect-obs guarantees every obs_index cell has ≥1 entry in
        # every modality, so the helper's row axis equals obs_index
        barcodes, features, data, indices, indptr = _csr_from_coo(
            df.toPandas()
        )
        _check_h5mu_row_alignment(name, barcodes, obs_index)
        mod_tuples[name] = (obs_index, features, data, indices, indptr)
    cols = {}
    if obs_cols is not None:
        ann = obs_cols.toPandas().set_index("cell_id").reindex(obs_index)
        for c in sorted(ann.columns):
            vals = ann[c].tolist()
            cols[c] = [
                v if isinstance(v, str) else float(v) for v in vals
            ]
    content = build_h5mu(
        mod_tuples,
        obs_index,
        obs_cols=cols,
        uns=uns,
        gzip=compression == "gzip",
    )
    spark = next(iter(modalities.values())).sparkSession
    _write_bytes_uri(spark, path, content)
    return {
        "path": path,
        "n_bytes": len(content),
        "n_obs": len(obs_index),
        "modalities": {n: len(mod_tuples[n][1]) for n in names},
    }
