"""Binary-file ingestion boundary (SURVEY.md §2.1 scan_h5ad, §1.4).

The reference loads AnnData HDF5 files eagerly on one node
(anndata.read_h5ad, bin/concatenate.py:62).  Spark has no native h5ad
source, so ingestion is the one place this engine runs Python per file —
and it is structured for scale:

  spark.read.format("binaryFile").load(glob)      # distributed file scan
    -> mapInPandas(decoder)                        # Arrow-batched decode
    -> long/COO rows (dataset, barcode, feature_id, value)
    -> write.partitionBy("dataset").parquet(...)   # canonical storage

Each file is decoded by exactly one task, files spread across executors;
decode output streams out as Arrow record batches (never one giant pandas
frame per node, unlike the reference's materialize-everything pattern at
bin/concatenate.py:128-136).

`decode_h5ad_bytes` and `decode_h5mu_bytes` read real files with the
dependency-free HDF5 reader (sources/hdf5.py), one AnnData group reader
for both formats, and expand them to COO rows through one expander,
`_coo_blocks`.  anndata is only the fallback for an .h5ad that the pure
reader rejects as unsupported.  The `scan_h5ad_codec` key, the product
ingest (tools/ingest_h5ad.py) and perfbench's `atac_product` workload
run through it.
`decode_parquet_bytes` drives the same plumbing with parquet payloads; the
`scan_h5ad` key uses it to scan the documents table.
"""

from __future__ import annotations

import io
import os
from collections.abc import Callable, Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession

COO_SCHEMA = "dataset string, barcode string, feature_id string, value double"


def _coo_blocks(m: dict, col: str, label: str) -> Iterator[pd.DataFrame]:
    """Expand one decoded AnnData matrix (read_h5ad_matrix's dict) into
    (<col>=label, barcode, feature_id, value) frames, one per 10,000
    major-axis rows, so a 10 GB matrix never materializes as one pandas
    frame.  No scipy: csr/csc row ids come from np.repeat over indptr
    run lengths."""
    import numpy as np

    block = 10_000
    barcodes = np.asarray(m["barcodes"], dtype=object)
    features = np.asarray(m["features"], dtype=object)

    def frame(bc, ft, vals) -> pd.DataFrame:
        return pd.DataFrame(
            {
                col: label,
                "barcode": bc,
                "feature_id": ft,
                "value": np.asarray(vals, dtype="float64"),
            }
        )

    x = m["x"]
    if x[0] == "dense":
        arr = x[1]
        for start in range(0, arr.shape[0], block):
            sub = np.asarray(arr[start : start + block])
            r, c = np.nonzero(sub)
            yield frame(barcodes[start + r], features[c], sub[r, c])
        return
    kind, data, indices, indptr, shape = x
    major = shape[0] if kind == "csr" else shape[1]
    for start in range(0, major, block):
        stop = min(start + block, major)
        lo, hi = int(indptr[start]), int(indptr[stop])
        runs = np.repeat(
            np.arange(start, stop), np.diff(indptr[start : stop + 1])
        )
        if kind == "csr":
            yield frame(barcodes[runs], features[indices[lo:hi]], data[lo:hi])
        else:  # csc: major axis is features, indices are obs rows
            yield frame(barcodes[indices[lo:hi]], features[runs], data[lo:hi])


def decode_h5ad_bytes(content: bytes, dataset: str) -> Iterator[pd.DataFrame]:
    """Decode one h5ad file's AnnData X matrix into (dataset, barcode,
    feature_id, value) COO chunks with the pure HDF5 reader: the
    reference's core input path (bin/concatenate.py:62) with zero extra
    packages.  A file the reader rejects as unsupported is read with
    anndata when that is importable; otherwise its NotImplementedError
    propagates."""
    from .hdf5 import read_h5ad_matrix

    try:
        m = read_h5ad_matrix(content)
    except NotImplementedError as unsupported:
        try:
            import anndata
            import scipy.sparse as sp
        except ImportError:
            raise unsupported from None
        adata = anndata.read_h5ad(io.BytesIO(content))
        x = sp.csr_matrix(adata.X)
        m = {
            "barcodes": adata.obs.index.to_numpy(),
            "features": adata.var.index.to_numpy(),
            "x": ("csr", x.data, x.indices, x.indptr, x.shape),
        }
    yield from _coo_blocks(m, "dataset", dataset)


def ingest_binary_files(
    spark: SparkSession,
    path_glob: str,
    decoder: Callable[[bytes, str], Iterator[pd.DataFrame]],
    schema: str,
) -> DataFrame:
    """Distributed binary-file ingestion: binaryFile scan → Arrow-batched
    per-file decode.  `dataset` provenance derives from the file path
    (parent-directory uuid in the reference layout, bin/concatenate.py:59)."""
    binary = spark.read.format("binaryFile").load(path_glob)

    def decode_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            for _, row in pdf.iterrows():
                dataset = os.path.basename(os.path.dirname(row["path"])) or os.path.splitext(
                    os.path.basename(row["path"])
                )[0]
                yield from decoder(row["content"], dataset)

    return binary.select("path", "content").mapInPandas(decode_partition, schema=schema)


def decode_parquet_bytes(columns: list[str] | None = None):
    """Working decoder for parquet-bytes payloads (pyarrow is shipped).

    Demonstrates the identical mapInPandas ingestion path with a format
    decodable in this container; yields record-batch-sized chunks.
    """
    import pyarrow.parquet as pq

    def _decode(content: bytes, dataset: str) -> Iterator[pd.DataFrame]:
        table = pq.read_table(io.BytesIO(content), columns=columns)
        for batch in table.to_batches(max_chunksize=65536):
            yield batch.to_pandas()

    return _decode


H5MU_COO_SCHEMA = (
    "modality string, barcode string, feature_id string, value double"
)


def decode_h5mu_bytes(content: bytes, dataset: str) -> Iterator[pd.DataFrame]:
    """Decode one MuData ``.h5mu`` container into COO chunks, one
    modality at a time — the read side of the reference's single-file
    artifact (bin/concatenate.py:150), via the pure reader
    (sources/hdf5.read_h5mu).  Yields (modality, barcode, feature_id,
    value) row blocks; runs inside the same Arrow-batched mapInPandas
    seam as decode_h5ad_bytes (one file per task)."""
    from .hdf5 import read_h5mu

    for name, m in read_h5mu(content)["mod"].items():
        yield from _coo_blocks(m, "modality", name)
