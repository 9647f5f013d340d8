"""Output checks.  Each returns a list of problems; empty means correct.

They run outside the timed windows and compare what the package wrote
against the generator's ground truth (``gen.product_truth``) or, for the
registry keys, against each key's DuckDB oracle.
"""

from __future__ import annotations

import json
import os

from gen import MODALITIES


def _diff(what: str, got, want) -> list[str]:
    return [] if got == want else [f"{what}: got {got!r}, want {want!r}"]


def check_metadata(meta: dict, want: dict) -> list[str]:
    """``product.json`` (or an append's returned metadata) against truth."""
    out = []
    for k in ("cell_count", "dataset_count"):
        out += _diff(k, meta.get(k), want[k])
    out += _diff("dataset_uuids", sorted(meta.get("dataset_uuids", [])),
                 want["dataset_uuids"])
    return out


def parquet_rows(path: str) -> int:
    """Rows of the parquet dataset at ``path``, summed from the files'
    footers without Spark.  Files and directories whose names start
    with ``_`` or ``.`` are skipped, as Spark's reader skips them."""
    import pyarrow.parquet as pq

    total = 0
    for d, dirs, files in os.walk(path):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        for f in files:
            if not f.startswith(("_", ".")):
                total += pq.ParquetFile(os.path.join(d, f)).metadata.num_rows
    return total


def check_product(product_dir: str, want: dict) -> tuple[list[str], dict]:
    """A written product directory against truth: ``product.json``
    counts, and the row counts of obs and each modality's x and var.
    Returns (problems, the row counts read)."""
    with open(os.path.join(product_dir, "product.json")) as f:
        meta = json.load(f)
    out = check_metadata(meta, want)
    rows = {"obs": parquet_rows(f"{product_dir}/obs")}
    out += _diff("obs rows", rows["obs"], want["cell_count"])
    for mod in MODALITIES:
        for table in ("x", "var"):
            n = parquet_rows(f"{product_dir}/{table}_{mod}")
            rows[f"{table}_{mod}"] = n
            out += _diff(f"{table}_{mod} rows", n, want[f"{table}_rows.{mod}"])
    return out, rows


def check_h5mu_receipt(receipt: dict, want: dict) -> list[str]:
    """The dict ``sinks.writers.export_h5mu`` returns, against truth."""
    out = _diff("h5mu n_obs", receipt["n_obs"], want["cell_count"])
    for mod in MODALITIES:
        out += _diff(f"h5mu {mod} features", receipt["modalities"].get(mod),
                     want[f"features.{mod}"])
    return out


def check_h5mu_roundtrip(spark, product_dir: str, h5mu_path: str) -> list[str]:
    """Decode the whole ``.h5mu`` with the package's reader and compare
    every modality's matrix with the product's x table, entry by entry."""
    import numpy as np

    from atac_data_products_spark.sources.hdf5 import read_h5mu

    with open(h5mu_path, "rb") as f:
        mu = read_h5mu(f.read())
    obs_ids = sorted(
        r.cell_id for r in spark.read.parquet(f"{product_dir}/obs").collect()
    )
    out = _diff("h5mu obs index", list(mu["obs"]["_index"]), obs_ids)
    for mod in MODALITIES:
        kind, data, indices, indptr, shape = mu["mod"][mod]["x"]
        bcs, feats = mu["mod"][mod]["barcodes"], mu["mod"][mod]["features"]
        rows = np.repeat(np.arange(shape[0]), np.diff(indptr))
        got = sorted(zip((bcs[i] for i in rows), (feats[j] for j in indices),
                         (float(v) for v in data)))
        want = sorted(
            (r.cell_id, r.feature_id, float(r.value))
            for r in spark.read.parquet(f"{product_dir}/x_{mod}")
            .select("cell_id", "feature_id", "value").collect()
        )
        out += _diff(f"h5mu {mod} kind", kind, "csr")
        if got != want:
            out.append(f"h5mu {mod} entries differ from x_{mod} "
                       f"({len(got)} vs {len(want)} entries)")
    return out


def oracle_frames(cache_root: str, input_digest: str, documents: str,
                  keys: list[str]) -> dict:
    """Each key's DuckDB oracle result over ``documents``, cached as
    parquet so only the first run on the same input pays.

    A cached result is named by the digest of the ``documents`` bytes
    (``input_digest``, which covers seed and size) and of the key's
    oracle SQL, so a result is never reused for another input or for a
    changed oracle."""
    import hashlib

    import pandas as pd

    import __spark_entry__

    sql = __spark_entry__.oracle_sql()
    os.makedirs(cache_root, exist_ok=True)
    out, con = {}, None
    for key in keys:
        name = hashlib.sha256(
            f"{input_digest}\0{key}\0{sql[key]}".encode()).hexdigest()[:24]
        path = os.path.join(cache_root, f"oracle-{key}-{name}.parquet")
        if os.path.exists(path):
            out[key] = pd.read_parquet(path)
            continue
        if con is None:
            import duckdb

            con = duckdb.connect()
            con.execute(
                f"CREATE VIEW documents AS SELECT * FROM '{documents}'")
        out[key] = con.execute(sql[key]).df()
        out[key].to_parquet(path + ".tmp")
        os.replace(path + ".tmp", path)
    if con is not None:
        con.close()
    return out


def check_key(key: str, spark_pdf, oracle_pdf) -> list[str]:
    """One registry key's Spark result against its oracle, with the
    repository's own comparator (``tools/check_correctness.compare``)."""
    from check_correctness import compare

    verdict = compare(key, spark_pdf, oracle_pdf)
    return [] if verdict == "OK" else [verdict]
