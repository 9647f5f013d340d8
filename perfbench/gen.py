"""Seeded inputs for the benchmark, with their ground truth.

Two generators, both pure functions of ``(seed, size)``:

``write_product_inputs`` writes the reference's staging layout
(``<root>/<uuid>/cell_by_bin.h5ad`` and ``cell_by_gene.h5ad``, through the
package's own ``sources.hdf5_write.build_h5ad_csr``) plus a manifest TSV in
the reference's shape: a leading, unnamed index column, all-string donor
fields, and some staged datasets left out.  Feature axes have mixed
widths (each dataset keeps a 55-100 % share of the product-wide bin and
gene axes) and the two modalities' cell sets only partly overlap, so the
intersection, the donor join and the feature distincts all do real work.
It also writes an append pool (new datasets and changed re-adds) and
returns the ground truth the output checks compare against.

``write_documents`` writes the ``documents`` table the LSH/corpus registry
keys read, with the make-up measured on the sf0.1 test table (noted above
``VOCAB``).

Two limits of the pure-Python HDF5 codec bound the sizes (see README.md):

* the writer packs the global-heap object index in 16 bits
  (``sources/hdf5_write.py``), so one file, and the ``.h5mu`` obs and
  var axes, must hold fewer than 65,535 strings;
* the reader's global-heap lookup (``sources/hdf5.py``,
  ``H5Reader._global_heap_bytes``) scans the whole collection for every
  string, so decoding a file costs time quadratic in its barcode plus
  feature count (about 0.8 s at 2 k strings, 55 s at 20 k).  Feature axes
  stay in the low thousands.
"""

from __future__ import annotations

import json
import os
from dataclasses import asdict, dataclass

import numpy as np

MAX_STRINGS_PER_FILE = 65_535
MODALITIES = ("cell_by_bin", "cell_by_gene")
MANIFEST_HEADER = [
    "", "uuid", "hubmap_id", "age", "sex", "height", "weight", "bmi",
    "cause_of_death", "race",
]
BARCODE_PREFIX = "BAM_data#"


@dataclass(frozen=True)
class ProductSize:
    datasets: int = 6
    cells: int = 160
    bins: int = 900
    genes: int = 400
    bin_density: float = 0.06
    gene_density: float = 0.10
    # share of a dataset's bin-modality cells that the gene modality also has
    overlap: float = 0.85
    # staged datasets the manifest leaves out
    unmanifested: int = 1
    # append pool: brand-new datasets (changed re-adds cover every base one)
    new_datasets: int = 3


@dataclass
class DatasetTruth:
    """What one dataset contributes to a product built from it."""

    cells: int  # cells present in both modalities
    cells_in: int  # cells present in either modality
    x_rows: dict  # modality -> nonzeros of those cells
    var_rows: dict  # modality -> distinct features of those cells
    features: dict  # modality -> sorted feature ids of those cells
    nnz_in: dict  # modality -> nonzeros in the staged file


def _uuid(rng: np.random.Generator) -> str:
    return "".join(f"{b:02x}" for b in rng.integers(0, 256, 16))


def _barcodes(rng: np.random.Generator, n: int) -> list[str]:
    codes = set()
    while len(codes) < n:
        codes.add("".join(rng.choice(list("ACGT"), 16)) + "-1")
    return sorted(codes)


def _csr(rng: np.random.Generator, n_rows: int, n_cols: int, density: float):
    """A CSR matrix with exactly ``round(density * n_cols)`` nonzeros per
    row at seeded positions, so the nonzero count is the same for every
    seed and only where they sit changes."""
    k = max(1, round(density * n_cols))
    cols = np.sort(np.argsort(rng.random((n_rows, n_cols)), axis=1)[:, :k], axis=1)
    data = rng.integers(1, 6, n_rows * k).astype("float64")
    indptr = np.arange(0, n_rows * k + 1, k, dtype="int64")
    return data, cols.ravel().astype("int32"), indptr, np.repeat(np.arange(n_rows), k)


def _chosen(rng: np.random.Generator, n: int, k: int) -> np.ndarray:
    """A boolean mask with exactly ``k`` of ``n`` set, at seeded places."""
    mask = np.zeros(n, dtype=bool)
    mask[rng.permutation(n)[:k]] = True
    return mask


def _feature_axis(rng, universe: list[str], share: float) -> list[str]:
    """``share`` of the product-wide axis, at seeded places."""
    keep = _chosen(rng, len(universe), int(len(universe) * share))
    return [f for f, k in zip(universe, keep) if k]


def _write_dataset(rng, size: ProductSize, dirpath: str, bins, genes,
                   share: float, coo: dict) -> DatasetTruth:
    """Write one dataset's h5ad files and append its long/COO rows to
    ``coo`` (modality -> list of column dicts); return its contribution.
    ``share`` is the part of the bin and gene axes the dataset has."""
    from atac_data_products_spark.sources.hdf5_write import build_h5ad_csr

    os.makedirs(dirpath, exist_ok=True)
    bin_cells = _barcodes(rng, size.cells)
    keep = _chosen(rng, size.cells, round(size.cells * size.overlap))
    gene_cells = sorted(
        [c for c, k in zip(bin_cells, keep) if k]
        + _barcodes(rng, max(1, size.cells // 10))
    )
    cell_sets = {"cell_by_bin": bin_cells, "cell_by_gene": gene_cells}
    axes = {
        "cell_by_bin": (_feature_axis(rng, bins, share), size.bin_density),
        "cell_by_gene": (_feature_axis(rng, genes, share), size.gene_density),
    }
    shared = set(bin_cells) & set(gene_cells)
    truth = DatasetTruth(len(shared), len(set(bin_cells) | set(gene_cells)),
                         {}, {}, {}, {})
    for mod in MODALITIES:
        cells = cell_sets[mod]
        feats, density = axes[mod]
        if len(cells) + len(feats) >= MAX_STRINGS_PER_FILE:
            raise ValueError("h5ad axis exceeds the writer's 16-bit heap index")
        data, indices, indptr, rows = _csr(rng, len(cells), len(feats), density)
        # a seeded share of barcodes carries the reference's BAM prefix,
        # which annotation strips before the cross-modality match
        prefixed = _chosen(rng, len(cells), len(cells) // 5)
        stored = [BARCODE_PREFIX + c if p else c for c, p in zip(cells, prefixed)]
        with open(os.path.join(dirpath, f"{mod}.h5ad"), "wb") as f:
            f.write(build_h5ad_csr(stored, feats, data, indices, indptr))
        coo.setdefault(mod, []).append({
            "dataset": os.path.basename(dirpath),
            "barcode": np.asarray(stored, dtype=object)[rows],
            "feature_id": np.asarray(feats, dtype=object)[indices],
            "value": data,
        })
        in_shared = np.array([c in shared for c in cells])[rows]
        used = sorted({feats[j] for j in indices[in_shared]})
        truth.x_rows[mod] = int(in_shared.sum())
        truth.var_rows[mod] = len(used)
        truth.features[mod] = used
        truth.nnz_in[mod] = int(len(data))
    return truth


def _write_coo(dirpath: str, coo: dict[str, list]) -> None:
    import pyarrow as pa
    import pyarrow.parquet as pq

    os.makedirs(dirpath, exist_ok=True)
    for mod, parts in coo.items():
        table = pa.table({
            "dataset": pa.array(
                [p["dataset"] for p in parts for _ in p["value"]], pa.string()),
            "barcode": pa.array(
                np.concatenate([p["barcode"] for p in parts]), pa.string()),
            "feature_id": pa.array(
                np.concatenate([p["feature_id"] for p in parts]), pa.string()),
            "value": pa.array(
                np.concatenate([p["value"] for p in parts]), pa.float64()),
        })
        pq.write_table(table, os.path.join(dirpath, f"{mod}.parquet"))


def _donor_row(rng, i: int, uuid: str) -> list[str]:
    return [
        str(i), uuid, f"HBM{rng.integers(100, 999)}.{_uuid(rng)[:4].upper()}."
        f"{rng.integers(100, 999)}",
        str(int(rng.integers(18, 90))), str(rng.choice(["Male", "Female"])),
        f"{rng.uniform(150, 200):.1f}", f"{rng.uniform(50, 110):.1f}",
        f"{rng.uniform(18, 35):.1f}", str(rng.choice(["Anoxia", "Trauma", "Stroke"])),
        str(rng.choice(["White", "Black", "Asian", "Hispanic"])),
    ]


def _write_manifest(path: str, rows: list[list[str]]) -> None:
    with open(path, "w") as f:
        f.write("\t".join(MANIFEST_HEADER) + "\n")
        for r in rows:
            f.write("\t".join(r) + "\n")


def _widths(uuids: list[str]) -> list[float]:
    """Each dataset's share of the bin and gene axes.

    Mixed widths: every set of datasets spans the same 55-100 % of the
    axes.  The widths follow the datasets' sorted order in one fixed,
    interleaved pattern, so the files list, and pack into ingest tasks,
    the same way for every seed: the seed picks contents, not sizes."""
    pattern = np.random.default_rng(0).permutation(
        np.linspace(0.55, 1.0, len(uuids)))
    rank = {u: i for i, u in enumerate(sorted(uuids))}
    return [float(pattern[rank[u]]) for u in uuids]


def _spread_ranks(n: int, k: int) -> list[int]:
    """``k`` of the ranks ``0..n-1``, evenly spread and away from the ends."""
    return [int(round(x)) for x in np.linspace(0, n - 1, k + 2)[1:-1]]


def write_product_inputs(root: str, seed: int, size: ProductSize) -> dict:
    """Write staging dir, manifests and append pool under ``root``.

    Layout::

        root/staging/<uuid>/{cell_by_bin,cell_by_gene}.h5ad   base datasets
        root/manifest.tsv                                    base manifest
        root/append_new/<uuid>/...h5ad                       new datasets
        root/append_changed/<uuid>/...h5ad                   changed re-adds
        root/manifest_append.tsv                             base + new
        root/coo/<sub>/<modality>.parquet                    the same matrices
                                                             as long/COO rows
        root/truth.json                                      ground truth

    Returns the truth dict (also written to ``truth.json``)."""
    rng = np.random.default_rng(seed)
    bins = [f"chr{1 + i // 400}:{(i % 400) * 5000}-{(i % 400 + 1) * 5000}"
            for i in range(size.bins)]
    genes = [f"G{rng.integers(0, 36 ** 3):04X}-{i}" for i in range(size.genes)]
    base = [_uuid(rng) for _ in range(size.datasets)]
    new = [_uuid(rng) for _ in range(size.new_datasets)]
    left_out = {sorted(base)[i] for i in _spread_ranks(size.datasets, size.unmanifested)}

    def write_all(sub: str, uuids: list[str]) -> dict[str, DatasetTruth]:
        coo: dict[str, list] = {}
        out = {
            u: _write_dataset(rng, size, os.path.join(root, sub, u), bins,
                              genes, share, coo)
            for u, share in zip(uuids, _widths(uuids))
        }
        _write_coo(os.path.join(root, "coo", sub), coo)
        return out

    staged = write_all("staging", base)
    added = write_all("append_new", new)
    changed = write_all("append_changed", base)
    donors = {u: _donor_row(rng, i, u) for i, u in enumerate(base + new)}
    manifested = [u for u in base if u not in left_out]
    _write_manifest(os.path.join(root, "manifest.tsv"),
                    [donors[u] for u in manifested])
    _write_manifest(os.path.join(root, "manifest_append.tsv"),
                    [donors[u] for u in manifested + new])

    truth = {
        "seed": seed,
        "size": asdict(size),
        "manifested": manifested,
        "left_out": sorted(left_out),
        "new": new,
        "staged": {u: asdict(t) for u, t in staged.items()},
        "append_new": {u: asdict(t) for u, t in added.items()},
        "append_changed": {u: asdict(t) for u, t in changed.items()},
        "input_nnz": sum(sum(t.nnz_in.values()) for t in staged.values()),
        "input_cells": sum(t.cells_in for t in staged.values()),
        "input_bytes": _tree_bytes(os.path.join(root, "staging")),
    }
    truth["product"] = product_truth({u: truth["staged"][u] for u in manifested})
    with open(os.path.join(root, "truth.json"), "w") as f:
        json.dump(truth, f, sort_keys=True)
    return truth


def product_truth(datasets: dict[str, dict]) -> dict:
    """Expected product counts for a set of manifested dataset truths."""
    live = {u: t for u, t in datasets.items() if t["cells"] > 0}
    out = {
        "cell_count": sum(t["cells"] for t in live.values()),
        "dataset_count": len(live),
        "dataset_uuids": sorted(live),
    }
    for mod in MODALITIES:
        out[f"x_rows.{mod}"] = sum(t["x_rows"][mod] for t in live.values())
        out[f"var_rows.{mod}"] = sum(t["var_rows"][mod] for t in live.values())
        out[f"features.{mod}"] = len(
            set().union(*(t["features"][mod] for t in live.values()))
        )
    return out


def append_sequence(truth: dict, length: int) -> list[tuple[str, str, str]]:
    """A fixed sequence of ``(case, dataset, source)`` appends.

    ``source`` names the input subdirectory holding the dataset's files.
    Cases cycle new → changed → removal, so each cycle of three calls
    holds all three.  A ``changed`` re-add or a ``removal`` picks a
    dataset present at that point of the sequence, so no call is a no-op;
    once the pool of new datasets is used up, a ``new`` call re-adds a
    removed one.  The picks are by rank in sorted order with a fixed
    generator, so the sizes the sequence touches are the same for every
    seed; the seed only decides which uuids hold those ranks."""
    rng = np.random.default_rng(7919)
    base = set(truth["manifested"])
    present = sorted(base)
    pool = sorted(truth["new"])
    removed: list[str] = []
    seq = []
    for i in range(length):
        case = ("new", "changed", "removal")[i % 3]
        changeable = [d for d in present if d in base]
        if case == "changed" and not changeable:
            case = "removal"
        if case == "removal" and len(present) < 2:
            case = "new"
        if case == "new":
            src = pool if pool else removed
            ds = src.pop(int(rng.integers(0, len(src))))
            present.append(ds)
            source = "staging" if ds in base else "append_new"
        elif case == "changed":
            ds = changeable[int(rng.integers(0, len(changeable)))]
            source = "append_changed"
        else:
            ds = present.pop(int(rng.integers(0, len(present))))
            removed.append(ds)
            source = "staging" if ds in base else "append_new"
        seq.append((case, ds, source))
    return seq


def _tree_bytes(path: str) -> int:
    return sum(
        os.path.getsize(os.path.join(d, f))
        for d, _, files in os.walk(path)
        for f in files
    )


# The sf0.1 ``documents`` table, measured: 5,000 rows; texts of 10-99
# words drawn from this 30-word vocabulary; 250 rows (5 %) are an
# earlier-drawn text with the token "dup" appended (256 pairs at the
# registry's Jaccard threshold; clusters of 2, 3 and 4 members in the
# ratio 219 : 8 : 1); lang en 41 %, the other four 14-15 % each; source
# ``src<doc_id % 20>``; ``n_chars`` the text's length.
VOCAB = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "join customer the a"
).split()
MIN_WORDS, MAX_WORDS = 10, 99
DUP_SHARE = 0.05
DUP_TOKEN = "dup"
LANGS = ("en", "zh", "es", "fr", "de")
LANG_SHARES = (0.41, 0.15, 0.15, 0.15, 0.14)
SOURCES = 20


def write_documents(path: str, seed: int, n_docs: int) -> int:
    """Write a seeded ``documents`` parquet table at ``path`` with the
    sf0.1 table's schema and make-up (above).

    Original texts take their lengths from one fixed, evenly spread
    schedule in seeded order, so the amount of text is nearly the same
    for every seed.  ``DUP_SHARE`` of the rows, at seeded places, copy a
    seeded original with ``DUP_TOKEN`` appended; two copies of one
    original form a three-member cluster, as in sf0.1.  Returns the
    file's size in bytes."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(seed + 104729)
    lengths = rng.permutation(
        np.linspace(MIN_WORDS, MAX_WORDS + 0.999, n_docs).astype(int))
    texts = [" ".join(rng.choice(VOCAB, n)) for n in lengths]
    copies = rng.permutation(n_docs)[:round(DUP_SHARE * n_docs)]
    originals = np.setdiff1d(np.arange(n_docs), copies)
    for i in copies:
        texts[i] = f"{texts[int(rng.choice(originals))]} {DUP_TOKEN}"
    table = pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": [LANGS[int(x)] for x in rng.choice(len(LANGS), n_docs, p=LANG_SHARES)],
        "source": [f"src{i % SOURCES}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64()),
    })
    pq.write_table(table, path)
    return os.path.getsize(path)
