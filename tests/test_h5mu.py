"""Single-file MuData (.h5mu) container: build → read round trip and the
Spark sink — artifact parity with the reference's actual output
(``mdata.write(f"{output_file_name}.h5mu")``, bin/concatenate.py:150;
two modalities + intersected shared obs, concatenate.py:100-110)."""

from __future__ import annotations

import numpy as np
import pytest

from atac_data_products_spark.sources.hdf5 import H5Reader, read_h5mu
from atac_data_products_spark.sources.hdf5_write import (
    MUDATA_USERBLOCK_INFO,
    build_h5ad_csr,
    build_h5mu,
    wrap_userblock,
)

BC = ["AAAC#1", "GGGT#2", "TTTT#3"]
MODS = {
    "atac_cell_by_bin": (
        BC,
        ["bin0", "bin1"],
        np.array([1.0, 2.0, 3.0]),
        np.array([0, 1, 0], dtype="i4"),
        np.array([0, 2, 2, 3], dtype="i8"),
    ),
    "atac_cell_by_gene": (
        BC,
        ["gA", "gB", "gC"],
        np.array([5.0, 6.5]),
        np.array([2, 0], dtype="i4"),
        np.array([0, 1, 1, 2], dtype="i8"),
    ),
}


def _content() -> bytes:
    return build_h5mu(
        MODS,
        BC,
        obs_cols={"dataset": ["d1", "d1", "d2"], "age": [31.0, 45.0, 58.0]},
        uns={"uuid": "prod-1", "datasets": ["HBM1", "HBM2"]},
    )


def test_h5mu_round_trip():
    out = read_h5mu(_content())
    assert sorted(out["mod"]) == sorted(MODS)
    for name, (bc, ft, data, indices, indptr) in MODS.items():
        m = out["mod"][name]
        assert m["barcodes"] == bc and m["features"] == ft
        kind, d, i, p, shape = m["x"]
        assert kind == "csr" and shape == (len(bc), len(ft))
        np.testing.assert_array_equal(d, data)
        np.testing.assert_array_equal(i, indices)
        np.testing.assert_array_equal(p, indptr)
    assert out["obs"]["_index"] == BC
    assert out["obs"]["dataset"] == ["d1", "d1", "d2"]
    assert out["obs"]["age"] == [31.0, 45.0, 58.0]
    assert out["uns"]["uuid"] == ["prod-1"]
    assert out["uns"]["datasets"] == ["HBM1", "HBM2"]


def test_h5mu_container_structure():
    content = _content()
    # MuData magic in the user block, superblock at 512
    assert content[:7] == b"MuData "
    assert content[512:516] == b"\x89HDF"
    r = H5Reader(content)
    root = r.attributes(r.open("/"))
    assert root["encoding-type"] == "MuData"
    assert r.attributes(r.open("mod"))["mod-order"] == sorted(MODS)
    # alignment maps: all obs present in both modalities (1-based)
    np.testing.assert_array_equal(
        r.read_dataset(r.open("obsmap/atac_cell_by_bin")), [1, 2, 3]
    )
    np.testing.assert_array_equal(
        r.read_dataset(r.open("varmap/atac_cell_by_gene")), [3, 4, 5]
    )
    # global var = in-order concat of modality features
    assert r.read_dataset(r.open("var/_index")) == [
        "bin0", "bin1", "gA", "gB", "gC",
    ]
    # dataframe encodings carry column-order
    assert r.attributes(r.open("obs"))["column-order"] == ["age", "dataset"]


def test_userblock_patches_superblock_fields():
    import struct

    inner = build_h5ad_csr(BC, ["f0"], np.array([1.0]),
                           np.array([0], dtype="i4"),
                           np.array([0, 1, 1, 1], dtype="i8"))
    wrapped = wrap_userblock(inner, MUDATA_USERBLOCK_INFO)
    assert len(wrapped) == 512 + len(inner)
    (base,) = struct.unpack_from("<Q", wrapped, 512 + 24)
    (eof,) = struct.unpack_from("<Q", wrapped, 512 + 40)
    assert base == 512 and eof == 512 + len(inner)
    # the pure reader resolves the offset itself
    out = read_h5ad(wrapped)
    assert out["barcodes"] == BC


def read_h5ad(content):
    from atac_data_products_spark.sources.hdf5 import read_h5ad_matrix

    return read_h5ad_matrix(content)


def test_userblock_rejects_oversized_info_and_v2():
    from tests.hdf5_fixtures import WriterV2

    with pytest.raises(ValueError, match="block size"):
        wrap_userblock(b"\x00" * 9 + b"x", "y" * 600)
    w = WriterV2()
    inner = w.finish(w.write_group({}))
    with pytest.raises(ValueError, match="v0 superblock"):
        wrap_userblock(inner)


def test_export_h5mu_intersects_obs(spark, tmp_path):
    """mu.pp.intersect_obs parity: cells absent from any modality are
    dropped from the shared obs AND from every modality matrix."""
    from atac_data_products_spark.sinks.writers import export_h5mu

    cbb = spark.createDataFrame(
        [("c1", "bin0", 1.0), ("c2", "bin1", 2.0), ("c3", "bin0", 3.0)],
        "cell_id string, feature_id string, value double",
    )
    cbg = spark.createDataFrame(
        [("c1", "gA", 5.0), ("c3", "gB", 6.0)],  # c2 missing
        "cell_id string, feature_id string, value double",
    )
    ann = spark.createDataFrame(
        [("c1", "heart"), ("c2", "lung"), ("c3", "heart")],
        "cell_id string, organ string",
    )
    path = str(tmp_path / "out.h5mu")
    receipt = export_h5mu(
        {"cbb": cbb, "cbg": cbg}, path, obs_cols=ann, uns={"uuid": "u1"}
    )
    assert receipt["n_obs"] == 2
    out = read_h5mu(open(path, "rb").read())
    assert out["obs"]["_index"] == ["c1", "c3"]
    assert out["obs"]["organ"] == ["heart", "heart"]
    kind, d, i, p, shape = out["mod"]["cbb"]["x"]
    # c2's row gone — and bin1 with it (its only entry was c2's), so
    # the modality var axis shrinks to the observed features
    assert shape == (2, 1)
    assert out["mod"]["cbb"]["features"] == ["bin0"]
    np.testing.assert_array_equal(d, [1.0, 3.0])
    assert out["mod"]["cbg"]["barcodes"] == ["c1", "c3"]
    assert out["uns"]["uuid"] == ["u1"]


def test_decode_h5mu_bytes_coo(spark):
    import pandas as pd

    from atac_data_products_spark.sources.ingest import decode_h5mu_bytes

    chunks = pd.concat(list(decode_h5mu_bytes(_content(), "x")))
    bin_rows = chunks[chunks["modality"] == "atac_cell_by_bin"]
    assert set(bin_rows["barcode"]) == {"AAAC#1", "TTTT#3"}
    got = sorted(
        zip(chunks["modality"], chunks["barcode"], chunks["feature_id"],
            chunks["value"])
    )
    assert ("atac_cell_by_gene", "AAAC#1", "gC", 5.0) in got
    assert len(got) == 5


def test_read_h5mu_rejects_non_mudata_root():
    """An AnnData file (root encoding-type 'anndata' or a plain group)
    must not silently decode as an empty MuData container."""
    from atac_data_products_spark.sources.hdf5_write import Writer

    w = Writer()
    ds = w.write_dataset(np.arange(3, dtype="int64"))
    root = w.write_group({"d": ds}, attrs={"encoding-type": "anndata"})
    with pytest.raises(NotImplementedError, match="not MuData"):
        read_h5mu(w.finish(root))


def test_read_h5mu_without_mod_group_raises():
    from atac_data_products_spark.sources.hdf5_write import Writer

    w = Writer()
    ds = w.write_dataset(np.arange(3, dtype="int64"))
    root = w.write_group({"d": ds})
    with pytest.raises(KeyError, match="mod"):
        read_h5mu(w.finish(root))


def test_export_h5mu_sums_duplicate_coo_entries(spark, tmp_path):
    """Duplicate (cell, feature) COO rows — e.g. a union of per-dataset
    contributions — must SUM into one CSR entry (the scipy/anndata
    duplicate-coalescing convention), not emit repeated column indices
    (round-5 review finding)."""
    from atac_data_products_spark.sinks.writers import export_h5mu

    cbb = spark.createDataFrame(
        [("c1", "f0", 1.0), ("c1", "f0", 2.5), ("c2", "f1", 4.0)],
        "cell_id string, feature_id string, value double",
    )
    cbg = spark.createDataFrame(
        [("c1", "gA", 1.0), ("c2", "gA", 1.0)],
        "cell_id string, feature_id string, value double",
    )
    path = str(tmp_path / "dup.h5mu")
    export_h5mu({"cbb": cbb, "cbg": cbg}, path)
    out = read_h5mu(open(path, "rb").read())
    kind, d, i, p, shape = out["mod"]["cbb"]["x"]
    np.testing.assert_array_equal(d, [3.5, 4.0])  # 1.0 + 2.5 summed
    np.testing.assert_array_equal(i, [0, 1])
    np.testing.assert_array_equal(p, [0, 1, 2])  # one entry per row


def test_export_h5mu_alignment_guard_is_a_real_raise():
    """Round-5 ADVICE: the CSR row-alignment invariant on the production
    h5mu write path must survive `python -O` — a ValueError, not an
    assert.  A caller bypassing the intersect semantics (modality rows
    not covering exactly the shared obs set) must fail loudly."""
    from atac_data_products_spark.sinks.writers import (
        _check_h5mu_row_alignment,
    )

    # aligned: no raise
    _check_h5mu_row_alignment("m", ["a", "b"], ["a", "b"])
    with pytest.raises(ValueError, match="atac_cell_by_bin.*obs index"):
        _check_h5mu_row_alignment("atac_cell_by_bin", ["a"], ["a", "b"])
    # same length but different order is also misalignment
    with pytest.raises(ValueError, match="intersected obs set"):
        _check_h5mu_row_alignment("m", ["b", "a"], ["a", "b"])


def test_modality_axis_legacy_index_fallback():
    """Round-5 ADVICE: modality obs/var groups written by legacy
    muon/anndata use an `index` dataset with no `_index` attr; the
    modality axis must get the same fallback as the .h5ad axes (one axis
    reader) instead of dying with a raw KeyError — and reject a truly
    index-less group with the codec's explicit-unsupported contract."""
    from atac_data_products_spark.sources.hdf5 import _read_axis_index
    from atac_data_products_spark.sources.hdf5_write import Writer

    w = Writer()
    idx = w.write_dataset(["c1", "c2"])
    obs = w.write_group({"index": idx}, attrs={"encoding-type": "dataframe"})
    other = w.write_dataset([1.0])
    bare = w.write_group({"notindex": other})
    mod = w.write_group({"obs": obs, "var": bare})
    root = w.write_group({"m": mod})
    content = w.finish(root)
    r = H5Reader(content)
    mod_obj = r.open("m")
    assert _read_axis_index(r, mod_obj, "obs", "/m") == ["c1", "c2"]
    with pytest.raises(NotImplementedError, match="no index dataset"):
        _read_axis_index(r, mod_obj, "var", "/m")


def test_declared_index_column_missing_is_rejected():
    """Round-6 ADVICE: a file that EXPLICITLY declares a custom index
    column (_index attr != default) which is then absent is malformed —
    reference anndata/muon readers fail on it, so silently falling back
    to an '_index'/'index' dataset could yield a WRONG axis.  The legacy
    fallback must apply only when the attr is absent or default."""
    from atac_data_products_spark.sources.hdf5 import _read_axis_index
    from atac_data_products_spark.sources.hdf5_write import Writer

    w = Writer()
    # declares _index='barcode_id' but only ships an 'index' dataset
    bad = w.write_group(
        {"index": w.write_dataset(["c1", "c2"])},
        attrs={"encoding-type": "dataframe", "_index": "barcode_id"},
    )
    # declares _index='barcode_id' and ships it -> must be used even
    # though a decoy '_index' dataset is also present
    good = w.write_group(
        {
            "barcode_id": w.write_dataset(["g1", "g2"]),
            "_index": w.write_dataset(["WRONG1", "WRONG2"]),
        },
        attrs={"encoding-type": "dataframe", "_index": "barcode_id"},
    )
    mod = w.write_group({"obs": bad, "var": good})
    root = w.write_group({"m": mod, "obs": bad, "var": good})
    content = w.finish(root)

    r = H5Reader(content)
    mod_obj = r.open("m")
    with pytest.raises(NotImplementedError, match="barcode_id"):
        _read_axis_index(r, mod_obj, "obs", "/m")
    assert _read_axis_index(r, mod_obj, "var", "/m") == ["g1", "g2"]
    # same contract at the top-level h5ad axes
    root_obj = r.open("/")
    with pytest.raises(NotImplementedError, match="barcode_id"):
        _read_axis_index(r, root_obj, "obs", "")
    assert _read_axis_index(r, root_obj, "var", "") == ["g1", "g2"]


def test_row_misalignment_error_pinpoints_first_mismatch():
    """Round-6 ADVICE: same-length/different-order misalignment must not
    report only lengths — the message names the first differing row."""
    from atac_data_products_spark.sinks.writers import (
        _check_h5mu_row_alignment,
    )

    with pytest.raises(ValueError, match=r"row 0.*'b'.*'a'.*out of ORDER"):
        _check_h5mu_row_alignment("m", ["b", "a"], ["a", "b"])
    with pytest.raises(ValueError, match=r"row 1.*<end>"):
        _check_h5mu_row_alignment("m", ["a"], ["a", "b"])


def test_h5mu_gzip_round_trip():
    """VERDICT r06 task 4: gzip-compressed /mod groups end to end —
    X arrays chunk-filtered with shuffle+deflate (the maximal supported
    pipeline; NOTE default mudata gzip output is deflate-only, which
    export_h5mu(compression='gzip') emits and
    test_export_h5mu_gzip_single_filter pins) must decode bit-exactly
    through read_h5mu's filter pipeline."""
    content = build_h5mu(
        MODS,
        BC,
        obs_cols={"dataset": ["d1", "d1", "d2"]},
        uns={"uuid": "prod-gz"},
        gzip=True,
        shuffle=True,
    )
    # compressed container must differ from the uncompressed bytes but
    # decode to identical values
    assert content != _content()
    out = read_h5mu(content)
    for name, (bc, ft, data, indices, indptr) in MODS.items():
        m = out["mod"][name]
        assert m["barcodes"] == bc and m["features"] == ft
        kind, d, i, p, shape = m["x"]
        assert kind == "csr" and shape == (len(bc), len(ft))
        np.testing.assert_array_equal(d, data)
        np.testing.assert_array_equal(i, indices)
        np.testing.assert_array_equal(p, indptr)
    assert out["obs"]["_index"] == BC


def test_export_h5mu_rejects_unknown_compression(spark):
    from atac_data_products_spark.sinks.writers import export_h5mu

    df = spark.createDataFrame(
        [("c1", "f1", 1.0)], "cell_id string, feature_id string, value double"
    )
    with pytest.raises(ValueError, match="unsupported compression"):
        export_h5mu({"m": df}, "/tmp/never_written.h5mu", compression="lzf")


def test_export_h5mu_gzip_single_filter(spark, tmp_path):
    """compression='gzip' parity pin (review finding): h5py's
    create_dataset(compression='gzip') leaves the shuffle filter OFF by
    default and mdata.write passes that through — so the sink must emit
    a SINGLE-filter (deflate-only) chunk pipeline, not shuffle+deflate."""
    from atac_data_products_spark.sinks.writers import export_h5mu
    from atac_data_products_spark.sources.hdf5 import (
        _MSG_FILTER_PIPELINE,
        read_h5mu,
    )

    df = spark.createDataFrame(
        [("c1", "f1", 1.5), ("c1", "f2", 2.5), ("c2", "f1", 3.5)],
        "cell_id string, feature_id string, value double",
    )
    path = str(tmp_path / "m.h5mu")
    export_h5mu({"m": df}, path, compression="gzip")
    content = open(path, "rb").read()
    r = H5Reader(content)
    pipeline = r._parse_filter_pipeline(
        r.open("mod/m/X/data").one(_MSG_FILTER_PIPELINE)
    )
    assert [fid for fid, _ in pipeline] == [1], pipeline  # deflate only
    out = read_h5mu(content)
    kind, d, i, p, shape = out["mod"]["m"]["x"]
    assert kind == "csr" and list(d) == [1.5, 2.5, 3.5]


# -- one AnnData group reader for .h5ad roots and .h5mu modalities ---------


def _anndata_group(w, x, obs=None) -> int:
    """An AnnData group (X + obs/var dataframes) over BC x ["f0", "f1"]."""
    if obs is None:
        obs = w.write_group(
            {"_index": w.write_dataset(BC)}, attrs={"_index": "_index"}
        )
    var = w.write_group(
        {"_index": w.write_dataset(["f0", "f1"])}, attrs={"_index": "_index"}
    )
    return w.write_group({"X": x, "obs": obs, "var": var})


def _h5mu_with_mod(build_x, build_obs=lambda w: None) -> bytes:
    """A MuData container whose one modality 'm' holds build_x(w) as X."""
    from atac_data_products_spark.sources.hdf5_write import Writer

    w = Writer()
    mod = w.write_group({"m": _anndata_group(w, build_x(w), build_obs(w))})
    obs = w.write_group(
        {"_index": w.write_dataset(BC)}, attrs={"_index": "_index"}
    )
    root = w.write_group(
        {"mod": mod, "obs": obs}, attrs={"encoding-type": "MuData"}
    )
    return w.finish(root)


def _one_entry_csr(w, attrs: dict) -> int:
    """A csr X group holding 1.0 at (0, 0), with the given attributes."""
    return w.write_group(
        {
            "data": w.write_dataset(np.array([1.0])),
            "indices": w.write_dataset(np.array([0], dtype="i4")),
            "indptr": w.write_dataset(np.array([0, 1, 1, 1], dtype="i8")),
        },
        attrs=attrs,
    )


def test_modality_x_without_shape_is_unsupported():
    """A csr X with no shape attribute is the codec's explicit
    NotImplementedError in a modality, as it is in an .h5ad, not a raw
    KeyError."""

    def csr_without_shape(w):
        return _one_entry_csr(w, {"encoding-type": "csr_matrix"})

    with pytest.raises(NotImplementedError, match="/mod/m/X without shape"):
        read_h5mu(_h5mu_with_mod(csr_without_shape))


def test_modality_dense_x_decodes_like_h5ad():
    """A dense X decodes in a modality to the same rows as the same
    matrix in an .h5ad."""
    import pandas as pd

    from tests.hdf5_fixtures import build_h5ad_dense
    from atac_data_products_spark.sources.ingest import (
        decode_h5ad_bytes,
        decode_h5mu_bytes,
    )

    x = np.array([[0.0, 2.0], [1.5, 0.0], [0.0, 4.0]])
    mu = pd.concat(
        list(decode_h5mu_bytes(_h5mu_with_mod(lambda w: w.write_dataset(x)), "u"))
    )
    ad = pd.concat(list(decode_h5ad_bytes(build_h5ad_dense(BC, ["f0", "f1"], x), "d")))
    assert set(mu["modality"]) == {"m"}
    cols = ["barcode", "feature_id", "value"]
    assert mu[cols].values.tolist() == ad[cols].values.tolist()
    assert mu[cols].values.tolist() == [
        ["AAAC#1", "f1", 2.0], ["GGGT#2", "f0", 1.5], ["TTTT#3", "f1", 4.0],
    ]


def test_modality_compound_obs_is_rejected():
    """An obs stored as a dataset (pre-0.7 anndata's compound table)
    is rejected in a modality with the same error as in an .h5ad."""
    from atac_data_products_spark.sources.hdf5_write import Writer

    def obs_dataset(w):
        return w.write_dataset(np.arange(3, dtype="int64"))

    def csr(w):
        return _one_entry_csr(
            w, {"encoding-type": "csr_matrix", "shape": [3, 2]}
        )

    with pytest.raises(NotImplementedError, match="compound-dataset /mod/m/obs"):
        read_h5mu(_h5mu_with_mod(csr, obs_dataset))
    w = Writer()
    h5ad = w.finish(_anndata_group(w, csr(w), obs_dataset(w)))
    with pytest.raises(NotImplementedError, match="compound-dataset /obs"):
        read_h5ad(h5ad)
