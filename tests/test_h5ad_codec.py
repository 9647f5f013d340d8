"""Round-trip tests for the pure-Python HDF5/h5ad codec.

The container ships no h5py/anndata, so fixtures come from
sources/hdf5_write.py — an independent minimal HDF5 *writer* authored
against the same public format spec (superblock v0, v1 object headers,
symbol-table groups, GCOL vlen strings, contiguous + chunked layouts).
Reader and writer share no parsing/serialization code, so round-trip
agreement pins both against the spec as implemented; the structures
emitted are the ones default-settings ``anndata.write_h5ad`` produces
(VERDICT r03 #4).
"""

from __future__ import annotations

import numpy as np
import pytest

from atac_data_products_spark.sources.hdf5 import H5Reader, read_h5ad_matrix
from atac_data_products_spark.sources.hdf5_write import Writer, build_h5ad_csr

from tests.hdf5_fixtures import WriterV2, build_h5ad_dense

BARCODES = ["BAM_data#AAAC", "GGGT", "TTTT"]
FEATURES = ["chr1:0-500", "chr1:500-1000", "chr2:0-500"]
# CSR: row0 -> (f0: 2.0, f1: 1.0), row1 -> (f0: 3.0), row2 -> (f2: 9.5)
DATA = np.array([2.0, 1.0, 3.0, 9.5])
INDICES = np.array([0, 1, 0, 2], dtype="int32")
INDPTR = np.array([0, 2, 3, 4], dtype="int64")


def test_read_h5ad_csr_contiguous():
    content = build_h5ad_csr(BARCODES, FEATURES, DATA, INDICES, INDPTR)
    out = read_h5ad_matrix(content)
    assert out["barcodes"] == BARCODES
    assert out["features"] == FEATURES
    kind, data, indices, indptr, shape = out["x"]
    assert kind == "csr"
    assert shape == (3, 3)
    np.testing.assert_array_equal(data, DATA)
    np.testing.assert_array_equal(indices, INDICES)
    np.testing.assert_array_equal(indptr, INDPTR)


def test_read_h5ad_csr_chunked():
    content = build_h5ad_csr(
        BARCODES, FEATURES, DATA, INDICES, INDPTR, chunked=True
    )
    out = read_h5ad_matrix(content)
    kind, data, *_ = out["x"]
    assert kind == "csr"
    np.testing.assert_array_equal(data, DATA)


def test_read_h5ad_csr_gzip_chunks():
    """anndata.write_h5ad(compression='gzip') layout: deflate-filtered
    chunks decode via the stdlib zlib path."""
    content = build_h5ad_csr(
        BARCODES, FEATURES, DATA, INDICES, INDPTR, gzip=True
    )
    out = read_h5ad_matrix(content)
    kind, data, indices, *_ = out["x"]
    assert kind == "csr"
    np.testing.assert_array_equal(data, DATA)
    np.testing.assert_array_equal(indices, INDICES)
    assert out["barcodes"] == BARCODES


def test_read_h5ad_csr_gzip_shuffle_chunks():
    content = build_h5ad_csr(
        BARCODES, FEATURES, DATA, INDICES, INDPTR, gzip=True, shuffle=True
    )
    out = read_h5ad_matrix(content)
    _, data, indices, indptr, _ = out["x"]
    np.testing.assert_array_equal(data, DATA)
    np.testing.assert_array_equal(indices, INDICES)
    np.testing.assert_array_equal(indptr, INDPTR)


def test_unknown_filter_rejected():
    """An unsupported filter id must raise naming the id, never
    silently misread bytes."""
    from atac_data_products_spark.sources.hdf5 import H5Reader

    w = Writer()
    ds = w.write_dataset(
        np.arange(8, dtype="<f8"), chunk_shape=(4,), gzip=True
    )
    grp = w.write_group({"d": ds})
    content = bytearray(w.finish(w.write_group({"g": grp})))
    # corrupt the filter id (1 = deflate) to szip (4) in place
    pipeline = Writer._filter_pipeline(8, True, False)
    idx = bytes(content).find(pipeline)
    assert idx > 0
    content[idx + 8] = 4  # filter id byte inside the message
    r = H5Reader(bytes(content))
    with pytest.raises(NotImplementedError, match="filter id 4"):
        r.read_dataset(r.open("g/d"))


def test_read_h5ad_dense():
    x = np.array([[0.0, 2.0, 0.0], [1.0, 0.0, 0.0], [0.0, 0.0, 9.5]])
    content = build_h5ad_dense(BARCODES, FEATURES, x)
    out = read_h5ad_matrix(content)
    kind, arr = out["x"]
    assert kind == "dense"
    np.testing.assert_array_equal(arr, x)
    assert out["barcodes"] == BARCODES


def test_reader_primitives():
    """Exercise fixed strings, int32, 2-D arrays, and attributes."""
    w = Writer()
    ints = w.write_dataset(np.arange(10, dtype="int32"))
    mat = w.write_dataset(
        np.arange(12, dtype="float64").reshape(3, 4), attrs={"rows": 3}
    )
    fixed = w.write_dataset(np.array([b"ab", b"cd"], dtype="S2"))
    grp = w.write_group({"i": ints, "m": mat, "s": fixed}, attrs={"k": "v"})
    content = w.finish(w.write_group({"g": grp}))

    r = H5Reader(content)
    g = r.open("g")
    assert r.attributes(g)["k"] == "v"
    np.testing.assert_array_equal(
        r.read_dataset(r.open("g/i")), np.arange(10)
    )
    m = r.open("g/m")
    assert r.attributes(m)["rows"] == 3
    np.testing.assert_array_equal(
        r.read_dataset(m), np.arange(12.0).reshape(3, 4)
    )
    assert r.read_dataset(r.open("g/s")) == ["ab", "cd"]
    assert r.exists("g/i") and not r.exists("g/zzz")


def test_chunked_2d_with_partial_edge_chunks():
    """Rank-2 chunk grid where the array size is not a chunk multiple:
    edge chunks are zero-padded on disk and trimmed on read."""
    img = np.arange(7 * 5, dtype="<f8").reshape(7, 5)
    for gz in (False, True):
        w = Writer()
        ds = w.write_dataset(img, chunk_shape=(3, 2), gzip=gz)
        content = w.finish(w.write_group({"d": ds}))
        out = H5Reader(content).read_dataset(H5Reader(content).open("d"))
        np.testing.assert_array_equal(out, img)


def test_v2_superblock_ohdr_compact_links():
    """libver='latest'-style files: superblock v2, OHDR object headers,
    inline link messages — same reader, different writer subclass."""
    w = WriterV2()
    ints = w.write_dataset(np.arange(10, dtype="int32"))
    mat = w.write_dataset(
        np.arange(12, dtype="float64").reshape(3, 4), attrs={"rows": 3}
    )
    vls = w.write_dataset(["alpha", "bé"])
    grp = w.write_group({"i": ints, "m": mat, "s": vls}, attrs={"k": "v"})
    content = w.finish(w.write_group({"g": grp}))

    r = H5Reader(content)
    assert r.attributes(r.open("g"))["k"] == "v"
    np.testing.assert_array_equal(r.read_dataset(r.open("g/i")), np.arange(10))
    m = r.open("g/m")
    assert r.attributes(m)["rows"] == 3
    np.testing.assert_array_equal(
        r.read_dataset(m), np.arange(12.0).reshape(3, 4)
    )
    assert r.read_dataset(r.open("g/s")) == ["alpha", "bé"]


def test_v2_h5ad_roundtrip():
    """A v2-style .h5ad decodes through the same AnnData layer."""
    w = WriterV2()
    d = w.write_dataset(np.asarray(DATA, dtype="<f8"))
    i = w.write_dataset(np.asarray(INDICES, dtype="<i4"))
    p = w.write_dataset(np.asarray(INDPTR, dtype="<i8"))
    x = w.write_group(
        {"data": d, "indices": i, "indptr": p},
        attrs={"encoding-type": "csr_matrix", "shape": [3, 3]},
    )
    obs = w.write_group(
        {"_index": w.write_dataset(list(BARCODES))}, attrs={"_index": "_index"}
    )
    var = w.write_group(
        {"_index": w.write_dataset(list(FEATURES))}, attrs={"_index": "_index"}
    )
    content = w.finish(w.write_group({"X": x, "obs": obs, "var": var}))
    out = read_h5ad_matrix(content)
    assert out["barcodes"] == BARCODES and out["features"] == FEATURES
    kind, data, *_ = out["x"]
    assert kind == "csr"
    np.testing.assert_array_equal(data, DATA)


def test_not_hdf5_rejected():
    with pytest.raises(ValueError, match="superblock"):
        H5Reader(b"definitely not an hdf5 file" * 100)


def test_decode_h5ad_bytes_fallback_to_pure_reader():
    """sources/ingest.decode_h5ad_bytes must decode real h5ad bytes to
    the reference COO rows without anndata installed — closing the one
    declared parity gap (VERDICT r03: bin/concatenate.py:62)."""
    import pandas as pd

    from atac_data_products_spark.sources.ingest import decode_h5ad_bytes

    content = build_h5ad_csr(BARCODES, FEATURES, DATA, INDICES, INDPTR)
    chunks = list(decode_h5ad_bytes(content, "ds1"))
    coo = pd.concat(chunks, ignore_index=True).sort_values(
        ["barcode", "feature_id"], ignore_index=True
    )
    expect = pd.DataFrame(
        {
            "dataset": ["ds1"] * 4,
            "barcode": ["BAM_data#AAAC", "BAM_data#AAAC", "GGGT", "TTTT"],
            "feature_id": [
                "chr1:0-500", "chr1:500-1000", "chr1:0-500", "chr2:0-500",
            ],
            "value": [2.0, 1.0, 3.0, 9.5],
        }
    ).sort_values(["barcode", "feature_id"], ignore_index=True)
    pd.testing.assert_frame_equal(coo, expect)


def test_decode_h5ad_dense_fallback():
    import pandas as pd

    from atac_data_products_spark.sources.ingest import decode_h5ad_bytes

    x = np.array([[0.0, 2.0], [3.0, 0.0]])
    content = build_h5ad_dense(["b1", "b2"], ["f1", "f2"], x)
    coo = pd.concat(list(decode_h5ad_bytes(content, "d")), ignore_index=True)
    got = {(r.barcode, r.feature_id): r.value for r in coo.itertuples()}
    assert got == {("b1", "f2"): 2.0, ("b2", "f1"): 3.0}


def _csr_from_dense(x: np.ndarray):
    data, indices, indptr = [], [], [0]
    for row in x:
        nz = np.nonzero(row)[0]
        indices.extend(int(c) for c in nz)
        data.extend(float(v) for v in row[nz])
        indptr.append(len(data))
    return (
        np.array(data, dtype="float64"),
        np.array(indices, dtype="int32"),
        np.array(indptr, dtype="int64"),
    )


def test_codec_property_roundtrip():
    """Property-style sweep without Spark: random shapes, densities,
    unicode names, and both layouts must round-trip exactly (hypothesis
    deliberately not used here — the writer is deterministic and the
    sweep covers the structural degrees of freedom: empty rows, dense
    rows, 1xN and Nx1 shapes, non-ASCII names, chunk boundaries)."""
    rng = np.random.RandomState(7)
    shapes = [(1, 1), (1, 5), (5, 1), (4, 7), (13, 3)]
    for si, (n, m) in enumerate(shapes):
        x = np.where(rng.rand(n, m) < 0.4, rng.rand(n, m) * 10, 0.0)
        if si == 2:
            x[:] = 0.0  # fully empty matrix
        barcodes = [f"bc-ü{i}" for i in range(n)]
        features = [f"féat:{j}" for j in range(m)]
        data, indices, indptr = _csr_from_dense(x)
        for chunked in (False, True):
            content = build_h5ad_csr(
                barcodes, features, data, indices, indptr, chunked=chunked
            )
            out = read_h5ad_matrix(content)
            assert out["barcodes"] == barcodes
            assert out["features"] == features
            kind, d2, i2, p2, shape = out["x"]
            assert kind == "csr" and shape == (n, m)
            np.testing.assert_array_equal(d2, data)
            np.testing.assert_array_equal(i2, indices)
            np.testing.assert_array_equal(p2, indptr)
        dense = build_h5ad_dense(barcodes, features, x)
        kind, arr = read_h5ad_matrix(dense)["x"]
        np.testing.assert_array_equal(arr, x)


def test_ingest_pipeline_with_h5ad_files(spark, tmp_path):
    """End-to-end: binaryFile scan -> mapInPandas decode of REAL h5ad
    bytes -> COO DataFrame, the exact distributed seam of SURVEY §2.1."""
    from atac_data_products_spark.sources.ingest import (
        COO_SCHEMA,
        decode_h5ad_bytes,
        ingest_binary_files,
    )

    for ds in ["ds1", "ds2"]:
        d = tmp_path / ds
        d.mkdir()
        (d / "cell_by_bin.h5ad").write_bytes(
            build_h5ad_csr(BARCODES, FEATURES, DATA, INDICES, INDPTR)
        )
    df = ingest_binary_files(
        spark, str(tmp_path / "*" / "*.h5ad"), decode_h5ad_bytes, COO_SCHEMA
    )
    rows = df.collect()
    assert len(rows) == 8  # 4 nonzeros x 2 datasets
    assert {r.dataset for r in rows} == {"ds1", "ds2"}
    assert {r.value for r in rows} == {2.0, 1.0, 3.0, 9.5}


# ---------------------------------------------------------------------------
# round-4 ADVICE regressions: v2 creation-order flag semantics, dense
# attribute rejection, no silent sparse-X defaults, chunked BE inputs
# ---------------------------------------------------------------------------


def _v2_track_order_writer():
    """WriterV2 variant emitting what h5py libver='latest' +
    track_order=True produces: OHDR flags bit 0x04 set and a 2-byte
    creation-order field after EVERY message header."""
    import struct as _struct

    class _W(WriterV2):
        def _object_header(self, messages):
            block = b""
            for n, (type_id, body) in enumerate(messages):
                block += (
                    bytes([type_id])
                    + _struct.pack("<H", len(body))
                    + b"\x00"
                    + _struct.pack("<H", n)  # creation order
                    + body
                )
            hdr = b"OHDR" + bytes([2, 0x02 | 0x04]) + _struct.pack("<I", len(block))
            return self.write(hdr + block + b"\x00" * 4)

    return _W()


def test_v2_ohdr_tracked_creation_order():
    """The 2-byte creation-order field keys off the OHDR flag, not the
    per-message flags byte (libhdf5 H5O_HDR_ATTR_CRT_ORDER_TRACKED)."""
    w = _v2_track_order_writer()
    ds = w.write_dataset(np.arange(6, dtype="int64"), attrs={"n": 6})
    content = w.finish(w.write_group({"d": ds}, attrs={"k": "v"}))
    r = H5Reader(content)
    assert r.attributes(r.open("/"))["k"] == "v"
    d = r.open("d")
    assert r.attributes(d)["n"] == 6
    np.testing.assert_array_equal(r.read_dataset(d), np.arange(6))


def test_v2_message_do_not_share_flag_skips_nothing():
    """Per-message flag 0x04 means 'do not share' and carries NO extra
    bytes; pre-fix the reader skipped 2 valid body bytes."""
    import struct as _struct

    class _W(WriterV2):
        def _object_header(self, messages):
            block = b""
            for type_id, body in messages:
                block += (
                    bytes([type_id])
                    + _struct.pack("<H", len(body))
                    + b"\x04"  # do-not-share message flag
                    + body
                )
            hdr = b"OHDR" + bytes([2, 0x02]) + _struct.pack("<I", len(block))
            return self.write(hdr + block + b"\x00" * 4)

    w = _W()
    ds = w.write_dataset(np.arange(4, dtype="int32"))
    content = w.finish(w.write_group({"d": ds}))
    r = H5Reader(content)
    np.testing.assert_array_equal(r.read_dataset(r.open("d")), np.arange(4))


def test_dense_attributes_rejected_not_silently_empty():
    """An Attribute Info message with a defined fractal-heap address
    means attrs live in dense storage the codec does not parse — must
    raise, never return {} (which downstream would mis-default)."""
    import struct as _struct

    w = WriterV2()
    ds = w.write_dataset(np.arange(3, dtype="int64"))
    # version 0, flags 1 (creation order tracked -> 2-byte max index),
    # fractal heap addr 0x1000 (defined), name btree addr UNDEF
    ai_body = bytes([0, 1]) + _struct.pack("<HQQ", 7, 0x1000, 2**64 - 1)
    grp = w._object_header(
        [
            (
                0x0006,
                bytes([1, 0x00, 1]) + b"d" + _struct.pack("<Q", ds),
            ),
            (0x0015, ai_body),
        ]
    )
    content = w.finish(grp)
    r = H5Reader(content)
    with pytest.raises(NotImplementedError, match="dense"):
        r.attributes(r.open("/"))
    # UNDEF heap address (attrs still compact) must NOT raise
    w2 = WriterV2()
    ds2 = w2.write_dataset(np.arange(3, dtype="int64"))
    ai2 = bytes([0, 0]) + _struct.pack("<QQ", 2**64 - 1, 2**64 - 1)
    grp2 = w2._object_header(
        [
            (0x0006, bytes([1, 0x00, 1]) + b"d" + _struct.pack("<Q", ds2)),
            (0x0015, ai2),
            w2._attr_msg("k", "v"),
        ]
    )
    r2 = H5Reader(w2.finish(grp2))
    assert r2.attributes(r2.open("/"))["k"] == "v"


def _csr_group_file(attrs: dict) -> bytes:
    w = WriterV2()
    x = w.write_group(
        {
            "data": w.write_dataset(np.asarray(DATA, dtype="<f8")),
            "indices": w.write_dataset(np.asarray(INDICES, dtype="<i4")),
            "indptr": w.write_dataset(np.asarray(INDPTR, dtype="<i8")),
        },
        attrs=attrs,
    )
    obs = w.write_group(
        {"_index": w.write_dataset(list(BARCODES))}, attrs={"_index": "_index"}
    )
    var = w.write_group(
        {"_index": w.write_dataset(list(FEATURES))}, attrs={"_index": "_index"}
    )
    return w.finish(w.write_group({"X": x, "obs": obs, "var": var}))


def test_group_x_without_encoding_attrs_raises():
    with pytest.raises(NotImplementedError, match="encoding-type"):
        read_h5ad_matrix(_csr_group_file({}))
    with pytest.raises(NotImplementedError, match="shape"):
        read_h5ad_matrix(_csr_group_file({"encoding-type": "csr_matrix"}))


def test_group_x_legacy_h5sparse_attrs():
    out = read_h5ad_matrix(
        _csr_group_file({"h5sparse_format": "csr", "h5sparse_shape": [3, 3]})
    )
    kind, data, _i, _p, shape = out["x"]
    assert kind == "csr" and shape == (3, 3)
    np.testing.assert_array_equal(data, DATA)


def test_chunked_write_normalizes_big_endian_input():
    """BE input arrays must be byte-swapped before chunked writes; the
    datatype message always declares little-endian (round-4 ADVICE:
    '>f8' wrote BE bytes and read back as denormals)."""
    vals = np.arange(6, dtype=">f8")
    w = Writer()
    ds = w.write_dataset(vals, chunk_shape=(4,))
    content = w.finish(w.write_group({"d": ds}))
    r = H5Reader(content)
    np.testing.assert_array_equal(
        r.read_dataset(r.open("d")), np.arange(6, dtype="<f8")
    )
    vi = np.arange(5, dtype=">i4")
    w2 = Writer()
    ds2 = w2.write_dataset(vi, chunk_shape=(2,))
    r2 = H5Reader(w2.finish(w2.write_group({"d": ds2})))
    np.testing.assert_array_equal(r2.read_dataset(r2.open("d")), np.arange(5))


# anndata fallback: only for files the pure reader rejects as unsupported
# ---------------------------------------------------------------------------

EXPECTED_ROWS = [
    ["d", "BAM_data#AAAC", "chr1:0-500", 2.0],
    ["d", "BAM_data#AAAC", "chr1:500-1000", 1.0],
    ["d", "GGGT", "chr1:0-500", 3.0],
    ["d", "TTTT", "chr2:0-500", 9.5],
]


def _stub_anndata(monkeypatch) -> list:
    """Install stub ``anndata`` and ``scipy.sparse`` modules whose
    read_h5ad returns the test matrix; returns the list of calls."""
    import sys
    import types

    import pandas as pd

    calls: list = []

    def read_h5ad(f):
        calls.append(f.read())
        return types.SimpleNamespace(
            X="stub-X",
            obs=pd.DataFrame(index=BARCODES),
            var=pd.DataFrame(index=FEATURES),
        )

    def csr_matrix(x):
        assert x == "stub-X"
        return types.SimpleNamespace(
            data=DATA, indices=INDICES, indptr=INDPTR, shape=(3, 3)
        )

    anndata = types.ModuleType("anndata")
    anndata.read_h5ad = read_h5ad
    sparse = types.ModuleType("scipy.sparse")
    sparse.csr_matrix = csr_matrix
    scipy = types.ModuleType("scipy")
    scipy.sparse = sparse
    monkeypatch.setitem(sys.modules, "anndata", anndata)
    monkeypatch.setitem(sys.modules, "scipy", scipy)
    monkeypatch.setitem(sys.modules, "scipy.sparse", sparse)
    return calls


def _decoded_rows(content: bytes) -> list:
    import pandas as pd

    from atac_data_products_spark.sources.ingest import decode_h5ad_bytes

    coo = pd.concat(list(decode_h5ad_bytes(content, "d")), ignore_index=True)
    return coo[["dataset", "barcode", "feature_id", "value"]].values.tolist()


def test_supported_file_never_calls_anndata(monkeypatch):
    calls = _stub_anndata(monkeypatch)
    content = build_h5ad_csr(BARCODES, FEATURES, DATA, INDICES, INDPTR)
    assert _decoded_rows(content) == EXPECTED_ROWS
    assert calls == []


def test_unsupported_file_decodes_through_anndata(monkeypatch):
    """A file the pure reader rejects gets its rows from anndata, expanded
    by the same _coo_blocks as the pure reader's output."""
    from atac_data_products_spark.sources import ingest

    calls = _stub_anndata(monkeypatch)
    coo_blocks = ingest._coo_blocks
    expanded = []

    def spy(m, col, label):
        expanded.append(m["x"][0])
        return coo_blocks(m, col, label)

    monkeypatch.setattr(ingest, "_coo_blocks", spy)
    content = _csr_group_file({"encoding-type": "coo_matrix", "shape": [3, 3]})
    assert _decoded_rows(content) == EXPECTED_ROWS
    assert calls == [content]
    assert expanded == ["csr"]


def test_unsupported_file_without_anndata_raises(monkeypatch):
    import sys

    monkeypatch.setitem(sys.modules, "anndata", None)  # import -> ImportError
    content = _csr_group_file({"encoding-type": "coo_matrix", "shape": [3, 3]})
    with pytest.raises(NotImplementedError, match="coo_matrix"):
        _decoded_rows(content)
