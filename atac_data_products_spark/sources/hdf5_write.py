"""Minimal pure-Python HDF5 *writer* — h5ad export and fixtures.

The sibling of sources/hdf5.py (the reader): authored independently
against the HDF5 File Format Specification v3.0 (same public document,
no shared parsing/serialization code), which lets the codec tests pin
both implementations against the spec by round-trip without h5py in
the container.  Emits the exact structures default-settings h5py
produces: superblock v0, v1 object headers, old-style symbol-table
groups (TREE/SNOD/HEAP), contiguous or chunked-uncompressed layouts,
v1 attributes, and variable-length UTF-8 strings in GCOL global heaps.

Spec layout choices mirror libhdf5's defaults (names start at local
heap offset 8 with offset 0 reserved for the empty string; SNOD entries
sorted by name; one level-0 B-tree node per group).

Product use: ``build_h5ad_csr`` writes the reference's own per-dataset
file format (bin/concatenate.py:62) and ``build_h5mu`` the MuData
product container, without any HDF5 dependency; the scan_h5ad_codec
contract query round-trips an h5ad through the distributed ingest seam
under the DuckDB oracle gate.
"""

from __future__ import annotations

import struct

import numpy as np

UNDEF = 0xFFFFFFFFFFFFFFFF


def _pad8(b: bytes) -> bytes:
    return b + b"\x00" * (-len(b) % 8)


def _dt_int(size: int, signed: bool = True) -> bytes:
    bits = b"\x08\x00\x00" if signed else b"\x00\x00\x00"
    return (
        bytes([0x10])
        + bits
        + struct.pack("<I", size)
        + struct.pack("<HH", 0, size * 8)
    )


def _dt_float(size: int) -> bytes:
    if size == 8:
        props = struct.pack("<HHBBBBI", 0, 64, 52, 11, 0, 52, 1023)
    else:
        props = struct.pack("<HHBBBBI", 0, 32, 23, 8, 0, 23, 127)
    return bytes([0x11]) + b"\x20\x3f\x00" + struct.pack("<I", size) + props


def _dt_fixed_str(size: int) -> bytes:
    return bytes([0x13]) + b"\x10\x00\x00" + struct.pack("<I", size)


def _dt_vlen_str() -> bytes:
    # class 9 v1; bits: type=1 (string), pad=0, charset=utf8(bit 8)
    base = _dt_fixed_str(1)
    return bytes([0x19]) + b"\x01\x01\x00" + struct.pack("<I", 16) + base


def _dataspace(dims: tuple[int, ...]) -> bytes:
    return (
        bytes([1, len(dims), 0])
        + b"\x00" * 5
        + b"".join(struct.pack("<Q", d) for d in dims)
    )


def _dataspace_scalar() -> bytes:
    return bytes([1, 0, 0]) + b"\x00" * 5


class Writer:
    def __init__(self) -> None:
        self.buf = bytearray(b"\x00" * 96)  # superblock v0 + root entry

    def tell(self) -> int:
        return len(self.buf)

    def write(self, b: bytes) -> int:
        addr = len(self.buf)
        self.buf += b
        return addr

    # -- global heap -----------------------------------------------------

    def write_gcol(self, strings: list[bytes]) -> tuple[int, list[tuple[int, int]]]:
        """Write one GCOL holding `strings`; returns (collection address,
        [(collection_addr, index), ...] per string)."""
        objs = b""
        refs = []
        for i, s in enumerate(strings, start=1):
            objs += struct.pack("<HHIQ", i, 1, 0, len(s)) + _pad8(s)
            refs.append(i)
        free = struct.pack("<HHIQ", 0, 0, 0, 0)
        size = 16 + len(objs) + len(free)
        addr = self.write(
            b"GCOL" + bytes([1]) + b"\x00" * 3 + struct.pack("<Q", size)
            + objs + free
        )
        return addr, [(addr, i) for i in refs]

    def _vlen_elements(self, strings: list[str]) -> bytes:
        enc = [s.encode("utf-8") for s in strings]
        coll, refs = self.write_gcol(enc)
        out = b""
        for s, (c, i) in zip(enc, refs):
            out += struct.pack("<IQI", len(s), c, i)
        return out

    # -- messages --------------------------------------------------------

    @staticmethod
    def _msg(type_id: int, body: bytes) -> tuple[int, bytes]:
        return (type_id, body)

    def _attr_parts(self, name: str, value) -> tuple[bytes, bytes, bytes, bytes]:
        nm = name.encode("utf-8") + b"\x00"
        if isinstance(value, str):
            dt = _dt_vlen_str()
            ds = _dataspace_scalar()
            data = self._vlen_elements([value])
        elif (
            isinstance(value, (list, tuple))
            and value
            and isinstance(value[0], str)
        ):
            # 1-D vlen-string attribute array (mod-order / column-order
            # in MuData containers); reader's _decode_elements handles it
            dt = _dt_vlen_str()
            ds = _dataspace((len(value),))
            data = self._vlen_elements(list(value))
        elif isinstance(value, (list, tuple, np.ndarray)):
            arr = np.asarray(value, dtype="<i8")
            dt = _dt_int(8)
            ds = _dataspace((arr.size,))
            data = arr.tobytes()
        else:
            arr = np.asarray(value, dtype="<i8")
            dt = _dt_int(8)
            ds = _dataspace_scalar()
            data = arr.tobytes()
        return nm, dt, ds, data

    def _attr_msg(self, name: str, value) -> tuple[int, bytes]:
        nm, dt, ds, data = self._attr_parts(name, value)
        body = (
            struct.pack("<BxHHH", 1, len(nm), len(dt), len(ds))
            + _pad8(nm)
            + _pad8(dt)
            + _pad8(ds)
            + data
        )
        return self._msg(0x000C, body)

    def _object_header(self, messages: list[tuple[int, bytes]]) -> int:
        """v1 object header: 8-byte message headers, bodies padded to 8."""
        block = b""
        for type_id, body in messages:
            body = _pad8(body)
            block += struct.pack("<HHB3x", type_id, len(body), 0) + body
        hdr = struct.pack("<BxHII", 1, len(messages), 1, len(block))
        return self.write(hdr + b"\x00" * 4 + block)

    # -- datasets --------------------------------------------------------

    def write_dataset(
        self,
        values,
        attrs: dict | None = None,
        chunk_shape: tuple[int, ...] | None = None,
        gzip: bool = False,
        shuffle: bool = False,
    ) -> int:
        """Write one dataset; returns its object header address.
        gzip/shuffle apply per-chunk filters (requires chunk_shape),
        matching ``h5py.create_dataset(compression='gzip',
        shuffle=...)`` on-disk structures."""
        if isinstance(values, list) and values and isinstance(values[0], str):
            if chunk_shape is not None:
                raise ValueError("chunked layout unsupported for vlen strings")
            arr = None
            data = self._vlen_elements(values)
            dt = _dt_vlen_str()
            dims = (len(values),)
            elem = 16
        else:
            arr = np.asarray(values)
            if arr.dtype.kind == "S":
                dt = _dt_fixed_str(arr.dtype.itemsize)
            elif arr.dtype.kind == "f":
                arr = arr.astype(f"<f{arr.dtype.itemsize}")
                dt = _dt_float(arr.dtype.itemsize)
            else:
                arr = arr.astype(f"<i{arr.dtype.itemsize}")
                dt = _dt_int(arr.dtype.itemsize)
            data = arr.tobytes()
            dims = arr.shape
            elem = arr.dtype.itemsize
        if chunk_shape is None:
            addr = self.write(data)
            layout = struct.pack("<BBQQ", 3, 1, addr, len(data))
        else:
            # the astype-normalized little-endian arr, NOT a fresh
            # np.asarray(values): a big-endian input re-materialized
            # here would write BE bytes under the LE-declared datatype
            # (silent value corruption — round-4 ADVICE)
            layout = self._write_chunked(
                arr, dims, chunk_shape, elem,
                gzip=gzip, shuffle=shuffle,
            )
        msgs = [
            self._msg(0x0001, _dataspace(dims)),
            self._msg(0x0003, dt),
            self._msg(0x0008, layout),
        ]
        if chunk_shape is not None and (gzip or shuffle):
            msgs.append(self._msg(0x000B, self._filter_pipeline(elem, gzip, shuffle)))
        for k, v in (attrs or {}).items():
            msgs.append(self._attr_msg(k, v))
        return self._object_header(msgs)

    @staticmethod
    def _filter_pipeline(elem: int, gzip: bool, shuffle: bool) -> bytes:
        """v1 filter pipeline message: shuffle (id 2) before deflate
        (id 1) in write order, as libhdf5 arranges them."""

        def filt(fid: int, cd: tuple[int, ...]) -> bytes:
            b = struct.pack("<HHHH", fid, 0, 0, len(cd))
            b += b"".join(struct.pack("<I", c) for c in cd)
            if len(cd) % 2 == 1:
                b += b"\x00" * 4
            return b

        filters = b""
        n = 0
        if shuffle:
            filters += filt(2, (elem,))
            n += 1
        if gzip:
            filters += filt(1, (6,))
            n += 1
        return struct.pack("<BB6x", 1, n) + filters

    def _write_chunked(
        self,
        arr: np.ndarray,
        dims: tuple[int, ...],
        chunk_shape: tuple[int, ...],
        elem: int,
        gzip: bool = False,
        shuffle: bool = False,
    ) -> bytes:
        import zlib

        rank = len(dims)
        entries = []  # (offsets, chunk_addr, chunk_nbytes)
        grids = [range(0, d, c) for d, c in zip(dims, chunk_shape)]

        def rec(prefix):
            if len(prefix) == rank:
                sel = tuple(
                    slice(o, min(o + c, d))
                    for o, c, d in zip(prefix, chunk_shape, dims)
                )
                full = np.zeros(chunk_shape, dtype=arr.dtype)
                block = arr[sel]
                full[tuple(slice(0, s) for s in block.shape)] = block
                raw = full.tobytes()
                if shuffle and elem > 1:  # byte-transpose, write order first
                    raw = (
                        np.frombuffer(raw, dtype="u1")
                        .reshape(-1, elem)
                        .T.tobytes()
                    )
                if gzip:
                    raw = zlib.compress(raw, 6)
                entries.append((tuple(prefix), self.write(raw), len(raw)))
                return
            for o in grids[len(prefix)]:
                rec([*prefix, o])

        rec([])
        # level-0 chunk B-tree: key_i | child_i ... | key_n
        body = struct.pack("<4sBBH", b"TREE", 1, 0, len(entries))
        body += struct.pack("<QQ", UNDEF, UNDEF)
        for offs, addr, nbytes in entries:
            body += struct.pack("<II", nbytes, 0)
            body += b"".join(struct.pack("<Q", o) for o in offs)
            body += struct.pack("<Q", 0)  # element-size dimension offset
            body += struct.pack("<Q", addr)
        body += struct.pack("<II", 0, 0) + b"\x00" * 8 * (rank + 1)  # end key
        btree = self.write(body)
        lay = struct.pack("<BBBQ", 3, 2, rank + 1, btree)
        lay += b"".join(struct.pack("<I", c) for c in chunk_shape)
        lay += struct.pack("<I", elem)
        return lay

    # -- groups ----------------------------------------------------------

    def write_group(self, children: dict[str, int], attrs: dict | None = None) -> int:
        """children: name -> object header address (already written)."""
        names = sorted(children)
        heap_data = bytearray(b"\x00" * 8)  # offset 0: empty string
        offsets = {}
        for n in names:
            offsets[n] = len(heap_data)
            heap_data += _pad8(n.encode("utf-8") + b"\x00")
        heap_data_addr = self.write(bytes(heap_data))
        heap_addr = self.write(
            b"HEAP"
            + bytes([0])
            + b"\x00" * 3
            + struct.pack("<QQQ", len(heap_data), 1, heap_data_addr)
        )
        snod = struct.pack("<4sBxH", b"SNOD", 1, len(names))
        for n in names:
            snod += struct.pack("<QQI4x16x", offsets[n], children[n], 0)
        snod_addr = self.write(snod)
        bt = struct.pack("<4sBBH", b"TREE", 0, 0, 1)
        bt += struct.pack("<QQ", UNDEF, UNDEF)
        bt += struct.pack("<QQQ", 0, snod_addr, offsets[names[-1]] if names else 0)
        btree_addr = self.write(bt)
        msgs = [self._msg(0x0011, struct.pack("<QQ", btree_addr, heap_addr))]
        for k, v in (attrs or {}).items():
            msgs.append(self._attr_msg(k, v))
        return self._object_header(msgs)

    # -- finish ----------------------------------------------------------

    def finish(self, root_header_addr: int) -> bytes:
        sb = b"\x89HDF\r\n\x1a\n"
        sb += bytes([0, 0, 0, 0, 0, 8, 8, 0])
        sb += struct.pack("<HHI", 4, 16, 0)
        sb += struct.pack("<QQQQ", 0, UNDEF, len(self.buf), UNDEF)
        # root symbol table entry (cache type 0 — reader uses the
        # group's own symbol-table message)
        sb += struct.pack("<QQI4x16x", 0, root_header_addr, 0)
        assert len(sb) == 96
        self.buf[: len(sb)] = sb
        return bytes(self.buf)


def _write_csr_anndata(
    w: Writer,
    barcodes: list[str],
    features: list[str],
    data: np.ndarray,
    indices: np.ndarray,
    indptr: np.ndarray,
    chunked: bool = False,
    gzip: bool = False,
    shuffle: bool = False,
) -> int:
    """Write one AnnData-encoded group (X csr group + obs/var dataframe
    groups) into an open Writer; returns the group's header address.
    Shared by the standalone .h5ad builder and the per-modality groups
    of the MuData container."""
    chunked = chunked or gzip or shuffle
    chunk = (max(1, len(np.asarray(data)) // 3),) if chunked else None
    fopts = dict(gzip=gzip, shuffle=shuffle)
    d = w.write_dataset(
        np.asarray(data, dtype="<f8"), chunk_shape=chunk, **fopts
    )
    i = (
        w.write_dataset(
            np.asarray(indices, dtype="<i4"),
            chunk_shape=(max(1, len(np.asarray(indices))),),
            **fopts,
        )
        if gzip or shuffle
        else w.write_dataset(np.asarray(indices, dtype="<i4"))
    )
    p = w.write_dataset(np.asarray(indptr, dtype="<i8"))
    x = w.write_group(
        {"data": d, "indices": i, "indptr": p},
        attrs={
            "encoding-type": "csr_matrix",
            "encoding-version": "0.1.0",
            "shape": [len(barcodes), len(features)],
        },
    )
    obs_idx = w.write_dataset(list(barcodes))
    obs = w.write_group(
        {"_index": obs_idx},
        attrs={"encoding-type": "dataframe", "_index": "_index"},
    )
    var_idx = w.write_dataset(list(features))
    var = w.write_group(
        {"_index": var_idx},
        attrs={"encoding-type": "dataframe", "_index": "_index"},
    )
    return w.write_group({"X": x, "obs": obs, "var": var})


def build_h5ad_csr(
    barcodes: list[str],
    features: list[str],
    data: np.ndarray,
    indices: np.ndarray,
    indptr: np.ndarray,
    chunked: bool = False,
    gzip: bool = False,
    shuffle: bool = False,
) -> bytes:
    """Assemble a minimal anndata-layout .h5ad: /X csr group + obs/var.
    ``gzip`` deflate-filters the X arrays (implies chunked), mirroring
    ``anndata.write_h5ad(compression="gzip")``; ``shuffle`` adds the
    byte-shuffle filter (h5py ``shuffle=True``, off in default anndata
    gzip output)."""
    w = Writer()
    root = _write_csr_anndata(
        w, barcodes, features, data, indices, indptr,
        chunked=chunked, gzip=gzip, shuffle=shuffle,
    )
    return w.finish(root)


# -- MuData (.h5mu) container -----------------------------------------------

MUDATA_USERBLOCK_INFO = (
    "MuData (format-version=0.1.0;"
    "creator=atac-data-products-spark;creator-version=0.5.0)"
)


def wrap_userblock(inner: bytes, info: str = MUDATA_USERBLOCK_INFO,
                   block: int = 512) -> bytes:
    """Prepend an HDF5 user block (the MuData magic prefix muon/mudata
    files carry) to a finished v0-superblock file.  The HDF5 spec allows
    the superblock at offsets 0, 512, 1024, … with all stored file
    addresses relative to the BASE ADDRESS, so the inner bytes need no
    address rewriting — only the superblock's base-address and
    end-of-file fields are patched for external readers (this repo's
    H5Reader discovers the offset and base-addresses everything
    itself)."""
    enc = info.encode("utf-8")
    if len(enc) >= block:
        raise ValueError("user block info exceeds block size")
    if inner[8] != 0:
        raise ValueError("wrap_userblock expects a v0 superblock")
    out = bytearray(enc.ljust(block, b"\x00") + inner)
    # v0 layout: sig(8) versions(8) leaf/internal-k + flags(8), then
    # base(8) free-space(8) EOF(8) driver(8)
    struct.pack_into("<Q", out, block + 24, block)
    struct.pack_into("<Q", out, block + 40, block + len(inner))
    return bytes(out)


def build_h5mu(
    modalities: dict[str, tuple],
    obs_index: list[str],
    obs_cols: dict[str, list] | None = None,
    uns: dict | None = None,
    gzip: bool = False,
    shuffle: bool = False,
) -> bytes:
    """Assemble a single-file MuData container — the reference's actual
    output artifact (``mdata.write(f"{output_file_name}.h5mu")``,
    bin/concatenate.py:150) — from the pure-Python writer:

    - ``/mod/<name>`` — one AnnData-encoded group per modality
      (``modalities``: name -> (barcodes, features, data, indices,
      indptr), CSR);
    - ``/obs`` — the SHARED obs dataframe (``obs_index`` +
      ``obs_cols``), i.e. the post-``intersect_obs`` annotation table
      the reference attaches (concatenate.py:100-110);
    - ``/obsmap/<name>`` / ``/varmap/<name>`` — 1-based row positions
      of each global obs/var row in the modality (0 = absent), the
      mudata alignment maps;
    - ``/var`` — global var index: modality features concatenated in
      mod order;
    - ``/uns`` — unstructured metadata (creation time, dataset ids,
      product uuid — concatenate.py:146-149); scalars are written as
      1-element vlen datasets (documented deviation: the pure writer
      has no scalar-dataspace dataset path).

    The byte stream is deterministic for fixed inputs (sorted modality
    order, caller-fixed obs/feature orders), so golden tests can pin
    the artifact.  Wrapped in the 512-byte MuData user block.

    ``gzip`` deflate-filters every modality's X arrays — alone it is
    the ``mdata.write(..., compression="gzip")`` on-disk layout (h5py
    leaves shuffle OFF by default); ``shuffle`` additionally enables
    the byte-shuffle filter (h5py ``shuffle=True``), which is a valid
    HDF5 pipeline but NOT what default mudata gzip output contains."""
    w = Writer()
    mod_names = sorted(modalities)
    mod_children = {
        name: _write_csr_anndata(
            w, *modalities[name], gzip=gzip, shuffle=shuffle
        )
        for name in mod_names
    }
    mod = w.write_group(mod_children, attrs={"mod-order": mod_names})
    cols = obs_cols or {}
    obs_children = {"_index": w.write_dataset(list(obs_index))}
    for c in sorted(cols):
        vals = cols[c]
        if vals and isinstance(vals[0], str):
            obs_children[c] = w.write_dataset(list(vals))
        else:
            obs_children[c] = w.write_dataset(np.asarray(vals))
    obs = w.write_group(
        obs_children,
        attrs={
            "encoding-type": "dataframe",
            "encoding-version": "0.2.0",
            "_index": "_index",
            "column-order": sorted(cols),
        },
    )
    var_names = [f for name in mod_names for f in modalities[name][1]]
    var = w.write_group(
        {"_index": w.write_dataset(var_names)},
        attrs={
            "encoding-type": "dataframe",
            "encoding-version": "0.2.0",
            "_index": "_index",
            "column-order": [],
        },
    )
    obsmap_children, varmap_children = {}, {}
    var_offset = 0
    for name in mod_names:
        bc, ft = modalities[name][0], modalities[name][1]
        pos = {b: j + 1 for j, b in enumerate(bc)}
        obsmap_children[name] = w.write_dataset(
            np.asarray([pos.get(b, 0) for b in obs_index], dtype="<i8")
        )
        # global var is the in-order concat, so the map is a contiguous
        # 1-based range per modality
        varmap_children[name] = w.write_dataset(
            np.arange(var_offset + 1, var_offset + len(ft) + 1, dtype="<i8")
        )
        var_offset += len(ft)
    obsmap = w.write_group(obsmap_children)
    varmap = w.write_group(varmap_children)
    uns_children = {}
    for k in sorted(uns or {}):
        v = (uns or {})[k]
        uns_children[k] = w.write_dataset(
            [str(x) for x in v] if isinstance(v, (list, tuple)) else [str(v)]
        )
    uns_grp = w.write_group(uns_children, attrs={"encoding-type": "dict"})
    root = w.write_group(
        {
            "mod": mod,
            "obs": obs,
            "var": var,
            "obsmap": obsmap,
            "varmap": varmap,
            "uns": uns_grp,
        },
        attrs={
            "encoding-type": "MuData",
            "encoding-version": "0.1.0",
            "encoder": "atac-data-products-spark",
            "encoder-version": "0.5.0",
        },
    )
    return wrap_userblock(w.finish(root))
