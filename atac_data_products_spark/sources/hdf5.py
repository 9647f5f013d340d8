"""Minimal pure-Python HDF5 reader for AnnData ``.h5ad`` and MuData
``.h5mu`` payloads.

The reference's core input format is HDF5 (``anndata.read_h5ad``,
``bin/concatenate.py:62``), but this container ships neither ``h5py``
nor ``anndata`` and package installation is prohibited.  This module
implements, from the published HDF5 File Format Specification (v3.0,
https://docs.hdfgroup.org/hdf5/develop/_f_m_t3.html), exactly the
subset that ``h5py``-written ``.h5ad`` files use by default:

  - superblock versions 0 (h5py default / libver 'earliest') and 2/3
    (libver 'latest'), at offset 0 or any 512·2^n byte boundary
  - version 1 object headers (+ continuation blocks) and version 2
    ('OHDR') object headers (+ 'OCHK' continuations)
  - old-style groups (symbol-table message -> v1 group B-tree ->
    SNOD symbol-table nodes -> local heap names) and new-style
    compact groups (inline link messages)
  - dataspace (v1/v2), datatype classes: fixed-point, IEEE float,
    fixed-length string, variable-length string (global heap 'GCOL')
  - attribute messages v1 and v3 (v2 accepted too)
  - data layouts: compact, contiguous, and chunked (v1 chunk B-tree)
    with filter pipelines deflate/gzip (zlib stdlib), shuffle, and
    fletcher32 — i.e. ``anndata.write_h5ad(compression="gzip")`` too;
    an unknown filter id (szip, lzf, plugins) raises
    NotImplementedError naming the id

NOT supported (and explicitly rejected, never silently misread):
fractal-heap dense groups/attributes, szip/lzf/plugin-filtered chunks,
compound or reference datatypes, version 3/4 data layouts other than
the above.  These do not occur in default- or gzip-settings
``anndata.write_h5ad`` output.

An ``.h5ad`` root and each ``/mod/<name>`` of an ``.h5mu`` are the same
AnnData group, so one reader, ``_read_anndata``, decodes both, with the
same errors.

Everything here is stateless byte slicing over one file's content —
it runs inside the Arrow-batched ``mapInPandas`` decode seam
(sources/ingest.py), one file per task, so the distributed plan is
identical to the parquet-payload path already proven.
"""

from __future__ import annotations

import struct
from dataclasses import dataclass, field

import numpy as np

_SIG = b"\x89HDF\r\n\x1a\n"

# header message type ids
_MSG_DATASPACE = 0x0001
_MSG_LINK_INFO = 0x0002
_MSG_DATATYPE = 0x0003
_MSG_FILL_OLD = 0x0004
_MSG_FILL = 0x0005
_MSG_LINK = 0x0006
_MSG_LAYOUT = 0x0008
_MSG_GROUP_INFO = 0x000A
_MSG_FILTER_PIPELINE = 0x000B
_MSG_ATTRIBUTE = 0x000C
_MSG_CONTINUATION = 0x0010
_MSG_SYMBOL_TABLE = 0x0011
_MSG_ATTR_INFO = 0x0015

_UNDEF = 0xFFFFFFFFFFFFFFFF


@dataclass
class _Dtype:
    kind: str  # 'int' | 'uint' | 'float' | 'string' | 'vlen_str'
    size: int  # on-disk element size in bytes
    little_endian: bool = True

    def numpy(self) -> np.dtype:
        order = "<" if self.little_endian else ">"
        if self.kind == "int":
            return np.dtype(f"{order}i{self.size}")
        if self.kind == "uint":
            return np.dtype(f"{order}u{self.size}")
        if self.kind == "float":
            return np.dtype(f"{order}f{self.size}")
        if self.kind == "string":
            return np.dtype(f"S{self.size}")
        raise _unsupported(f"no numpy dtype for {self.kind}")


@dataclass
class _Obj:
    """Parsed object header: messages by type, resolved lazily."""

    addr: int
    messages: list[tuple[int, bytes]] = field(default_factory=list)

    def all(self, type_id: int) -> list[bytes]:
        return [b for t, b in self.messages if t == type_id]

    def one(self, type_id: int) -> bytes | None:
        msgs = self.all(type_id)
        return msgs[0] if msgs else None


def _unsupported(what: str) -> NotImplementedError:
    return NotImplementedError(
        f"HDF5 feature not supported by the pure-Python reader: {what} "
        "(install h5py/anndata for full coverage)"
    )


class H5Reader:
    """Random-access reader over one HDF5 file's bytes."""

    def __init__(self, content: bytes):
        self.b = content
        self._find_superblock()

    # -- superblock ------------------------------------------------------

    def _find_superblock(self) -> None:
        off = 0
        while True:
            if self.b[off : off + 8] == _SIG:
                break
            off = 512 if off == 0 else off * 2
            if off + 8 > len(self.b):
                raise ValueError("not an HDF5 file (no superblock signature)")
        self.base = off  # superblock offsets are relative to base address
        v = self.b[off + 8]
        if v in (0, 1):
            so, sl = self.b[off + 13], self.b[off + 14]
            if (so, sl) != (8, 8):
                raise _unsupported(f"offset/length size {so}/{sl}")
            p = off + 24 if v == 0 else off + 28  # v1 adds 4 bytes
            # base addr, free-space addr, EOF addr, driver info addr
            p += 32
            # root group symbol table entry
            self.root = self._symbol_entry(p)[1]
        elif v in (2, 3):
            if (self.b[off + 9], self.b[off + 10]) != (8, 8):
                raise _unsupported("offset/length size != 8 in superblock v2+")
            # 12-byte prefix, then base/extension/EOF addresses (8 each),
            # then the root group object header address
            (root,) = struct.unpack_from("<Q", self.b, off + 12 + 24)
            self.root = self.base + root
        else:
            raise _unsupported(f"superblock version {v}")

    def _symbol_entry(self, p: int) -> tuple[int, int, int, int]:
        """Returns (link_name_offset, header_addr, btree_addr, heap_addr);
        the last two only meaningful when cache type is 1."""
        name_off, hdr, cache = struct.unpack_from("<QQI", self.b, p)
        bt = hp = _UNDEF
        if cache == 1:
            bt, hp = struct.unpack_from("<QQ", self.b, p + 24)
        return name_off, self.base + hdr, bt, hp

    # -- object headers --------------------------------------------------

    def read_object(self, addr: int) -> _Obj:
        obj = _Obj(addr)
        if self.b[addr : addr + 4] == b"OHDR":
            self._read_v2_header(addr, obj)
        else:
            self._read_v1_header(addr, obj)
        return obj

    def _read_v1_header(self, addr: int, obj: _Obj) -> None:
        ver, _, n_msgs, _refs, hdr_size = struct.unpack_from(
            "<BBHII", self.b, addr
        )
        if ver != 1:
            raise _unsupported(f"object header version {ver} at {addr}")
        blocks = [(addr + 16, hdr_size)]  # 12-byte prefix + 4 pad
        read = 0
        while blocks and read < n_msgs:
            p, size = blocks.pop(0)
            end = p + size
            while p + 8 <= end and read < n_msgs:
                t, sz, _flags = struct.unpack_from("<HHB", self.b, p)
                body = self.b[p + 8 : p + 8 + sz]
                if t == _MSG_CONTINUATION:
                    coff, clen = struct.unpack_from("<QQ", body, 0)
                    blocks.append((self.base + coff, clen))
                else:
                    obj.messages.append((t, body))
                read += 1
                p += 8 + sz

    def _read_v2_header(self, addr: int, obj: _Obj) -> None:
        flags = self.b[addr + 5]
        p = addr + 6
        if flags & 0x20:
            p += 16  # times
        if flags & 0x10:
            p += 4  # max compact / min dense attrs
        size_bytes = 1 << (flags & 0x3)
        chunk0 = int.from_bytes(self.b[p : p + size_bytes], "little")
        p += size_bytes
        # the optional 2-byte per-message creation-order field is keyed
        # off the OBJECT HEADER's "attribute creation order tracked"
        # flag (0x04), NOT the per-message flags byte — libhdf5's
        # H5O_HDR_ATTR_CRT_ORDER_TRACKED; per-message bit 0x04 means
        # "do not share" and carries no extra bytes (round-4 ADVICE:
        # h5py libver='latest' + track_order=True files misparsed)
        track_order = bool(flags & 0x4)
        blocks = [(p, chunk0)]
        while blocks:
            p, size = blocks.pop(0)
            end = p + size  # excludes trailing checksum
            while p + 4 <= end:
                t = self.b[p]
                sz = struct.unpack_from("<H", self.b, p + 1)[0]
                p += 4
                if track_order:
                    p += 2  # creation order
                body = self.b[p : p + sz]
                if t == _MSG_CONTINUATION:
                    coff, clen = struct.unpack_from("<QQ", body, 0)
                    # OCHK block: 4-byte signature, then messages,
                    # then 4-byte checksum
                    blocks.append((self.base + coff + 4, clen - 8))
                else:
                    obj.messages.append((t, body))
                p += sz

    # -- groups ----------------------------------------------------------

    def list_group(self, obj: _Obj) -> dict[str, int]:
        """name -> object header address for one group."""
        st = obj.one(_MSG_SYMBOL_TABLE)
        if st is not None:
            btree, heap = struct.unpack_from("<QQ", st, 0)
            return self._walk_group_btree(self.base + btree, self.base + heap)
        links: dict[str, int] = {}
        for body in obj.all(_MSG_LINK):
            name, target = self._parse_link(body)
            if target is not None:
                links[name] = target
        if links:
            return links
        li = obj.one(_MSG_LINK_INFO)
        if li is not None and not obj.all(_MSG_LINK):
            # dense (fractal heap) links would live behind LINK_INFO:
            # version(1), flags(1), [max creation index (8) if flags&1],
            # fractal heap address(8)
            fheap_off = 2 + (8 if li[1] & 0x1 else 0)
            (fheap,) = struct.unpack_from("<Q", li, fheap_off)
            if fheap != _UNDEF:
                raise _unsupported("fractal-heap (dense) group links")
        return links

    def _parse_link(self, body: bytes) -> tuple[str, int | None]:
        ver, flags = body[0], body[1]
        if ver != 1:
            raise _unsupported(f"link message version {ver}")
        p = 2
        ltype = 0
        if flags & 0x8:
            ltype = body[p]
            p += 1
        if flags & 0x4:
            p += 8  # creation order
        if flags & 0x10:
            p += 1  # charset
        nlen_bytes = 1 << (flags & 0x3)
        nlen = int.from_bytes(body[p : p + nlen_bytes], "little")
        p += nlen_bytes
        name = body[p : p + nlen].decode("utf-8")
        p += nlen
        if ltype != 0:
            return name, None  # soft/external links: ignore
        (addr,) = struct.unpack_from("<Q", body, p)
        return name, self.base + addr

    def _walk_group_btree(self, btree: int, heap: int) -> dict[str, int]:
        heap_data = self._local_heap_data(heap)
        out: dict[str, int] = {}

        def walk(node: int) -> None:
            sig = self.b[node : node + 4]
            if sig == b"SNOD":
                n = struct.unpack_from("<H", self.b, node + 6)[0]
                p = node + 8
                for _ in range(n):
                    name_off, hdr, _bt, _hp = self._symbol_entry(p)
                    out[self._heap_str(heap_data, name_off)] = hdr
                    p += 40
                return
            if sig != b"TREE":
                raise ValueError(f"bad group B-tree node at {node}")
            n = struct.unpack_from("<H", self.b, node + 6)[0]
            p = node + 8 + 16  # skip siblings
            p += 8  # key 0
            for _ in range(n):
                (child,) = struct.unpack_from("<Q", self.b, p)
                walk(self.base + child)
                p += 16  # child + next key

        if btree - self.base != _UNDEF:
            walk(btree)
        return out

    def _local_heap_data(self, heap: int) -> int:
        if self.b[heap : heap + 4] != b"HEAP":
            raise ValueError(f"bad local heap at {heap}")
        (data_addr,) = struct.unpack_from("<Q", self.b, heap + 24)
        return self.base + data_addr

    def _heap_str(self, data_addr: int, off: int) -> str:
        p = data_addr + off
        end = self.b.index(b"\x00", p)
        return self.b[p:end].decode("utf-8")

    # -- datatype / dataspace / attributes -------------------------------

    def _parse_datatype(self, body: bytes) -> _Dtype:
        cls = body[0] & 0x0F
        bits0 = body[1]
        (size,) = struct.unpack_from("<I", body, 4)
        le = not (bits0 & 0x1)
        if cls == 0:  # fixed-point
            signed = bool(bits0 & 0x8)
            return _Dtype("int" if signed else "uint", size, le)
        if cls == 1:  # float
            return _Dtype("float", size, le)
        if cls == 3:  # fixed string
            return _Dtype("string", size, True)
        if cls == 9:  # variable-length
            if (bits0 & 0x0F) == 1:
                return _Dtype("vlen_str", size, True)
            raise _unsupported("variable-length non-string datatype")
        raise _unsupported(f"datatype class {cls}")

    def _parse_dataspace(self, body: bytes) -> tuple[int, ...]:
        ver, rank = body[0], body[1]
        p = 8 if ver == 1 else 4
        return tuple(struct.unpack_from(f"<{rank}Q", body, p))

    def attributes(self, obj: _Obj) -> dict[str, object]:
        # dense (fractal-heap) attribute storage must be REJECTED, not
        # silently skipped: compact 0x000C messages are absent for such
        # files and a caller would see an empty dict and mis-default
        # (the module contract is "explicitly rejected, never silently
        # misread" — round-4 ADVICE; mirrors the LINK_INFO guard).
        # Attribute Info message: version(1), flags(1),
        # [max creation index (2) if flags&1], fractal heap address(8)
        ai = obj.one(_MSG_ATTR_INFO)
        if ai is not None:
            fheap_off = 2 + (2 if ai[1] & 0x1 else 0)
            (fheap,) = struct.unpack_from("<Q", ai, fheap_off)
            if fheap != _UNDEF:
                raise _unsupported("fractal-heap (dense) attributes")
        out: dict[str, object] = {}
        for body in obj.all(_MSG_ATTRIBUTE):
            name, value = self._parse_attribute(body)
            out[name] = value
        return out

    def _parse_attribute(self, body: bytes) -> tuple[str, object]:
        ver = body[0]
        if ver == 1:
            name_sz, dt_sz, ds_sz = struct.unpack_from("<HHH", body, 2)
            p = 8
            pad = lambda n: (n + 7) & ~7  # noqa: E731
            name = body[p : p + name_sz].split(b"\x00")[0].decode("utf-8")
            p += pad(name_sz)
            dt = self._parse_datatype(body[p : p + dt_sz])
            p += pad(dt_sz)
            dims = self._parse_dataspace(body[p : p + ds_sz])
            p += pad(ds_sz)
        elif ver in (2, 3):
            name_sz, dt_sz, ds_sz = struct.unpack_from("<HHH", body, 2)
            p = 8 + (1 if ver == 3 else 0)
            name = body[p : p + name_sz].split(b"\x00")[0].decode("utf-8")
            p += name_sz
            dt = self._parse_datatype(body[p : p + dt_sz])
            p += dt_sz
            dims = self._parse_dataspace(body[p : p + ds_sz])
            p += ds_sz
        else:
            raise _unsupported(f"attribute message version {ver}")
        n = int(np.prod(dims)) if dims else 1
        raw = body[p : p + n * dt.size]
        value = self._decode_elements(raw, dt, n)
        if not dims:  # scalar
            value = value[0]
        return name, value

    def _decode_elements(self, raw: bytes, dt: _Dtype, n: int) -> list:
        if dt.kind == "vlen_str":
            out = []
            for i in range(n):
                ln, coll, idx = struct.unpack_from("<IQI", raw, i * 16)
                out.append(self._global_heap_bytes(coll, idx)[:ln].decode("utf-8"))
            return out
        arr = np.frombuffer(raw, dtype=dt.numpy(), count=n)
        if dt.kind == "string":
            return [x.split(b"\x00")[0].decode("utf-8") for x in arr]
        return arr.tolist()

    # -- global heap (vlen payloads) --------------------------------------

    def _global_heap_bytes(self, coll_addr: int, index: int) -> bytes:
        p = self.base + coll_addr
        if self.b[p : p + 4] != b"GCOL":
            raise ValueError(f"bad global heap collection at {coll_addr}")
        (size,) = struct.unpack_from("<Q", self.b, p + 8)
        end = p + size
        q = p + 16
        while q < end:
            idx, _refs = struct.unpack_from("<HH", self.b, q)
            (obj_size,) = struct.unpack_from("<Q", self.b, q + 8)
            if idx == index:
                return self.b[q + 16 : q + 16 + obj_size]
            if idx == 0:
                break
            q += 16 + ((obj_size + 7) & ~7)
        raise ValueError(f"global heap object {index} not found")

    # -- datasets ----------------------------------------------------------

    def read_dataset(self, obj: _Obj) -> np.ndarray | list:
        dt_body = obj.one(_MSG_DATATYPE)
        ds_body = obj.one(_MSG_DATASPACE)
        lay = obj.one(_MSG_LAYOUT)
        if dt_body is None or ds_body is None or lay is None:
            raise ValueError("object is not a dataset")
        filters = obj.one(_MSG_FILTER_PIPELINE)
        dt = self._parse_datatype(dt_body)
        dims = self._parse_dataspace(ds_body)
        n = int(np.prod(dims)) if dims else 1
        raw = self._read_raw(lay, dims, dt, filters)
        vals = self._decode_elements(raw, dt, n)
        if dt.kind in ("vlen_str", "string"):
            return vals
        arr = np.asarray(vals, dtype=dt.numpy().newbyteorder("="))
        return arr.reshape(dims) if dims else arr

    def _read_raw(
        self,
        lay: bytes,
        dims: tuple[int, ...],
        dt: _Dtype,
        filters: bytes | None,
    ) -> bytes:
        ver = lay[0]
        if ver != 3:
            raise _unsupported(f"data layout message version {ver}")
        cls = lay[1]
        total = int(np.prod(dims)) * dt.size if dims else dt.size
        if cls == 0:  # compact
            (sz,) = struct.unpack_from("<H", lay, 2)
            return lay[4 : 4 + sz]
        if cls == 1:  # contiguous
            addr, size = struct.unpack_from("<QQ", lay, 2)
            if addr == _UNDEF:
                return b"\x00" * total  # never allocated -> fill zeros
            return self.b[self.base + addr : self.base + addr + size]
        if cls == 2:  # chunked
            pipeline = self._parse_filter_pipeline(filters)
            rank = lay[2] - 1  # includes the element-size dimension
            (btree,) = struct.unpack_from("<Q", lay, 3)
            chunk_dims = struct.unpack_from(f"<{rank}I", lay, 11)
            return self._read_chunks(
                self.base + btree, dims, chunk_dims, dt, rank, pipeline
            )
        raise _unsupported(f"data layout class {cls}")

    def _parse_filter_pipeline(
        self, body: bytes | None
    ) -> list[tuple[int, tuple[int, ...]]]:
        """[(filter_id, client_data), ...] in WRITE order.  Supported on
        read: deflate (1, zlib stdlib), shuffle (2), fletcher32 (3);
        anything else — szip, lzf, plugin codecs — is rejected by id."""
        if body is None:
            return []
        ver, nfilters = body[0], body[1]
        p = 8 if ver == 1 else 2
        out: list[tuple[int, tuple[int, ...]]] = []
        for _ in range(nfilters):
            (fid,) = struct.unpack_from("<H", body, p)
            p += 2
            if ver == 1 or fid >= 256:
                (name_len,) = struct.unpack_from("<H", body, p)
                p += 2
            else:
                name_len = 0
            _flags, n_cd = struct.unpack_from("<HH", body, p)
            p += 4
            if name_len:
                pad = (name_len + 7) & ~7 if ver == 1 else name_len
                p += pad
            cd = struct.unpack_from(f"<{n_cd}I", body, p)
            p += 4 * n_cd
            if ver == 1 and n_cd % 2 == 1:
                p += 4  # v1 pads client data to an even count
            if fid not in (1, 2, 3):
                raise _unsupported(f"filter id {fid} (not deflate/shuffle/fletcher32)")
            out.append((fid, cd))
        return out

    @staticmethod
    def _unfilter_chunk(
        raw: bytes, pipeline: list[tuple[int, tuple[int, ...]]], elem_size: int
    ) -> bytes:
        """Undo the filter pipeline in reverse write order."""
        import zlib

        for fid, cd in reversed(pipeline):
            if fid == 1:  # deflate
                raw = zlib.decompress(raw)
            elif fid == 2:  # shuffle: byte-transpose by element size
                s = cd[0] if cd else elem_size
                if s > 1 and len(raw) % s == 0:
                    arr = np.frombuffer(raw, dtype="u1").reshape(s, -1)
                    raw = arr.T.tobytes()
            elif fid == 3:  # fletcher32: payload + 4-byte checksum
                raw = raw[:-4]
        return raw

    def _read_chunks(
        self,
        btree: int,
        dims: tuple[int, ...],
        chunk_dims: tuple[int, ...],
        dt: _Dtype,
        rank: int,
        pipeline: list[tuple[int, tuple[int, ...]]] | None = None,
    ) -> bytes:
        if dt.kind == "vlen_str":
            raise _unsupported("chunked variable-length strings")
        out = np.zeros(dims, dtype=dt.numpy())
        cdims = tuple(int(c) for c in chunk_dims)

        def walk(node: int) -> None:
            if self.b[node : node + 4] != b"TREE":
                raise ValueError(f"bad chunk B-tree node at {node}")
            level = self.b[node + 5]
            n = struct.unpack_from("<H", self.b, node + 6)[0]
            p = node + 24
            key_size = 8 + 8 * (rank + 1)
            for _ in range(n):
                (chunk_bytes,) = struct.unpack_from("<I", self.b, p)
                offs = struct.unpack_from(f"<{rank}Q", self.b, p + 8)
                (child,) = struct.unpack_from("<Q", self.b, p + key_size)
                if level > 0:
                    walk(self.base + child)
                else:
                    shape = tuple(
                        min(c, d - o) for c, d, o in zip(cdims, dims, offs)
                    )
                    raw = self.b[
                        self.base + child : self.base + child + chunk_bytes
                    ]
                    if pipeline:
                        raw = self._unfilter_chunk(raw, pipeline, dt.size)
                    chunk = np.frombuffer(
                        raw, dtype=dt.numpy(), count=int(np.prod(cdims))
                    ).reshape(cdims)
                    sel = tuple(
                        slice(o, o + s) for o, s in zip(offs, shape)
                    )
                    src = tuple(slice(0, s) for s in shape)
                    out[sel] = chunk[src]
                p += key_size + 8

        if btree - self.base != _UNDEF:
            walk(btree)
        return out.tobytes()

    # -- path helpers ------------------------------------------------------

    def open(self, path: str) -> _Obj:
        obj = self.read_object(self.root)
        for part in [p for p in path.split("/") if p]:
            children = self.list_group(obj)
            if part not in children:
                raise KeyError(f"no object {part!r} in HDF5 path {path!r}")
            obj = self.read_object(children[part])
        return obj

    def exists(self, path: str) -> bool:
        try:
            self.open(path)
            return True
        except KeyError:
            return False


# -- AnnData group decoding (.h5ad root, .h5mu /mod/<name>) ---------------


def _read_anndata(r: H5Reader, group: _Obj, where: str) -> dict:
    """One AnnData group, an .h5ad root or an .h5mu /mod/<name>, as
    read_h5ad_matrix's dict; ``where`` is its path, for error messages."""
    x_obj = r.read_object(r.list_group(group)["X"])
    attrs = r.attributes(x_obj)
    if x_obj.one(_MSG_DATATYPE) is not None:  # dense dataset
        x = ("dense", np.asarray(r.read_dataset(x_obj)))
    else:
        # no silent defaults on a group-encoded X (round-4 ADVICE): a
        # file whose attributes we could not read must raise, not decode
        # as an empty csr.  Modern anndata writes encoding-type/shape;
        # legacy h5sparse files carry h5sparse_format/h5sparse_shape.
        enc = attrs.get("encoding-type")
        if enc is None and "h5sparse_format" in attrs:
            enc = f"{attrs['h5sparse_format']}_matrix"
        if enc is None:
            raise _unsupported(
                f"group-encoded {where}/X without encoding-type / h5sparse_format"
            )
        kind = {"csr_matrix": "csr", "csc_matrix": "csc"}.get(str(enc))
        if kind is None:
            raise _unsupported(f"{where}/X encoding-type {enc!r}")
        raw_shape = attrs.get("shape", attrs.get("h5sparse_shape"))
        if raw_shape is None:
            raise _unsupported(
                f"group-encoded {where}/X without shape / h5sparse_shape"
            )
        ch = r.list_group(x_obj)
        data, indices, indptr = (
            np.asarray(r.read_dataset(r.read_object(ch[n])))
            for n in ("data", "indices", "indptr")
        )
        x = (kind, data, indices, indptr, tuple(int(s) for s in raw_shape))
    return {
        "barcodes": _read_axis_index(r, group, "obs", where),
        "features": _read_axis_index(r, group, "var", where),
        "x": x,
    }


def read_h5ad_matrix(content: bytes) -> dict:
    """Decode an .h5ad file's X matrix and obs/var indices.

    Returns {"barcodes": list[str], "features": list[str],
             "x": ("csr"|"csc", data, indices, indptr, shape)
                  or ("dense", ndarray)}.

    Mirrors what `anndata.read_h5ad(...).X/.obs.index/.var.index`
    exposes for the reference pipeline (bin/concatenate.py:62-77),
    for the on-disk encodings anndata>=0.7 writes: X as a dense
    dataset, or a group with encoding-type csr_matrix/csc_matrix
    holding data/indices/indptr; obs/var as dataframe groups whose
    '_index' attribute names the index dataset (older files use a
    literal '_index' or 'index' dataset).
    """
    r = H5Reader(content)
    return _read_anndata(r, r.read_object(r.root), "")


def _resolve_index_dataset(attrs: dict, children: dict, where: str) -> str:
    """Name of the axis-index dataset inside an obs/var group.

    The legacy ('index' with no ``_index`` attr) fallback applies ONLY
    when the ``_index`` attribute is absent or carries the default name:
    a file that EXPLICITLY declares a custom index column which is then
    missing is malformed, and reference readers (anndata/muon) fail on
    it — silently substituting a different dataset would yield a wrong
    axis (round-6 ADVICE)."""
    declared = attrs.get("_index")
    if declared is not None and str(declared) != "_index":
        name = str(declared)
        if name not in children:
            raise _unsupported(
                f"{where}: declared index column {name!r} (_index attr) "
                "has no matching dataset — malformed file"
            )
        return name
    for cand in ("_index", "index"):
        if cand in children:
            return cand
    raise _unsupported(
        f"{where}: no index dataset (looked for '_index', 'index')"
    )


def _read_axis_index(r: H5Reader, parent: _Obj, axis: str, where: str) -> list[str]:
    """The obs or var index of the AnnData group ``parent`` at path
    ``where``."""
    path = f"{where}/{axis}"
    obj = r.read_object(r.list_group(parent)[axis])
    if obj.one(_MSG_DATATYPE) is not None:
        raise _unsupported(f"compound-dataset {path} (pre-0.7 anndata)")
    attrs = r.attributes(obj)
    children = r.list_group(obj)
    index_name = _resolve_index_dataset(attrs, children, path)
    vals = r.read_dataset(r.read_object(children[index_name]))
    return [str(v) for v in vals]


def read_h5mu(content: bytes) -> dict:
    """Decode a single-file MuData container (the reference's output
    artifact, bin/concatenate.py:150) written by
    sources/hdf5_write.build_h5mu — or by muon/mudata itself, within
    the codec's supported structure set (v0/v2 superblocks at any
    user-block offset, compact attributes, symbol-table or link-message
    groups).

    Returns::

        {"mod": {name: {"barcodes": [...], "features": [...],
                        "x": <as read_h5ad_matrix's "x">}},
         "obs": {"_index": [...], "<col>": [...], ...},
         "uns": {key: [values]}}

    Each /mod/<name> is read by the same AnnData group reader as an
    .h5ad root.  The 512-byte MuData user block is transparent:
    H5Reader locates the superblock by signature scan at the spec's
    allowed offsets."""
    r = H5Reader(content)
    root_attrs = r.attributes(r.open("/"))
    if "encoding-type" in root_attrs and root_attrs["encoding-type"] != "MuData":
        raise _unsupported(
            f"root encoding-type {root_attrs['encoding-type']!r} (not MuData)"
        )
    mod_grp = r.open("mod")
    mods = {
        name: _read_anndata(r, r.read_object(addr), f"/mod/{name}")
        for name, addr in sorted(r.list_group(mod_grp).items())
    }
    obs_obj = r.open("obs")
    obs_attrs = r.attributes(obs_obj)
    # same strict resolution as the axis readers (review finding: the
    # top-level /obs previously used the loose default, so a legacy
    # 'index' dataset or a declared-but-missing index column produced a
    # missing '_index' key downstream instead of values / a loud error)
    index_name = _resolve_index_dataset(
        obs_attrs, r.list_group(obs_obj), "/obs"
    )
    obs = {
        "_index" if col == index_name else col: list(
            r.read_dataset(r.read_object(addr))
        )
        for col, addr in sorted(r.list_group(obs_obj).items())
    }
    try:
        uns_grp = r.list_group(r.open("uns"))
    except KeyError:
        uns_grp = {}
    uns = {
        k: list(r.read_dataset(r.read_object(addr)))
        for k, addr in sorted(uns_grp.items())
    }
    return {"mod": mods, "obs": obs, "uns": uns}
