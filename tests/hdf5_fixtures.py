"""HDF5 file variants that only the reader's tests need.

The package writer (sources/hdf5_write.py) emits what default-settings
h5py writes.  These build the other layouts the reader
(sources/hdf5.py) must also accept: ``WriterV2`` gives libver='latest'
files, ``build_h5ad_dense`` an h5ad whose X is a dense 2-D dataset.
"""

from __future__ import annotations

import struct

import numpy as np

from atac_data_products_spark.sources.hdf5_write import UNDEF, Writer


class WriterV2(Writer):
    """libver='latest'-style variant: superblock VERSION 2, 'OHDR'
    version-2 object headers (1-byte message types, no padding), and
    compact NEW-STYLE groups carried as inline link messages instead of
    symbol-table B-trees.  Same public API as Writer — the codec tests
    run both styles through the same reader."""

    def _object_header(self, messages: list[tuple[int, bytes]]) -> int:
        block = b""
        for type_id, body in messages:
            block += bytes([type_id]) + struct.pack("<H", len(body)) + b"\x00" + body
        # flags: bits0-1 = 2 -> 4-byte size-of-chunk0 field
        hdr = b"OHDR" + bytes([2, 0x02]) + struct.pack("<I", len(block))
        return self.write(hdr + block + b"\x00" * 4)  # checksum unvalidated

    def _attr_msg(self, name: str, value) -> tuple[int, bytes]:
        """v3 attribute message (what libver='latest' libhdf5 emits):
        no internal padding, explicit name-encoding byte (UTF-8)."""
        nm, dt, ds, data = self._attr_parts(name, value)
        body = (
            struct.pack("<BBHHHB", 3, 0, len(nm), len(dt), len(ds), 1)
            + nm
            + dt
            + ds
            + data
        )
        return self._msg(0x000C, body)

    def write_group(self, children: dict[str, int], attrs: dict | None = None) -> int:
        msgs: list[tuple[int, bytes]] = []
        for name in sorted(children):
            nm = name.encode("utf-8")
            body = (
                bytes([1, 0x00, len(nm)])  # version 1, flags 0, 1-byte len
                + nm
                + struct.pack("<Q", children[name])
            )
            msgs.append((0x0006, body))
        for k, v in (attrs or {}).items():
            msgs.append(self._attr_msg(k, v))
        return self._object_header(msgs)

    def finish(self, root_header_addr: int) -> bytes:
        sb = b"\x89HDF\r\n\x1a\n"
        sb += bytes([2, 8, 8, 0])  # version 2, offsets 8, lengths 8, flags
        sb += struct.pack("<QQQQ", 0, UNDEF, len(self.buf), root_header_addr)
        sb += b"\x00" * 4  # checksum (unvalidated by the reader)
        assert len(sb) == 48
        self.buf[: len(sb)] = sb
        return bytes(self.buf)


def build_h5ad_dense(
    barcodes: list[str], features: list[str], x: np.ndarray
) -> bytes:
    w = Writer()
    xd = w.write_dataset(np.asarray(x, dtype="<f8"))
    obs_idx = w.write_dataset(list(barcodes))
    obs = w.write_group({"_index": obs_idx}, attrs={"_index": "_index"})
    var_idx = w.write_dataset(list(features))
    var = w.write_group({"_index": var_idx}, attrs={"_index": "_index"})
    root = w.write_group({"X": xd, "obs": obs, "var": var})
    return w.finish(root)
