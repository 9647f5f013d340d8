"""Minimal pure-Python PNG codec (stdlib zlib + numpy only).

Closes the multimodal decode gap the same way sources/hdf5.py closed
the h5ad one: the container ships no imaging library and installs are
prohibited, but PNG's baseline profile is decodable with nothing
beyond ``zlib`` — chunk parse, IDAT inflate, and per-scanline
unfiltering (the five filters of the PNG specification, RFC 2083 /
W3C PNG).  The codec runs inside the same Arrow-batched mapInPandas
seam as extensions/multimodal.py, one payload per row.

Supported (the baseline written by every mainstream encoder at
default settings): bit depth 8; color types gray(0), RGB(2),
palette(3, via PLTE), gray+alpha(4), RGBA(6); all five scanline
filters; non-interlaced.  Rejected by name, never misread: other bit
depths, Adam7 interlace.

The per-scanline unfilter is an honest Python loop over bytes — PNG's
filters are sequentially dependent by definition, and payloads at this
seam are thumbnails/tiles, not gigapixel scans; the PARALLELISM axis
is across payloads (one task decodes many rows), which is where 100 TB
of media actually scales.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"
_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def is_png(raw: bytes) -> bool:
    return raw[:8] == PNG_SIG


def decode_png(raw: bytes) -> np.ndarray:
    """PNG bytes -> uint8 array of shape (h, w, channels); palette
    images are expanded to RGB."""
    if not is_png(raw):
        raise ValueError("not a PNG (bad signature)")
    pos = 8
    idat = b""
    plte: np.ndarray | None = None
    header = None
    while pos + 8 <= len(raw):
        ln, typ = struct.unpack_from(">I4s", raw, pos)
        data = raw[pos + 8 : pos + 8 + ln]
        pos += 12 + ln
        if typ == b"IHDR":
            header = struct.unpack(">IIBBBBB", data)
        elif typ == b"PLTE":
            plte = np.frombuffer(data, dtype="u1").reshape(-1, 3)
        elif typ == b"IDAT":
            idat += data
        elif typ == b"IEND":
            break
    if header is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, ctype, comp, filt, interlace = header
    if depth != 8:
        raise NotImplementedError(f"PNG bit depth {depth} (only 8 supported)")
    if ctype not in _CHANNELS:
        raise NotImplementedError(f"PNG color type {ctype}")
    if interlace != 0:
        raise NotImplementedError("Adam7-interlaced PNG")
    if comp != 0 or filt != 0:
        raise ValueError("invalid PNG compression/filter method")
    c = _CHANNELS[ctype]
    stride = w * c
    scan = zlib.decompress(idat)
    if len(scan) != h * (stride + 1):
        raise ValueError("PNG scanline data size mismatch")
    out = np.empty((h, stride), dtype="u1")
    prev = bytearray(stride)
    p = 0
    for y in range(h):
        f = scan[p]
        row = bytearray(scan[p + 1 : p + 1 + stride])
        p += 1 + stride
        _unfilter_row(f, row, prev, c)
        out[y] = np.frombuffer(bytes(row), dtype="u1")
        prev = row
    img = out.reshape(h, w, c)
    if ctype == 3:
        if plte is None:
            raise ValueError("palette PNG missing PLTE")
        img = plte[img[:, :, 0]]
    return img


def _unfilter_row(f: int, row: bytearray, prev: bytearray, bpp: int) -> None:
    n = len(row)
    if f == 0:
        return
    if f == 1:  # Sub
        for i in range(bpp, n):
            row[i] = (row[i] + row[i - bpp]) & 0xFF
    elif f == 2:  # Up
        for i in range(n):
            row[i] = (row[i] + prev[i]) & 0xFF
    elif f == 3:  # Average
        for i in range(n):
            a = row[i - bpp] if i >= bpp else 0
            row[i] = (row[i] + ((a + prev[i]) >> 1)) & 0xFF
    elif f == 4:  # Paeth
        for i in range(n):
            a = row[i - bpp] if i >= bpp else 0
            b = prev[i]
            cc = prev[i - bpp] if i >= bpp else 0
            pa, pb, pc = abs(b - cc), abs(a - cc), abs(a + b - 2 * cc)
            pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
            row[i] = (row[i] + pr) & 0xFF
    else:
        raise ValueError(f"invalid PNG filter type {f}")


def encode_png(img: np.ndarray) -> bytes:
    """uint8 array (h, w) or (h, w, c) with c in {1,2,3,4} -> PNG bytes
    (filter 0 scanlines, one zlib stream — the simplest valid file)."""
    arr = np.asarray(img, dtype="u1")
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[c]
    scan = b"".join(b"\x00" + arr[y].tobytes() for y in range(h))
    idat = zlib.compress(scan, 6)

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    return PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")
