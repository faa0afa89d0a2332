"""Minimal pure-stdlib PNG codec (grayscale, 8-bit).

Real transcript payloads pack page images as PNG; this decodes them
(`imgcodec.decode_page` sniffs the signature) without adding
dependencies — the format is public (RFC 2083 / W3C PNG spec):
zlib-inflated scanlines, one filter byte per row, filters 0-4
(None/Sub/Up/Average/Paeth). The encoder writes Up-filtered rows (great
on sparse page rasters, and the defilter is a vectorized row recurrence,
so PNG-packed pages decode at production speed); Sub/Average/Paeth
reconstruction — serial in x — is fully supported for foreign streams
and pinned by an all-filters test.
Reference analogue: `DocumentFile.from_images` accepting PNG bytes
(`doctr/io/image/base.py:16-54`, cv2.imdecode there).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

PNG_SIG = b"\x89PNG\r\n\x1a\n"


def _chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(img: np.ndarray) -> bytes:
    """uint8 (H, W) grayscale -> PNG bytes (color type 0, Up-filtered:
    great on sparse page rasters and O(w)-vectorized to reconstruct)."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError(f"expected uint8 (H, W) image, got {img.dtype} {img.shape}")
    h, w = img.shape
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 0, 0, 0, 0)
    filt = np.empty((h, w + 1), dtype=np.uint8)
    filt[:, 0] = 2  # Up
    filt[0, 1:] = img[0]
    filt[1:, 1:] = (img[1:].astype(np.int16) - img[:-1].astype(np.int16)).astype(np.uint8)
    idat = zlib.compress(filt.tobytes(), level=6)
    return PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", idat) + _chunk(b"IEND", b"")


def decode_png(data: bytes) -> np.ndarray:
    """PNG bytes -> uint8 (H, W) grayscale. Supports 8-bit color type 0
    (grayscale), no interlace — the profile the engine emits; anything
    else raises, like a codec without that feature compiled in."""
    if data[:8] != PNG_SIG:
        raise ValueError("not a PNG stream")
    off = 8
    w = h = None
    idat = []
    while off < len(data):
        (length,) = struct.unpack_from(">I", data, off)
        ctype = data[off + 4 : off + 8]
        body = data[off + 8 : off + 8 + length]
        off += 12 + length
        if ctype == b"IHDR":
            w, h, depth, color, comp, filt, interlace = struct.unpack(">IIBBBBB", body)
            if depth != 8 or color != 0 or comp != 0 or filt != 0 or interlace != 0:
                raise NotImplementedError(
                    f"unsupported PNG profile (depth={depth} color={color} interlace={interlace})"
                )
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            break
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    raw = zlib.decompress(b"".join(idat))
    stride = w + 1
    if len(raw) != h * stride:
        raise ValueError("PNG scanline payload size mismatch")
    scan = np.frombuffer(raw, dtype=np.uint8).reshape(h, stride)
    ftypes = scan[:, 0]
    if ((ftypes == 2) | (ftypes == 0)).all() and (ftypes[1:] == 2).all():
        # all-Up stream (what encode_png writes): reconstruction is one
        # vectorized column cumsum instead of a per-row loop
        return np.cumsum(scan[:, 1:], axis=0, dtype=np.uint8)  # uint8 wrap == mod 256
    out = np.zeros((h, w), dtype=np.uint8)
    prev = np.zeros(w, dtype=np.uint8)
    for y in range(h):
        ftype = raw[y * stride]
        line = np.frombuffer(raw, dtype=np.uint8, count=w, offset=y * stride + 1)
        if ftype == 0:
            row = line.copy()
        elif ftype == 2:  # Up
            row = (line.astype(np.int16) + prev) % 256
            row = row.astype(np.uint8)
        elif ftype in (1, 3, 4):  # Sub / Average / Paeth: serial in x
            row = np.zeros(w, dtype=np.uint8)
            left = 0
            for x in range(w):
                up = int(prev[x])
                upleft = int(prev[x - 1]) if x else 0
                if ftype == 1:
                    pred = left
                elif ftype == 3:
                    pred = (left + up) // 2
                else:
                    p = left + up - upleft
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - upleft)
                    pred = left if pa <= pb and pa <= pc else (up if pb <= pc else upleft)
                left = (int(line[x]) + pred) % 256
                row[x] = left
        else:
            raise ValueError(f"unknown PNG filter type {ftype}")
        out[y] = row
        prev = row
    return out
