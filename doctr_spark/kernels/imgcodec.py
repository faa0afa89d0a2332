"""The engine's page-image codec: the payload packing format.

`<doc:img>` and `<doc:pdf>` payloads (`fixtures.payloads`) carry pages as
a (height, width) header plus zlib-compressed uint8 grayscale pixels
(`encode_page`), or as real PNGs, which `decode_page` sniffs; the
multipage stand-in is a length-prefixed run of encoded pages. Decoded pages
never travel between Spark stages: every payload query decodes inside the
task that consumes the pages (`operators.pipeline`). `encode_page` also
defines `media_metadata.n_bytes` (`kernels.features.media_meta_row`).
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

_PAGE_HDR = struct.Struct("<HH")  # (height, width), uint8 grayscale payload


def encode_page(img: np.ndarray) -> bytes:
    """uint8 (H, W) grayscale page -> compressed bytes."""
    if img.dtype != np.uint8 or img.ndim != 2:
        raise ValueError(f"expected uint8 (H, W) page, got {img.dtype} {img.shape}")
    h, w = img.shape
    return _PAGE_HDR.pack(h, w) + zlib.compress(img.tobytes(), level=1)


def decode_page(data: bytes) -> np.ndarray:
    from .png import PNG_SIG, decode_png

    if data[:8] == PNG_SIG:  # payloads may pack pages as real PNGs
        return decode_png(data)
    h, w = _PAGE_HDR.unpack_from(data, 0)
    raw = zlib.decompress(data[_PAGE_HDR.size :])
    return np.frombuffer(raw, dtype=np.uint8).reshape(h, w)


def encode_multipage(pages: list[np.ndarray]) -> bytes:
    """The "PDF" stand-in: length-prefixed concatenation of encoded pages."""
    parts = [struct.pack("<H", len(pages))]
    for p in pages:
        blob = encode_page(p)
        parts.append(struct.pack("<I", len(blob)))
        parts.append(blob)
    return b"".join(parts)


def decode_multipage(data: bytes) -> list[np.ndarray]:
    (n,) = struct.unpack_from("<H", data, 0)
    off = 2
    pages = []
    for _ in range(n):
        (ln,) = struct.unpack_from("<I", data, off)
        off += 4
        pages.append(decode_page(data[off : off + ln]))
        off += ln
    return pages
