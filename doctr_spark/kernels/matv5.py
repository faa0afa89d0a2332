"""Minimal MAT-File v5 codec (pure stdlib + numpy).

The SynthText / IIIT5K annotation files ship as MATLAB Level-5 MAT files
(reference loaders call ``scipy.io.loadmat``: `doctr/datasets/synthtext.py:
91-95`, `doctr/datasets/iiit5k.py:73-76`); scipy is absent in this
container, so this module implements the subset of the PUBLIC MAT-File
format specification (MathWorks "MAT-File Format" doc; same layout scipy's
``mio5`` implements) needed to read those annotations:

* little-endian v5 files (header magic version 0x0100, endian 'IM'),
* full and small-format data-element tags, 8-byte alignment,
* ``miCOMPRESSED`` (zlib) top-level elements — MATLAB's default,
* array classes: numeric (double/single/int*/uint*), char (miUINT8 /
  miUTF8 / miUINT16 storage), cell arrays, struct arrays,
* column-major (Fortran) dimension order throughout.

Parsed values map to: numeric -> ``np.ndarray`` (original dims), char ->
``str`` (single row) or ``list[str]`` (one per row, space-padded exactly
like MATLAB char matrices), cell -> ``list`` (column-major flattening),
struct array -> ``list[dict]``.

The writer emits the same subset and exists for the fixture fabricators;
reader and writer are developed against the spec independently of any
scipy behavior (property-tested round-trip + hand-decoded golden bytes in
``tests/test_matv5.py``).
"""

from __future__ import annotations

import struct
import zlib
from typing import Any

import numpy as np

MI_INT8, MI_UINT8, MI_INT16, MI_UINT16, MI_INT32, MI_UINT32 = 1, 2, 3, 4, 5, 6
MI_SINGLE, MI_DOUBLE, MI_INT64, MI_UINT64 = 7, 9, 12, 13
MI_MATRIX, MI_COMPRESSED, MI_UTF8, MI_UTF16 = 14, 15, 16, 17

MX_CELL, MX_STRUCT, MX_CHAR = 1, 2, 4
MX_DOUBLE, MX_SINGLE = 6, 7
MX_INT8, MX_UINT8, MX_INT16, MX_UINT16, MX_INT32, MX_UINT32 = 8, 9, 10, 11, 12, 13

_NUM_DTYPES = {
    MI_INT8: "<i1", MI_UINT8: "<u1", MI_INT16: "<i2", MI_UINT16: "<u2",
    MI_INT32: "<i4", MI_UINT32: "<u4", MI_SINGLE: "<f4", MI_DOUBLE: "<f8",
    MI_INT64: "<i8", MI_UINT64: "<u8",
}  # fmt: skip


# ---------------------------------------------------------------------------
# reader
# ---------------------------------------------------------------------------


def _read_element(buf: bytes, off: int) -> tuple[int, bytes, int]:
    """One data element at ``off`` -> (mi type, payload, next offset).

    Handles both the 8-byte tag and the packed small-data-element format
    (nbytes in the tag's high 16 bits, payload inside the tag's second
    word)."""
    (word,) = struct.unpack_from("<I", buf, off)
    if word >> 16:  # small data element
        nbytes, mtype = word >> 16, word & 0xFFFF
        return mtype, buf[off + 4 : off + 4 + nbytes], off + 8
    (nbytes,) = struct.unpack_from("<I", buf, off + 4)
    data = buf[off + 8 : off + 8 + nbytes]
    return word, data, off + 8 + ((nbytes + 7) & ~7)


def _decode_char(mtype: int, data: bytes, dims: tuple[int, ...]) -> str | list[str]:
    if mtype in (MI_UINT16, MI_UTF16):
        chars = np.frombuffer(data, dtype="<u2")
        text = "".join(chr(int(c)) for c in chars)
    elif mtype == MI_UTF8:
        text = data.decode("utf-8")
    else:  # miUINT8 / miINT8 storage
        text = data.decode("latin-1")
    rows = dims[0] if dims else 1
    if rows <= 1:
        return text
    # column-major (m, n) char matrix -> one space-padded string per row
    cols = len(text) // rows
    grid = np.asarray(list(text)).reshape(rows, cols, order="F")
    return ["".join(r) for r in grid]


def _parse_matrix(data: bytes) -> tuple[str, Any]:
    off = 0
    _, flags_raw, off = _read_element(data, off)
    flags = np.frombuffer(flags_raw, dtype="<u4")
    mxclass = int(flags[0]) & 0xFF
    _, dim_raw, off = _read_element(data, off)
    dims = tuple(int(d) for d in np.frombuffer(dim_raw, dtype="<i4"))
    _, name_raw, off = _read_element(data, off)
    name = name_raw.rstrip(b"\x00").decode("latin-1")

    if mxclass == MX_CHAR:
        mtype, payload, off = _read_element(data, off)
        return name, _decode_char(mtype, payload, dims)
    if mxclass == MX_CELL:
        n = int(np.prod(dims)) if dims else 0
        items = []
        for _ in range(n):
            mtype, payload, off = _read_element(data, off)
            if mtype != MI_MATRIX:
                raise ValueError(f"cell item is mi type {mtype}, expected miMATRIX")
            items.append(_parse_matrix(payload)[1])
        return name, items
    if mxclass == MX_STRUCT:
        _, flen_raw, off = _read_element(data, off)
        (flen,) = struct.unpack("<i", flen_raw[:4])
        _, fnames_raw, off = _read_element(data, off)
        fields = [
            fnames_raw[i : i + flen].rstrip(b"\x00").decode("latin-1")
            for i in range(0, len(fnames_raw), flen)
        ]
        n = int(np.prod(dims)) if dims else 0
        # element-major, fields inner (the order scipy/MATLAB write)
        out = []
        for _ in range(n):
            rec = {}
            for f in fields:
                mtype, payload, off = _read_element(data, off)
                if mtype != MI_MATRIX:
                    raise ValueError(f"struct field is mi type {mtype}, expected miMATRIX")
                rec[f] = _parse_matrix(payload)[1]
            out.append(rec)
        return name, out
    if mxclass in (MX_DOUBLE, MX_SINGLE, MX_INT8, MX_UINT8, MX_INT16, MX_UINT16, MX_INT32, MX_UINT32):
        mtype, payload, off = _read_element(data, off)
        if mtype not in _NUM_DTYPES:
            raise ValueError(f"unsupported numeric storage type {mtype}")
        arr = np.frombuffer(payload, dtype=_NUM_DTYPES[mtype])
        return name, arr.reshape(dims, order="F") if dims else arr
    raise ValueError(f"unsupported mx class {mxclass}")


def loadmat_bytes(data: bytes) -> dict[str, Any]:
    """Parse a v5 MAT file from bytes -> {variable name: value}."""
    if len(data) < 128:
        raise ValueError("not a MAT v5 file (short header)")
    version, endian = struct.unpack_from("<H2s", data, 124)
    if endian == b"MI":
        raise ValueError("big-endian MAT files are not supported")
    if endian != b"IM" or version != 0x0100:
        raise ValueError(f"not a MAT v5 file (version={version:#x}, endian={endian!r})")
    out: dict[str, Any] = {}
    off = 128
    while off + 8 <= len(data):
        mtype, nbytes = struct.unpack_from("<II", data, off)
        if mtype >> 16:  # small data element at top level (unusual): skip
            off += 8
            continue
        payload = data[off + 8 : off + 8 + nbytes]
        if mtype == MI_COMPRESSED:
            # per spec, the compressed payload itself is NOT padded — the
            # next element follows immediately after nbytes
            off = off + 8 + nbytes
            inner = zlib.decompress(payload)
            imtype, ipayload, _ = _read_element(inner, 0)
            if imtype != MI_MATRIX:
                continue
            name, value = _parse_matrix(ipayload)
        else:
            off = off + 8 + ((nbytes + 7) & ~7)
            if mtype != MI_MATRIX:
                continue  # skip subsystem/unknown top-level elements
            name, value = _parse_matrix(payload)
        out[name] = value
    return out


# ---------------------------------------------------------------------------
# writer (fixture fabrication; same subset)
# ---------------------------------------------------------------------------


class Cell(list):
    """Marker: write this list as a MATLAB cell array (1, len)."""


class StructArray(list):
    """Marker: write this list[dict] as a (1, len) struct array; field
    order is taken from the first record."""


def _elem(mtype: int, payload: bytes) -> bytes:
    pad = (-len(payload)) % 8
    return struct.pack("<II", mtype, len(payload)) + payload + b"\x00" * pad


def _matrix(mxclass: int, dims: tuple[int, ...], name: str, body: bytes) -> bytes:
    flags = _elem(MI_UINT32, struct.pack("<II", mxclass, 0))
    dim_el = _elem(MI_INT32, struct.pack(f"<{len(dims)}i", *dims))
    name_el = _elem(MI_INT8, name.encode("latin-1"))
    return _elem(MI_MATRIX, flags + dim_el + name_el + body)


def _write_value(value: Any, name: str = "") -> bytes:
    if isinstance(value, Cell):
        body = b"".join(_write_value(v) for v in value)
        return _matrix(MX_CELL, (1, len(value)), name, body)
    if isinstance(value, StructArray):
        fields = list(value[0].keys()) if value else []
        flen = max([len(f) + 1 for f in fields], default=1)
        flen_el = _elem(MI_INT32, struct.pack("<i", flen))
        fnames = b"".join(f.encode("latin-1").ljust(flen, b"\x00") for f in fields)
        body = flen_el + _elem(MI_INT8, fnames)
        for rec in value:
            for f in fields:
                body += _write_value(rec[f])
        return _matrix(MX_STRUCT, (1, len(value)), name, body)
    if isinstance(value, str):
        payload = b"".join(struct.pack("<H", ord(c)) for c in value)
        return _matrix(MX_CHAR, (1, len(value)), name, _elem(MI_UINT16, payload))
    if isinstance(value, list) and value and all(isinstance(v, str) for v in value):
        # char matrix: one row per string, space-padded, column-major
        width = max(len(v) for v in value)
        rows = [v.ljust(width) for v in value]
        payload = b"".join(
            struct.pack("<H", ord(rows[r][c])) for c in range(width) for r in range(len(rows))
        )
        return _matrix(MX_CHAR, (len(rows), width), name, _elem(MI_UINT16, payload))
    arr = np.asarray(value, dtype=np.float64)
    payload = arr.ravel(order="F").astype("<f8").tobytes()
    return _matrix(MX_DOUBLE, arr.shape if arr.ndim else (1, 1), name, _elem(MI_DOUBLE, payload))


def savemat_bytes(variables: dict[str, Any], compress: bool = True) -> bytes:
    """Serialize {name: value} to v5 MAT bytes (MATLAB-style compressed
    top-level elements by default)."""
    header = b"MATLAB 5.0 MAT-file, written by doctr_spark matv5".ljust(116)
    header += b"\x00" * 8 + struct.pack("<H2s", 0x0100, b"IM")
    body = b""
    for name, value in variables.items():
        el = _write_value(value, name)
        if compress:
            z = zlib.compress(el)
            # compressed elements carry the exact byte count, unpadded
            el = struct.pack("<II", MI_COMPRESSED, len(z)) + z
        body += el
    return header + body


def savemat(path: str, variables: dict[str, Any], compress: bool = True) -> None:
    with open(path, "wb") as f:
        f.write(savemat_bytes(variables, compress))
