"""Pure-stdlib PNG codec round trips + pipeline integration."""

import numpy as np
import pytest

from doctr_spark.kernels.imgcodec import decode_page
from doctr_spark.kernels.png import PNG_SIG, decode_png, encode_png


def test_png_round_trip_random():
    rng = np.random.default_rng(3)
    img = rng.integers(0, 256, (37, 61), dtype=np.uint8)
    blob = encode_png(img)
    assert blob[:8] == PNG_SIG
    assert np.array_equal(decode_png(blob), img)


def test_png_round_trip_sparse_page():
    from doctr_spark.fixtures.layout import layout_paragraphs

    page = layout_paragraphs([["hello", "png", "world"]])[0].canvas
    assert np.array_equal(decode_png(encode_png(page)), page)


def test_png_all_defilter_paths():
    """Hand-build a PNG using every filter type (0-4) on successive rows."""
    import struct
    import zlib

    from doctr_spark.kernels.png import _chunk

    img = np.arange(5 * 8, dtype=np.uint8).reshape(5, 8) * 3
    lines = []
    prev = np.zeros(8, dtype=np.int16)
    for y, f in enumerate((0, 1, 2, 3, 4)):
        row = img[y].astype(np.int16)
        left = np.concatenate(([0], row[:-1]))
        upleft = np.concatenate(([0], prev[:-1]))
        if f == 0:
            filt = row
        elif f == 1:
            filt = (row - left) % 256
        elif f == 2:
            filt = (row - prev) % 256
        elif f == 3:
            filt = (row - (left + prev) // 2) % 256
        else:
            p = left + prev - upleft
            pa, pb, pc = np.abs(p - left), np.abs(p - prev), np.abs(p - upleft)
            pred = np.where((pa <= pb) & (pa <= pc), left, np.where(pb <= pc, prev, upleft))
            filt = (row - pred) % 256
        lines.append(bytes([f]) + filt.astype(np.uint8).tobytes())
        prev = row
    ihdr = struct.pack(">IIBBBBB", 8, 5, 8, 0, 0, 0, 0)
    blob = (
        PNG_SIG
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(b"".join(lines)))
        + _chunk(b"IEND", b"")
    )
    assert np.array_equal(decode_png(blob), img)


def test_decode_page_sniffs_png():
    img = np.full((16, 24), 204, dtype=np.uint8)
    assert np.array_equal(decode_page(encode_png(img)), img)


def test_unsupported_profile_raises():
    import struct
    import zlib

    from doctr_spark.kernels.png import _chunk

    ihdr = struct.pack(">IIBBBBB", 4, 4, 8, 2, 0, 0, 0)  # RGB
    blob = PNG_SIG + _chunk(b"IHDR", ihdr) + _chunk(b"IDAT", zlib.compress(b"")) + _chunk(b"IEND", b"")
    with pytest.raises(NotImplementedError):
        decode_png(blob)


def test_png_payload_extracts(spark):
    import datetime as dt

    from doctr_spark.fixtures.layout import layout_paragraphs
    from doctr_spark.fixtures.payloads import make_img_payload
    from doctr_spark.operators.pipeline import extract_documents

    page = layout_paragraphs([["png", "payload", "words"]])[0]
    rows = [("c0", 0, "user", f"see {make_img_payload(page.canvas, codec='png')}",
             None, dt.datetime(2024, 1, 1))]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    got = extract_documents(tdf).first()
    assert got["extracted_text"] == page.gt_text
