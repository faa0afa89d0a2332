"""From-scratch JPEG 2000 codec (kernels/jpx.py): lifting, EBCOT, tag
trees, codestream/JP2 round trips, loud gates, and the PDF /JPXDecode
scanned-page path."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from doctr_spark.kernels.jpx import (
    _dec_block,
    _enc_block,
    _fwd_dwt,
    _inv_dwt,
    _TagTree,
    _BitIO,
    decode_jpx,
    encode_j2k,
    encode_jp2,
)

rng = np.random.default_rng(20260817)


@pytest.mark.parametrize("shape", [(1, 1), (5, 7), (8, 8), (33, 65), (100, 131)])
@pytest.mark.parametrize("levels", [0, 1, 2, 3])
def test_53_dwt_reversible(shape, levels):
    a = rng.integers(-512, 512, shape).astype(np.int64)
    ll, highs = _fwd_dwt(a, levels)
    assert (_inv_dwt(ll, highs) == a).all()


@pytest.mark.parametrize("hw", [(4, 4), (7, 5), (64, 64), (13, 64), (64, 1), (1, 64)])
@pytest.mark.parametrize("orient", [0, 1, 2])
def test_ebcot_block_roundtrip(hw, orient):
    h, w = hw
    c = rng.integers(-200, 201, (h, w)).astype(np.int64)
    mag = np.abs(c)
    nb = int(mag.max()).bit_length()
    m = [int(v) for v in mag.ravel()]
    chi = [1 if v < 0 else 0 for v in c.ravel()]
    data = _enc_block(m, chi, w, h, nb, orient)
    m2, chi2 = _dec_block(data, w, h, nb, orient)
    assert m2 == m
    assert all(b == a for a, b, mm in zip(chi, chi2, m) if mm)


def test_tag_tree_roundtrip():
    """Random leaf values code and decode identically through the shared
    incremental-refinement state."""
    w, h = 5, 3
    vals = rng.integers(0, 6, (h, w))
    enc = _TagTree(w, h)
    for y in range(h):
        for x in range(w):
            enc.set(x, y, int(vals[y, x]))
    enc.finalize()
    bio = _BitIO()
    for y in range(h):
        for x in range(w):
            t = 1
            while True:
                enc.encode(x, y, t, bio)
                if enc.done[0][y * w + x]:
                    break
                t += 1
    data = bio.flush_w()
    dec = _TagTree(w, h)
    r = _BitIO(data)
    for y in range(h):
        for x in range(w):
            t = 1
            while not dec.decode(x, y, t, r):
                t += 1
            assert dec.value[0][y * w + x] == vals[y, x]


@pytest.mark.parametrize("shape", [(8, 8), (65, 100), (130, 257), (1, 1)])
@pytest.mark.parametrize("levels", [0, 2])
def test_codestream_lossless_roundtrip(shape, levels):
    img = rng.integers(0, 256, shape).astype(np.uint8)
    assert (decode_jpx(encode_j2k(img, levels)) == img).all()


def test_jp2_container_roundtrip():
    img = rng.integers(0, 256, (100, 160)).astype(np.uint8)
    blob = encode_jp2(img)
    assert blob[4:8] == b"jP  " and b"jp2c" in blob
    assert (decode_jpx(blob) == img).all()


def test_extreme_images_lossless():
    """Checkerboards maximize 5/3 coefficient growth — the Mb signalling
    must still cover every bitplane."""
    for img in (
        np.zeros((70, 90), np.uint8),
        np.full((70, 90), 255, np.uint8),
        (np.indices((70, 90)).sum(0) % 2 * 255).astype(np.uint8),
    ):
        for nl in (0, 1, 2, 3):
            assert (decode_jpx(encode_j2k(img, nl)) == img).all()


def _patch(blob: bytes, marker: bytes, off: int, val: int) -> bytes:
    i = blob.index(marker)
    return blob[: i + off] + bytes([val]) + blob[i + off + 1 :]


def test_jpx_gates_stay_loud():
    img = rng.integers(0, 256, (40, 50)).astype(np.uint8)
    cs = encode_j2k(img, 1)
    # component counts other than 1 or 3 (Csiz low byte at seg offset 35)
    with pytest.raises(NotImplementedError, match="multi-component"):
        decode_jpx(_patch(cs, b"\xff\x51", 4 + 35, 2))
    # 16-bit component (Ssiz at seg offset 36)
    with pytest.raises(NotImplementedError, match="8-bit"):
        decode_jpx(_patch(cs, b"\xff\x51", 4 + 36, 15))
    # precincts / SOP (Scod)
    with pytest.raises(NotImplementedError, match="precincts"):
        decode_jpx(_patch(cs, b"\xff\x52", 4, 1))
    # two layers
    with pytest.raises(NotImplementedError, match="multi-layer"):
        decode_jpx(_patch(cs, b"\xff\x52", 7, 2))
    # an unknown transform id (9/7 and 5/3 both decode now)
    with pytest.raises(NotImplementedError, match="transform"):
        decode_jpx(_patch(cs, b"\xff\x52", 13, 2))
    # selective arithmetic bypass (code-block style)
    with pytest.raises(NotImplementedError, match="style"):
        decode_jpx(_patch(cs, b"\xff\x52", 12, 1))
    # scalar-DERIVED quantization (style 1; expounded style 2 decodes)
    with pytest.raises(NotImplementedError, match="scalar-derived"):
        decode_jpx(_patch(cs, b"\xff\x5c", 4, (2 << 5) | 1))
    with pytest.raises(ValueError):
        decode_jpx(b"not jpeg2000 at all")


def test_pdf_jpx_xobject_roundtrip():
    from doctr_spark.kernels.pdf import parse_pdf, write_pdf

    img = rng.integers(0, 256, (48, 64)).astype(np.uint8)
    blob = write_pdf([[]], (48, 64), images={0: [(img, 0, 0)]}, render_mode=3, jpx=True)
    assert b"/JPXDecode" in blob
    (page,) = parse_pdf(blob)
    x, y, arr = page["images"][0]
    assert (x, y) == (0, 0) and (arr == img).all()


def test_pdf_jpx_scan_redetects_words():
    from doctr_spark.fixtures.pdfdocs import _render_canvas, gen_pdf_page
    from doctr_spark.kernels.detection import detect_words, extract_crops
    from doctr_spark.kernels.pdf import rasterize_pdf, write_pdf
    from doctr_spark.kernels.recognition import recognize_crops_batched

    placements, gt, _ = gen_pdf_page(np.random.default_rng(3))
    canvas = _render_canvas(placements)
    blob = write_pdf(
        [[]], canvas.shape, images={0: [(canvas, 0, 0)]}, render_mode=3, jpx=True
    )
    (page,) = rasterize_pdf(blob)
    assert (page == canvas).all()  # lossless: identical pixels
    boxes, _, _ = detect_words(page)
    vals = sorted(v for v, _ in recognize_crops_batched(extract_crops(page, boxes)))
    assert vals == sorted(gt.replace("\n", " ").split())


def test_fixture_jpx_mode_extracts_exact(spark):
    """Fixture mode 21 (/JPXDecode scan) runs the full Spark extraction
    path and matches its own ground truth."""
    import pandas as pd

    from doctr_spark.fixtures.pdfdocs import gen_pdf_conversation
    from doctr_spark.fixtures.transcripts import TRANSCRIPTS_SCHEMA
    from doctr_spark.operators.pipeline import extract_documents

    rows, gts = gen_pdf_conversation(21)
    tdf = spark.createDataFrame(pd.DataFrame(rows), schema=TRANSCRIPTS_SCHEMA)
    docs = extract_documents(tdf)
    got = {
        (r["conv_id"], r["turn_idx"]): (r["extracted_text"], r["n_words"])
        for r in docs.collect()
    }
    assert len(got) == len(gts)
    for g in gts:
        text, n_words = got[(g["conv_id"], g["turn_idx"])]
        assert text == g["gt_text"] and n_words == g["n_words"]


@pytest.mark.parametrize("seed", range(6))
def test_jpx_fuzz_rejects_never_hangs(seed):
    """Corrupted codestreams (random byte flips in a valid stream, and
    pure noise) must raise quickly — the quarantine path in decode
    depends on failures being exceptions, not hangs."""
    r = np.random.default_rng(seed)
    img = r.integers(0, 256, (24, 30)).astype(np.uint8)
    cs = bytearray(encode_j2k(img, 1))
    for _ in range(12):
        i = int(r.integers(4, len(cs)))
        cs[i] ^= int(r.integers(1, 256))
    try:
        out = decode_jpx(bytes(cs))
        assert out.dtype == np.uint8  # a lucky flip may still decode
    except (ValueError, NotImplementedError, IndexError, KeyError, struct.error):
        pass
    with pytest.raises(Exception):
        decode_jpx(bytes(r.integers(0, 256, 200).astype(np.uint8)))


@pytest.mark.parametrize("shape", [(64, 64), (100, 131), (8, 8)])
@pytest.mark.parametrize("levels", [0, 2, 3])
def test_97_irreversible_near_transparent(shape, levels):
    """The CDF 9/7 path (float lifting + E.1 scalar-expounded dequant) at
    the encoder's 12-bit step sizes: reconstruction within 2 gray levels
    (in practice exact) on dense random images — the hardest content."""
    img = rng.integers(0, 256, shape).astype(np.uint8)
    out = decode_jpx(encode_j2k(img, levels, irreversible=True))
    assert out.shape == img.shape
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2


def test_97_signaling_is_spec_shaped():
    """Irreversible streams carry transform byte 0 and a style-2 QCD with
    16-bit (eps<<11 | mu) entries; scalar-DERIVED (style 1) still gates."""
    img = rng.integers(0, 256, (40, 50)).astype(np.uint8)
    cs = encode_j2k(img, 1, irreversible=True)
    i = cs.index(b"\xff\x52")
    assert cs[i + 4 + 9] == 0  # SPcod transform byte
    q = cs.index(b"\xff\x5c")
    assert cs[q + 4] & 0x1F == 2  # Sqcd style: scalar expounded
    bad = cs[: q + 4] + bytes([(cs[q + 4] & 0xE0) | 1]) + cs[q + 5 :]
    with pytest.raises(NotImplementedError, match="scalar-derived"):
        decode_jpx(bad)


def test_97_jp2_and_pdf_scan_roundtrip():
    from doctr_spark.fixtures.pdfdocs import _render_canvas, gen_pdf_page
    from doctr_spark.kernels.detection import detect_words, extract_crops
    from doctr_spark.kernels.pdf import rasterize_pdf, write_pdf
    from doctr_spark.kernels.recognition import recognize_crops_batched

    img = rng.integers(0, 256, (70, 90)).astype(np.uint8)
    out = decode_jpx(encode_jp2(img, irreversible=True))
    assert np.abs(out.astype(int) - img.astype(int)).max() <= 2
    placements, gt, _ = gen_pdf_page(np.random.default_rng(11))
    canvas = _render_canvas(placements)
    blob = write_pdf(
        [[]], canvas.shape, images={0: [(canvas, 0, 0)]},
        render_mode=3, jpx=True, jpx_irreversible=True,
    )
    (page,) = rasterize_pdf(blob)
    boxes, _, _ = detect_words(page)
    vals = sorted(v for v, _ in recognize_crops_batched(extract_crops(page, boxes)))
    assert vals == sorted(gt.replace("\n", " ").split())


def test_97_extreme_images_transparent():
    """Sharp-edged content (glyph pages, checkerboards, flats) is the
    wavelet's worst case; the clamped quantizer exponents must keep the
    9/7 path transparent on all of it."""
    from doctr_spark.fixtures.pdfdocs import _render_canvas, gen_pdf_page

    canvas = _render_canvas(gen_pdf_page(np.random.default_rng(5))[0])
    imgs = [
        canvas,
        (np.indices((70, 90)).sum(0) % 2 * 255).astype(np.uint8),
        np.zeros((33, 47), np.uint8),
        np.full((33, 47), 255, np.uint8),
    ]
    for img in imgs:
        for nl in (0, 1, 2, 3):
            out = decode_jpx(encode_j2k(img, nl, irreversible=True))
            assert np.abs(out.astype(int) - img.astype(int)).max() <= 1


def test_rgb_three_component_codestream():
    """RGB (three full-resolution components, no MCT): packets iterate
    resolution-major then component (LRCP); the decoder reconstructs all
    three planes and returns the integer BT.601 luma the pipeline
    consumes — exactly, for the lossless transform."""
    g = rng.integers(0, 256, (65, 100)).astype(np.uint8)
    rgb = np.repeat(g[:, :, None], 3, axis=2)
    # R == G == B: luma is the identity, so the round trip is exact
    assert (decode_jpx(encode_j2k(rgb, 2)) == g).all()
    assert (decode_jpx(encode_jp2(rgb, 1)) == g).all()
    c64 = rng.integers(0, 256, (64, 80, 3)).astype(np.int64)
    ref = (299 * c64[:, :, 0] + 587 * c64[:, :, 1] + 114 * c64[:, :, 2] + 500) // 1000
    cu = c64.astype(np.uint8)
    assert (decode_jpx(encode_j2k(cu, 1)).astype(int) == ref).all()
    out97 = decode_jpx(encode_j2k(cu, 2, irreversible=True))
    assert np.abs(out97.astype(int) - ref).max() <= 2
