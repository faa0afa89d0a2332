"""From-scratch PDF text codec (kernels/pdf.py): roundtrip, escapes,
filters, loud gates, and the real-%PDF extraction path end to end."""

from __future__ import annotations

import numpy as np
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from doctr_spark.kernels.pdf import parse_pdf, rasterize_pdf, write_pdf

_word = st.text(
    alphabet=st.characters(min_codepoint=32, max_codepoint=126), min_size=1, max_size=10
)


@given(
    st.lists(
        st.lists(
            st.tuples(
                st.integers(0, 200), st.integers(0, 100), _word
            ),
            min_size=0,
            max_size=6,
        ),
        min_size=1,
        max_size=3,
    ),
    st.booleans(),
)
@settings(max_examples=80, deadline=None)
def test_pdf_roundtrip_property(pages, compress):
    """write -> parse restores every page's placements exactly, including
    the ()\\ escapes, for raw and FlateDecode streams."""
    data = write_pdf(pages, (160, 320), compress=compress)
    assert data[:5] == b"%PDF-" and data.rstrip().endswith(b"%%EOF")
    parsed = parse_pdf(data)
    assert len(parsed) == len(pages)
    for page, exp in zip(parsed, pages):
        assert page["size"] == (160, 320)
        got = [(int(x), int(y), t) for x, y, t, _sz in page["words"]]
        assert got == [(x, y, t) for x, y, t in exp]


def test_pdf_td_relative_positioning():
    """Td displaces relative to the current text position (spec 9.4.2)."""
    content = b"BT 1 0 0 1 10 50 Tm (a) Tj 20 -10 Td (b) Tj 5 0 Td (c) Tj ET"
    # splice our hand-written stream into the empty page's content object
    raw = write_pdf([[]], (100, 100))
    empty = b"BT /F1 12 Tf\nET"
    doc = raw.replace(
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(empty), empty),
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
    )
    assert doc != raw, "fixture splice failed"
    (page,) = parse_pdf(doc)
    assert [(int(a), int(b), c) for a, b, c, _sz in page["words"]] == [
        (10, 100 - 50 - 16, "a"),
        (30, 100 - 40 - 16, "b"),
        (35, 100 - 40 - 16, "c"),
    ]



def test_pdf_loud_gates():
    data = write_pdf([[(1, 1, "w")]], (50, 80), compress=True)
    # a dangling /Encrypt reference still fails loudly (round 6: resolvable
    # Standard-handler encryption decrypts; see test_pdf_crypt.py)
    with pytest.raises(ValueError, match="Encrypt"):
        parse_pdf(data.replace(b"/Root", b"/Encrypt 9 0 R /Root"))
    bad_filter = data.replace(b"/FlateDecode", b"/DCTDecode")
    assert b"/DCTDecode" in bad_filter
    with pytest.raises(NotImplementedError, match="DCTDecode"):
        parse_pdf(bad_filter)
    with pytest.raises(ValueError):
        parse_pdf(b"not a pdf")


def test_pdf_indirect_length():
    """'/Length N 0 R' resolves against the plain-integer object written
    elsewhere in the file; an unresolvable ref still rejects loudly."""
    doc = write_pdf([[(1, 1, "hello world")]], (50, 80), indirect_length=True)
    assert b" 0 R " in doc.split(b"stream", 1)[0]  # head really is indirect
    (page,) = parse_pdf(doc)
    assert [t for _x, _y, t, _sz in page["words"]] == ["hello world"]

    data = write_pdf([[(1, 1, "hello world")]], (50, 80))
    import re as _re

    m = _re.search(rb"/Length (\d+)", data)
    dangling = data[: m.start()] + b"/Length 99 0 R" + data[m.end() :]
    with pytest.raises(NotImplementedError, match="resolvable /Length"):
        parse_pdf(dangling)


def test_pdf_single_element_filter_array():
    """'/Filter [/FlateDecode]' (array form) decodes identically to the
    name form; an image filter inside an array still rejects loudly."""
    data = write_pdf(PAGE, (100, 260), compress=True)
    doc = data.replace(b"/Filter /FlateDecode", b"/Filter [/FlateDecode]")
    assert doc != data, "fixture splice failed"
    assert _placements(doc) == _placements(write_pdf(PAGE, (100, 260)))
    bad = data.replace(b"/Filter /FlateDecode", b"/Filter [/JBIG2Decode]")
    with pytest.raises(NotImplementedError, match="JBIG2Decode"):
        parse_pdf(bad)


def test_pdf_truncated_stream_errors_not_hangs():
    """A stream object whose endobj was cut off must raise, not loop."""
    data = write_pdf([[(1, 1, "w")]], (50, 80))
    cut = data[: data.find(b"endobj")]  # drop everything from first endobj
    with pytest.raises((ValueError, NotImplementedError, KeyError)):
        parse_pdf(cut)


def test_pdf_rasterize_words_redetectable():
    from doctr_spark.kernels.detection import detect_words, extract_crops
    from doctr_spark.kernels.recognition import recognize_crops_batched

    data = write_pdf(
        [[(12, 10, "alpha"), (120, 10, "beta"), (12, 48, "gamma7")]], (100, 260),
        compress=True,
    )
    (canvas,) = rasterize_pdf(data)
    boxes, _, _ = detect_words(canvas)
    vals = recognize_crops_batched(extract_crops(canvas, boxes))
    assert sorted(v for v, _ in vals) == ["alpha", "beta", "gamma7"]


def test_pdf_extraction_end_to_end(spark):
    from doctr_spark.fixtures.pdfdocs import generate_pdf_transcripts
    from doctr_spark.operators.pipeline import extract_documents

    tdf, gdf = generate_pdf_transcripts(spark, 6, with_gt=True)
    docs = extract_documents(tdf)
    gt = gdf.withColumnRenamed("n_words", "gt_n_words")
    rows = (
        docs.join(gt, ["conv_id", "turn_idx"])
        .select(
            (F.col("extracted_text") == F.col("gt_text")).alias("text_ok"),
            (F.col("n_words") == F.col("gt_n_words")).alias("words_ok"),
        )
        .collect()
    )
    assert len(rows) >= 6
    assert all(r.text_ok and r.words_ok for r in rows)


PAGE = [[(12, 10, "alpha"), (60, 10, "beta"), (12, 48, "gamma7")]]


def _placements(doc):
    (page,) = parse_pdf(doc)
    return sorted((round(x), round(y), t) for x, y, t, _sz in page["words"])


def test_pdf_tj_array_kerning_roundtrip():
    """[…] TJ with kerning numbers places every word exactly where the
    per-word Tm form does (§9.4.3 displacement math)."""
    classic = write_pdf(PAGE, (100, 260))
    tj = write_pdf(PAGE, (100, 260), use_tj=True)
    assert b"TJ" in tj and b"Tj" not in tj.replace(b"TJ", b"")
    assert _placements(tj) == _placements(classic)


def test_pdf_ascii_hex_filter():
    doc = write_pdf(PAGE, (100, 260), ascii_hex=True)
    assert b"/ASCIIHexDecode" in doc
    assert _placements(doc) == _placements(write_pdf(PAGE, (100, 260)))


@pytest.mark.parametrize(
    "filt,name",
    [
        ("a85", b"/ASCII85Decode"),
        ("rl", b"/RunLengthDecode"),
        ("lzw", b"/LZWDecode"),
    ],
)
def test_pdf_stream_filters_roundtrip(filt, name):
    doc = write_pdf(PAGE, (100, 260), stream_filter=filt)
    assert name in doc
    assert _placements(doc) == _placements(write_pdf(PAGE, (100, 260)))


def test_pdf_filter_chain():
    """'/Filter [/ASCII85Decode /FlateDecode]' — THE classic real-world
    chain — decodes left to right (§7.4.1)."""
    doc = write_pdf(PAGE, (100, 260), stream_filter=("a85", "flate"))
    assert b"/Filter [/ASCII85Decode /FlateDecode]" in doc
    assert _placements(doc) == _placements(write_pdf(PAGE, (100, 260)))


def test_pdf_ascii85_z_shortcut():
    """'z' (four zero bytes) inside an ASCII85 stream decodes per spec."""
    from doctr_spark.kernels.pdf import _decode_stream

    import base64 as b64

    raw = b"BT A" + b"\x00" * 8 + b"B ET"
    body = b64.a85encode(raw[:4]) + b"zz" + b64.a85encode(raw[-4:]) + b"~>"
    assert _decode_stream(b"<< /Filter /ASCII85Decode >>", body) == raw


@given(st.binary(min_size=0, max_size=5000))
@settings(max_examples=60, deadline=None)
def test_lzw_roundtrip_property(raw):
    """From-scratch LZW encode→decode is the identity, across the 9→10 bit
    width bump (5 kB of structured input crosses code 511)."""
    from doctr_spark.kernels.pdf import _lzw_decode, _lzw_encode

    assert _lzw_decode(_lzw_encode(raw)) == raw


def test_lzw_width_bumps_and_clear():
    """A low-entropy megabyte forces width 9→12 and a mid-stream CLEAR."""
    from doctr_spark.kernels.pdf import _lzw_decode, _lzw_encode

    raw = bytes((i * 7 + (i >> 3)) & 0xFF for i in range(300_000))
    assert _lzw_decode(_lzw_encode(raw)) == raw


@given(st.binary(min_size=0, max_size=2000))
@settings(max_examples=60, deadline=None)
def test_runlength_roundtrip_property(raw):
    from doctr_spark.kernels.pdf import _rl_decode, _rl_encode

    assert _rl_decode(_rl_encode(raw)) == raw


@pytest.mark.parametrize("pred", [2, 11, 12, 13, 14])
def test_pdf_decode_parms_predictors(pred):
    """TIFF (2) and PNG Sub/Up/Average/Paeth predictors declared via
    /DecodeParms undo exactly (applied on top of FlateDecode)."""
    import zlib as _z

    from doctr_spark.kernels.pdf import _decode_stream

    columns, rows = 7, 40
    raw = bytes((r * 31 + c * 17) & 0xFF for r in range(rows) for c in range(columns))
    if pred == 2:
        coded = bytearray(raw)
        for r in range(0, len(coded), columns):
            for i in range(r + columns - 1, r, -1):
                coded[i] = (coded[i] - coded[i - 1]) & 0xFF
        body = bytes(coded)
    else:
        ftype = {11: 1, 12: 2, 13: 3, 14: 4}[pred]
        body = bytearray()
        prev = bytes(columns)
        for r in range(rows):
            row = raw[r * columns : (r + 1) * columns]
            body.append(ftype)
            for j in range(columns):
                left = row[j - 1] if j else 0
                up = prev[j]
                ul = prev[j - 1] if j else 0
                if ftype == 1:
                    body.append((row[j] - left) & 0xFF)
                elif ftype == 2:
                    body.append((row[j] - up) & 0xFF)
                elif ftype == 3:
                    body.append((row[j] - (left + up) // 2) & 0xFF)
                else:
                    p = left + up - ul
                    pa, pb, pc = abs(p - left), abs(p - up), abs(p - ul)
                    pr = left if pa <= pb and pa <= pc else (up if pb <= pc else ul)
                    body.append((row[j] - pr) & 0xFF)
            prev = row
        body = bytes(body)
    head = (
        b"<< /Filter /FlateDecode /DecodeParms << /Predictor %d /Columns %d >> >>"
        % (pred, columns)
    )
    assert _decode_stream(head, _z.compress(body)) == raw


def test_pdf15_xref_predictor_roundtrip():
    """xref stream rows coded with the PNG Up predictor still parse, and
    decoding the xref stream itself recovers offsets that land on real
    'N 0 obj' headers."""
    import re as _re

    from doctr_spark.kernels.pdf import _decode_stream

    doc = write_pdf(PAGE, (100, 260), pdf15=True, xref_predictor=True)
    assert b"/Predictor 12" in doc
    assert _placements(doc) == _placements(write_pdf(PAGE, (100, 260)))
    m = _re.search(rb"(\d+)\s+0\s+obj\s*(<< /Type /XRef.*?>>)\nstream\n", doc, _re.DOTALL)
    head = m.group(2)
    ln = int(_re.search(rb"/Length (\d+)", head).group(1))
    rows = _decode_stream(head, doc[m.end() : m.end() + ln])
    assert len(rows) % 7 == 0
    for k in range(0, len(rows), 7):
        typ, off = rows[k], int.from_bytes(rows[k + 1 : k + 5], "big")
        if typ == 1 and off:
            assert _re.match(rb"\d+\s+0\s+obj", doc[off : off + 16])


def test_pdf15_object_and_xref_streams():
    """PDF 1.5: dict objects inside /ObjStm, xref as a stream, /Root only
    in the xref stream dict — parses identically to the classic layout."""
    doc = write_pdf(PAGE, (100, 260), use_tj=True, pdf15=True)
    assert doc.startswith(b"%PDF-1.5") and b"/ObjStm" in doc and b"/XRef" in doc
    assert b"trailer" not in doc and b"\nxref\n" not in doc
    assert _placements(doc) == _placements(write_pdf(PAGE, (100, 260)))


def test_pdf_tf_scale_parses_and_rasterizes():
    """Font size 24 = glyph scale 2: placements honor the scaled glyph
    height and the drawn page redetects through the crop normalizer."""
    from doctr_spark.kernels.detection import detect_words, extract_crops
    from doctr_spark.kernels.recognition import recognize_crops_batched

    page = [[(12, 10, "alpha"), (120, 10, "beta")]]
    doc = write_pdf(page, (120, 300), font_size=24)
    (parsed,) = parse_pdf(doc)
    assert [(round(x), round(y), t, sz) for x, y, t, sz in parsed["words"]] == [
        (12, 10, "alpha", 24.0),
        (120, 10, "beta", 24.0),
    ]
    (canvas,) = rasterize_pdf(doc)
    boxes, _, _ = detect_words(canvas)
    vals = recognize_crops_batched(extract_crops(canvas, boxes))
    assert sorted(v for v, _ in vals) == ["alpha", "beta"]


def test_pdf_fractional_scale_rejected():
    doc = write_pdf(PAGE, (100, 260))
    bad = doc.replace(b"/F1 12 Tf", b"/F1 13 Tf")
    assert bad != doc
    with pytest.raises(NotImplementedError, match="glyph scale"):
        rasterize_pdf(bad)


# uniform grid (same x0, constant pitch) — the line_ops writer contract
GRID = [
    [
        (30, 10, "alpha"),
        (110, 10, "beta"),
        (30, 40, "gamma"),
        (30, 70, "delta"),
        (95, 70, "eps"),
        (30, 100, "zeta"),
    ]
]


def _splice(content: bytes) -> bytes:
    """Hand-written content stream inside an otherwise-valid classic PDF."""
    raw = write_pdf([[]], (200, 320))
    empty = b"BT /F1 12 Tf\nET"
    doc = raw.replace(
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(empty), empty),
        b"<< /Length %d >>\nstream\n%s\nendstream" % (len(content), content),
    )
    assert doc != raw, "fixture splice failed"
    return doc


@pytest.mark.parametrize(
    "kw",
    [
        {"line_ops": True},
        {"line_ops": True, "hex_strings": True},
        {"line_ops": True, "char_spacing": 0.25},
        {"use_tj": True, "hex_strings": True},
        {"use_tj": True, "char_spacing": 0.5},
    ],
    ids=["line_ops", "line_ops_hex", "line_ops_tc", "tj_hex", "tj_tc"],
)
def test_pdf_line_operator_layouts(kw):
    """TL/Td/T*/'/\" line layouts, <hex> strings, and Tc char spacing all
    restore the exact grid the Tm form produces (§9.4.2-9.4.3, §9.3.2)."""
    doc = write_pdf(GRID, (200, 320), **kw)
    if kw.get("line_ops"):
        assert b"T*" in doc and b"'" in doc and b'"' in doc and b" TL" in doc
    if kw.get("hex_strings"):
        assert b"(" not in doc.split(b"stream", 1)[1].split(b"endstream")[0]
    if kw.get("char_spacing"):
        assert b" Tc" in doc
    (page,) = parse_pdf(doc)
    got = sorted((round(x), round(y), t) for x, y, t, _sz in page["words"])
    assert got == sorted(GRID[0])


def test_pdf_line_ops_rasterize_matches_tm_form():
    """The line-operator layout rasterizes to the identical canvas."""
    a = rasterize_pdf(write_pdf(GRID, (200, 320)))
    b = rasterize_pdf(write_pdf(GRID, (200, 320), line_ops=True, char_spacing=0.25))
    assert np.array_equal(a[0], b[0])


def test_pdf_line_ops_requires_uniform_grid():
    with pytest.raises(ValueError, match="uniform grid"):
        write_pdf([[(10, 10, "a"), (20, 40, "b")]], (100, 100), line_ops=True)


def test_pdf_string_escapes():
    r"""§7.3.4.2: octal \145, named \n-style escapes, and backslash-EOL
    line continuation all decode; a stray backslash drops."""
    content = (
        b"BT /F1 12 Tf\n"
        b"1 0 0 1 30 100 Tm (h\\145l\\154o) Tj\n"
        b"1 0 0 1 30 60 Tm (a\\\nb) Tj\n"
        b"1 0 0 1 30 30 Tm (\\q) Tj\n"
        b"ET"
    )
    (page,) = parse_pdf(_splice(content))
    assert [w[2] for w in page["words"]] == ["hello", "ab", "q"]


def test_pdf_td_uppercase_sets_leading_and_tstar_uses_it():
    """TD = Td + TL(-ty); T* then advances by that leading (§9.4.2)."""
    content = b"BT /F1 12 Tf 0 180 Td 30 -40 TD (a) Tj T* (b) Tj ET"
    (page,) = parse_pdf(_splice(content))
    got = [(round(x), round(y), t) for x, y, t, _sz in page["words"]]
    assert got == [(30, 200 - 140 - 16, "a"), (30, 200 - 100 - 16, "b")]


def test_pdf_invisible_render_mode_advances_without_text():
    """3 Tr (the scanned-page OCR-layer construct) contributes no words —
    the reference's raster path would not contain those pixels either —
    but still advances the current point for what follows."""
    content = b"BT /F1 12 Tf 1 0 0 1 30 100 Tm 3 Tr (ghost) Tj 0 Tr (real) Tj ET"
    (page,) = parse_pdf(_splice(content))
    assert [w[2] for w in page["words"]] == ["real"]
    from doctr_spark.kernels.glyphs import word_width

    assert round(page["words"][0][0]) == 30 + word_width("ghost")


def test_pdf_tz_gate():
    """Non-unit horizontal scaling rejects loudly; 100 Tz is a no-op."""
    ok = b"BT /F1 12 Tf 100 Tz 1 0 0 1 30 100 Tm (a) Tj ET"
    assert [w[2] for w in parse_pdf(_splice(ok))[0]["words"]] == ["a"]
    with pytest.raises(NotImplementedError, match="Tz"):
        parse_pdf(_splice(b"BT /F1 12 Tf 50 Tz (a) Tj ET"))


def test_pdf_word_spacing_advances_spaces():
    """Tw adds to the advance of every SPACE glyph in a shown string
    (§9.3.3): two strings shown back to back stay adjacent."""
    content = b"BT /F1 12 Tf 6 Tw 1 0 0 1 30 100 Tm (a b) Tj (!) Tj ET"
    (page,) = parse_pdf(_splice(content))
    from doctr_spark.kernels.glyphs import word_width

    a_b, bang = page["words"]
    assert bang[0] == pytest.approx(30 + word_width("a b") + 6)


# ---------------------------------------------------------------- images


def test_pdf_image_xobject_roundtrip():
    """§8.9 image XObject: write -> parse returns placement + exact pixels
    (8-bit /DeviceGray, FlateDecode)."""
    rng = np.random.default_rng(7)
    img = rng.integers(0, 256, (40, 60), dtype=np.uint8)
    doc = write_pdf([[]], (200, 320), images={0: [(img, 25, 30)]})
    (page,) = parse_pdf(doc)
    assert page["words"] == []
    [(x, y, arr)] = page["images"]
    assert (round(x), round(y)) == (25, 30)
    assert np.array_equal(arr, img)


def test_pdf_image_scaled_display_resamples_nearest():
    """A CTM whose a/d differ from /Width//Height displays the image
    resampled (nearest neighbor); 2x upscale is exact pixel doubling."""
    img = np.arange(12, dtype=np.uint8).reshape(3, 4)
    doc = write_pdf([[]], (100, 100), images={0: [(img, 10, 10, 8, 6)]})
    [(x, y, arr)] = parse_pdf(doc)[0]["images"]
    assert (round(x), round(y)) == (10, 10)
    assert arr.shape == (6, 8)
    assert np.array_equal(arr, np.kron(img, np.ones((2, 2), np.uint8)))


def test_pdf_scanned_page_rasterizes_like_text_page():
    """The scanned-page construct: the rendered text canvas embedded as an
    image-only page (plus an invisible 3 Tr OCR layer) rasterizes to the
    IDENTICAL pixels — so the detection -> recognition path reads the same
    document either way, exactly like the reference's pypdfium2 render."""
    (canvas,) = rasterize_pdf(write_pdf(GRID, (200, 320)))
    scanned = write_pdf(GRID, (200, 320), images={0: [(canvas, 0, 0)]}, render_mode=3)
    (page,) = parse_pdf(scanned)
    assert page["words"] == []  # the 3 Tr layer emits no visible words
    assert len(page["images"]) == 1
    assert np.array_equal(rasterize_pdf(scanned)[0], canvas)


def test_pdf_image_inside_pdf15_layout():
    """Image streams stay top-level (type-1 xref rows) in the ObjStm/xref-
    stream layout."""
    rng = np.random.default_rng(11)
    img = rng.integers(0, 256, (30, 50), dtype=np.uint8)
    doc = write_pdf(GRID, (200, 320), images={0: [(img, 100, 120)]}, pdf15=True, xref_predictor=True)
    (page,) = parse_pdf(doc)
    assert len(page["words"]) == len(GRID[0])
    assert np.array_equal(page["images"][0][2], img)


def test_pdf_image_gates_reject_loudly():
    """Beyond-subset image constructs keep the disclosed-gate contract."""
    img = np.zeros((10, 10), dtype=np.uint8)
    doc = write_pdf([[]], (100, 100), images={0: [(img, 5, 5)]})

    # rotated CTM (b/c nonzero)
    bad = doc.replace(b"q 10 0 0 10", b"q 10 2 2 10")
    assert bad != doc
    with pytest.raises(NotImplementedError, match="skew/reflection"):
        parse_pdf(bad)

    # non-gray colorspace
    bad = doc.replace(b"/DeviceGray", b"/DeviceRGB")
    with pytest.raises(NotImplementedError, match="DeviceGray"):
        parse_pdf(bad)

    # form XObject (no /Subtype /Image)
    bad = doc.replace(b"/Subtype /Image", b"/Subtype /Form ")
    with pytest.raises(NotImplementedError, match="form XObject"):
        parse_pdf(bad)

    # a bare Do outside the q/cm/Do idiom (same-length splice keeps the
    # declared /Length landing on endstream)
    old_ops = b"q 10 0 0 10 5 85 cm /Im2 Do Q"
    bad = doc.replace(old_ops, b"/Im2 Do".ljust(len(old_ops)))
    assert bad != doc
    with pytest.raises(NotImplementedError, match="q/cm/Do"):
        parse_pdf(bad)


def test_pdf_inline_image_rejected_but_BI_in_string_ok():
    """BI/ID/EI inline images gate loudly; the literal word 'BI' inside a
    shown string must NOT trip the gate."""
    content = b"BT /F1 12 Tf 1 0 0 1 10 50 Tm (BI works) Tj ET\nBI /W 1 /H 1 ID x EI"
    with pytest.raises(NotImplementedError, match="inline image"):
        parse_pdf(_splice(content))
    ok = b"BT /F1 12 Tf 1 0 0 1 10 50 Tm (BI) Tj ET"
    (page,) = parse_pdf(_splice(ok))
    assert [w[2] for w in page["words"]] == ["BI"]


def test_pdf_scanned_fixture_mode_extracts_exact():
    """The fixture generator's scanned mode (mode 6) rasterizes to exactly
    the pixels the equivalent text-mode page renders."""
    from doctr_spark.config import PAGE_H, PAGE_W
    from doctr_spark.fixtures.pdfdocs import _render_canvas, gen_pdf_page

    rng = np.random.default_rng(3)
    placements, gt, n = gen_pdf_page(rng)
    text_doc = write_pdf([placements], (PAGE_H, PAGE_W))
    scanned = write_pdf(
        [[]], (PAGE_H, PAGE_W), images={0: [(_render_canvas(placements), 0, 0)]}
    )
    assert np.array_equal(rasterize_pdf(text_doc)[0], rasterize_pdf(scanned)[0])


@pytest.mark.parametrize("rot", [90, 180, 270])
def test_pdf_rotate_scanned_page_displays_upright(rot):
    """Page /Rotate: the scan is STORED sideways and displayed upright —
    write/parse/rasterize round-trips to the identical upright pixels,
    with the display size reported (content dims swap for 90/270)."""
    (canvas,) = rasterize_pdf(write_pdf(GRID, (200, 320)))
    doc = write_pdf(
        GRID, (200, 320), images={0: [(canvas, 0, 0)]}, render_mode=3, rotate=rot
    )
    (page,) = parse_pdf(doc)
    assert page["rotate"] == rot and page["size"] == (200, 320)
    assert np.array_equal(rasterize_pdf(doc)[0], canvas)
    if rot in (90, 270):  # the stored raster really is sideways
        assert b"/Width 200 /Height 320" in doc
    else:
        assert b"/Width 320 /Height 200" in doc


def test_pdf_rotate_gates():
    """Visible text under /Rotate rejects loudly on both sides."""
    with pytest.raises(ValueError, match="visible text on a rotated page"):
        write_pdf(GRID, (200, 320), rotate=90)
    doc = write_pdf(GRID, (200, 320))
    bad = doc.replace(b"/Type /Page /Parent", b"/Type /Page /Rotate 180 /Parent")
    assert bad != doc
    with pytest.raises(NotImplementedError, match="visible text under page /Rotate"):
        parse_pdf(bad)


def test_pdf_bilevel_image_roundtrip():
    """1-bit /DeviceGray images (B/W scans): bool input packs to bit rows
    with byte-aligned stride (§8.9.5.2) and decodes to 0/255 pixels — so a
    thresholded scan of a rendered page redetects identically."""
    (canvas,) = rasterize_pdf(write_pdf(GRID, (200, 320)))
    bw = canvas > 127  # bilevel scan of the page
    doc = write_pdf([[]], (200, 320), images={0: [(bw, 0, 0)]})
    assert b"/BitsPerComponent 1" in doc
    (page,) = parse_pdf(doc)
    [(x, y, arr)] = page["images"]
    assert np.array_equal(arr, bw.astype(np.uint8) * 255)
    # odd width exercises row padding
    odd = np.zeros((5, 13), dtype=bool)
    odd[2, ::3] = True
    doc2 = write_pdf([[]], (50, 50), images={0: [(odd, 7, 9)]})
    [(x2, y2, arr2)] = parse_pdf(doc2)[0]["images"]
    assert arr2.shape == (5, 13) and np.array_equal(arr2 > 0, odd)


def test_pdf_bilevel_scan_redetects_words():
    """Thresholded 1-bit scan -> rasterize -> detection/recognition reads
    the page exactly (glyph ink is binary already)."""
    from doctr_spark.kernels.detection import detect_words, extract_crops
    from doctr_spark.kernels.recognition import recognize_crops_batched

    words = [[(12, 10, "alpha"), (120, 10, "beta"), (12, 48, "gamma7")]]
    (canvas,) = rasterize_pdf(write_pdf(words, (100, 260)))
    doc = write_pdf([[]], (100, 260), images={0: [(canvas > 127, 0, 0)]})
    (scan,) = rasterize_pdf(doc)
    boxes, _, _ = detect_words(scan)
    vals = recognize_crops_batched(extract_crops(scan, boxes))
    assert sorted(v for v, _ in vals) == ["alpha", "beta", "gamma7"]


def test_pdf_jpeg_xobject_roundtrip():
    """/DCTDecode image XObject (§7.4.8): the stream is a baseline JPEG,
    decoded by the from-scratch T.81 codec to its luma plane."""
    rng = np.random.default_rng(11)
    # smooth per-block field so q95 is near-lossless
    img = np.repeat(np.repeat(rng.integers(0, 256, (5, 8)), 8, 0), 8, 1).astype(np.uint8)
    doc = write_pdf([[]], (200, 320), images={0: [(img, 25, 30)]}, jpeg_quality=95)
    assert b"/DCTDecode" in doc and b"\xff\xd8" in doc
    (page,) = parse_pdf(doc)
    [(x, y, arr)] = page["images"]
    assert (round(x), round(y)) == (25, 30)
    assert arr.shape == img.shape
    assert np.abs(arr.astype(int) - img.astype(int)).max() <= 1


def test_pdf_jpeg_scan_redetects_words():
    """The real-scanner layout end to end: render a page, JPEG it at q95,
    embed as a /DCTDecode scan, rasterize, and detection/recognition
    reads back the exact words."""
    from doctr_spark.kernels.detection import detect_words, extract_crops
    from doctr_spark.kernels.recognition import recognize_crops_batched

    words = [[(12, 10, "alpha"), (120, 10, "beta"), (12, 48, "gamma7")]]
    (canvas,) = rasterize_pdf(write_pdf(words, (100, 260)))
    doc = write_pdf([[]], (100, 260), images={0: [(canvas, 0, 0)]}, jpeg_quality=95)
    (scan,) = rasterize_pdf(doc)
    boxes, _, _ = detect_words(scan)
    vals = recognize_crops_batched(extract_crops(scan, boxes))
    assert sorted(v for v, _ in vals) == ["alpha", "beta", "gamma7"]


def test_pdf_jpeg_rgb_colorspace_accepted_gray12_rejected():
    """DCTDecode allows /DeviceRGB (luma is extracted); non-8-bit or
    exotic colorspaces under DCTDecode reject loudly."""
    img = np.full((16, 16), 200, np.uint8)
    doc = write_pdf([[]], (50, 50), images={0: [(img, 0, 0)]}, jpeg_quality=90)
    rgb_doc = doc.replace(b"/ColorSpace /DeviceGray", b"/ColorSpace /DeviceRGB")
    [(x, y, arr)] = parse_pdf(rgb_doc)[0]["images"]
    assert arr.shape == (16, 16)
    cmyk_doc = doc.replace(b"/ColorSpace /DeviceGray", b"/ColorSpace /DeviceCMYK")
    with pytest.raises(NotImplementedError, match="DCTDecode"):
        parse_pdf(cmyk_doc)


def test_pdf_dctdecode_outside_image_rejects():
    """DCTDecode on a CONTENT stream (not an image XObject) still rejects
    loudly — it is only meaningful as an image's final filter."""
    doc = write_pdf([[(10, 10, "hi")]], (50, 80))
    bad = doc.replace(b"<< /Length", b"<< /Filter /DCTDecode /Length", 1)
    with pytest.raises(NotImplementedError, match="DCTDecode"):
        parse_pdf(bad)


def test_pdf_ccitt_g4_xobject_roundtrip():
    """/CCITTFaxDecode image XObject (§7.4.6): the Group 4 fax layout —
    the construct virtually every real scanned PDF uses — round trips to
    the exact ink mask."""
    rng = np.random.default_rng(13)
    ink = rng.random((40, 60)) < 0.3
    doc = write_pdf([[]], (200, 320), images={0: [(ink, 25, 30)]}, ccitt_g4=True)
    assert b"/CCITTFaxDecode" in doc and b"/K -1" in doc
    (page,) = parse_pdf(doc)
    [(x, y, arr)] = page["images"]
    assert (round(x), round(y)) == (25, 30)
    assert np.array_equal(arr > 0, ink)


def test_pdf_ccitt_scan_redetects_words():
    """G4 fax scan end to end: render -> threshold -> G4-embed ->
    rasterize -> detection/recognition reads back the exact words."""
    from doctr_spark.kernels.detection import detect_words, extract_crops
    from doctr_spark.kernels.recognition import recognize_crops_batched

    words = [[(12, 10, "alpha"), (120, 10, "beta"), (12, 48, "gamma7")]]
    (canvas,) = rasterize_pdf(write_pdf(words, (100, 260)))
    doc = write_pdf([[]], (100, 260), images={0: [(canvas > 127, 0, 0)]}, ccitt_g4=True)
    (scan,) = rasterize_pdf(doc)
    boxes, _, _ = detect_words(scan)
    vals = recognize_crops_batched(extract_crops(scan, boxes))
    assert sorted(v for v, _ in vals) == ["alpha", "beta", "gamma7"]


def test_pdf_ccitt_gates():
    """Mismatched /Columns and non-1-bit CCITT reject loudly."""
    ink = np.zeros((10, 16), dtype=bool)
    doc = write_pdf([[]], (50, 50), images={0: [(ink, 0, 0)]}, ccitt_g4=True)
    with pytest.raises(ValueError, match="Columns"):
        parse_pdf(doc.replace(b"/Columns 16", b"/Columns 24"))
    with pytest.raises(NotImplementedError, match="CCITT"):
        parse_pdf(doc.replace(b"/BitsPerComponent 1", b"/BitsPerComponent 8"))


def _bi(content_img: np.ndarray, x: int, y_top: int, page=(200, 320), filt=b"") -> bytes:
    """Inline-image content stream: q/cm + BI dict + raw or filtered data."""
    ih, iw = content_img.shape
    h, _ = page
    if content_img.dtype == bool:
        data, bpc = np.packbits(content_img, axis=1).tobytes(), 1
    else:
        data, bpc = content_img.tobytes(), 8
    if filt == b"/Fl":
        import zlib

        data = zlib.compress(data)
    return (
        b"q %d 0 0 %d %d %d cm BI /W %d /H %d /BPC %d /CS /G%s ID " % (
            iw, ih, x, h - y_top - ih, iw, ih, bpc,
            b" /F " + filt if filt else b"",
        )
        + data
        + b" EI Q"
    )


def test_pdf_inline_image_raw_roundtrip():
    """§8.9.7 raw inline image: length-derived extent — binary data
    containing the bytes 'EI ' must not end it early."""
    rng = np.random.default_rng(17)
    img = rng.integers(0, 256, (10, 30), dtype=np.uint8)
    img[3, 5:8] = [0x45, 0x49, 0x20]  # 'EI ' inside the pixel data
    (page,) = parse_pdf(_splice(_bi(img, 25, 30)))
    [(x, y, arr)] = page["images"]
    assert (round(x), round(y)) == (25, 30)
    assert np.array_equal(arr, img)


def test_pdf_inline_image_1bit_and_flate():
    ink = np.tri(8, 21, dtype=bool)
    [(x, y, arr)] = parse_pdf(_splice(_bi(ink, 0, 0)))[0]["images"]
    assert np.array_equal(arr > 0, ink)
    img = np.arange(200, dtype=np.uint8).reshape(10, 20)
    [(x2, y2, arr2)] = parse_pdf(_splice(_bi(img, 4, 6, filt=b"/Fl")))[0]["images"]
    assert np.array_equal(arr2, img)


def test_pdf_inline_image_flate_whitespace_tail():
    """Flate data whose LAST byte is whitespace (adler32 tail) must not
    be eaten by the data-to-EI separator strip (the conv-27 fixture
    page regression)."""
    import zlib

    rng = np.random.default_rng(20)  # seed whose zlib tail byte is \x00
    img = (rng.random((20, 30)) * 255).astype(np.uint8)
    assert zlib.compress(img.tobytes())[-1:] in b"\x00\t\n\f\r "
    [(x, y, arr)] = parse_pdf(_splice(_bi(img, 3, 5, filt=b"/Fl")))[0]["images"]
    assert np.array_equal(arr, img)


def test_pdf_inline_image_text_coexists():
    """Inline image + text on the same page: both extracted, and the
    blanked binary bytes never reach the text pass."""
    img = np.full((5, 9), 7, np.uint8)
    content = _bi(img, 10, 60) + b"\nBT /F1 12 Tf 1 0 0 1 10 50 Tm (BI works) Tj ET"
    (page,) = parse_pdf(_splice(content))
    assert [w[2] for w in page["words"]] == ["BI works"]
    assert len(page["images"]) == 1


def test_pdf_inline_image_redetects_words():
    """Scanned-page-as-inline-image end to end through detection and
    recognition."""
    from doctr_spark.kernels.detection import detect_words, extract_crops
    from doctr_spark.kernels.recognition import recognize_crops_batched

    words = [[(12, 10, "alpha"), (120, 10, "beta")]]
    (canvas,) = rasterize_pdf(write_pdf(words, (100, 260)))
    doc = _splice(_bi(canvas, 0, 0, page=(200, 320)))
    (scan,) = rasterize_pdf(doc)
    boxes, _, _ = detect_words(scan)
    vals = recognize_crops_batched(extract_crops(scan, boxes))
    assert sorted(v for v, _ in vals) == ["alpha", "beta"]


def test_pdf_inline_image_gates_still_loud():
    """Stray BI outside the placement idiom still rejects; image masks
    and color inline images reject."""
    with pytest.raises(NotImplementedError, match="inline image"):
        parse_pdf(_splice(b"BI /W 1 /H 1 ID x EI"))
    bad = b"q 9 0 0 5 0 0 cm BI /W 9 /H 5 /BPC 8 /CS /RGB ID " + b"\x00" * 135 + b" EI Q"
    with pytest.raises(NotImplementedError, match="DeviceGray"):
        parse_pdf(_splice(bad))
    mask = b"q 8 0 0 1 0 0 cm BI /W 8 /H 1 /IM true ID \x00 EI Q"
    with pytest.raises(NotImplementedError, match="mask"):
        parse_pdf(_splice(mask))


def _form_pdf(page_content: bytes, forms: dict[bytes, bytes], extras: dict[bytes, bytes] = {}) -> bytes:
    """Minimal hand-built PDF with form XObjects. ``forms`` maps resource
    name -> form content stream; ``extras`` maps name -> extra dict
    entries spliced into that form's header (e.g. /Matrix)."""
    objs = [b"<< /Length %d >>\nstream\n%s\nendstream" % (len(page_content), page_content)]
    res_names = []
    for i, (name, fc) in enumerate(forms.items()):
        oid = 2 + i
        head = b"<< /Type /XObject /Subtype /Form %s/Length %d >>" % (
            extras.get(name, b""), len(fc),
        )
        objs.append(head + b"\nstream\n" + fc + b"\nendstream")
        res_names.append(b"/%s %d 0 R" % (name, oid))
    nf = len(forms)
    font, pages, cat, page = 2 + nf, 3 + nf, 4 + nf, 5 + nf
    objs += [
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>",
        b"<< /Type /Pages /Kids [%d 0 R] /Count 1 >>" % page,
        b"<< /Type /Catalog /Pages %d 0 R >>" % pages,
        b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 320 200] /Contents 1 0 R "
        b"/Resources << /Font << /F1 %d 0 R >> /XObject << %s >> >> >>"
        % (pages, font, b" ".join(res_names)),
    ]
    out = b"%PDF-1.4\n"
    for i, body in enumerate(objs, start=1):
        out += b"%d 0 obj\n%s\nendobj\n" % (i, body)
    return out + b"trailer << /Root %d 0 R >>\n%%%%EOF" % cat


def test_pdf_form_xobject_text_translates():
    """§8.10 form placed at a translation: its text lands shifted into
    page space, identical to drawing it directly."""
    form = b"BT /F1 12 Tf 1 0 0 1 10 20 Tm (stamp) Tj ET"
    doc = _form_pdf(b"q 1 0 0 1 30 40 cm /Fm1 Do Q", {b"Fm1": form})
    direct = _splice(b"BT /F1 12 Tf 1 0 0 1 40 60 Tm (stamp) Tj ET")
    assert parse_pdf(doc)[0]["words"] == parse_pdf(direct)[0]["words"]


def test_pdf_form_matrix_translation_composes():
    form = b"BT /F1 12 Tf 1 0 0 1 0 0 Tm (hi) Tj ET"
    doc = _form_pdf(
        b"q 1 0 0 1 30 40 cm /Fm1 Do Q",
        {b"Fm1": form},
        {b"Fm1": b"/Matrix [1 0 0 1 5 7] "},
    )
    direct = _splice(b"BT /F1 12 Tf 1 0 0 1 35 47 Tm (hi) Tj ET")
    assert parse_pdf(doc)[0]["words"] == parse_pdf(direct)[0]["words"]


def test_pdf_form_nested_and_page_text_coexist():
    """A form invoking another form (letterhead-in-template nesting) plus
    page-level text: every layer lands where a direct draw would."""
    inner = b"BT /F1 12 Tf 1 0 0 1 1 2 Tm (deep) Tj ET"
    outer = b"BT /F1 12 Tf 1 0 0 1 10 20 Tm (outer) Tj ET q 1 0 0 1 100 0 cm /Fm2 Do Q"
    page = b"BT /F1 12 Tf 1 0 0 1 5 150 Tm (page) Tj ET q 1 0 0 1 30 40 cm /Fm1 Do Q"
    doc = _form_pdf(page, {b"Fm1": outer, b"Fm2": inner})
    direct = _splice(
        b"BT /F1 12 Tf 1 0 0 1 5 150 Tm (page) Tj ET"
        b" BT /F1 12 Tf 1 0 0 1 40 60 Tm (outer) Tj ET"
        b" BT /F1 12 Tf 1 0 0 1 131 42 Tm (deep) Tj ET"
    )
    assert sorted(parse_pdf(doc)[0]["words"]) == sorted(parse_pdf(direct)[0]["words"])


def test_pdf_form_with_inline_image_shifts():
    img = np.arange(50, dtype=np.uint8).reshape(5, 10)
    # inline image at (3, bottom 100) inside a form translated by (20, 30)
    form = b"q 10 0 0 5 3 100 cm BI /W 10 /H 5 /BPC 8 /CS /G ID " + img.tobytes() + b" EI Q"
    doc = _form_pdf(b"q 1 0 0 1 20 30 cm /Fm1 Do Q", {b"Fm1": form})
    [(x, y, arr)] = parse_pdf(doc)[0]["images"]
    assert (round(x), round(y)) == (23, 200 - 130 - 5)
    assert np.array_equal(arr, img)


def test_pdf_form_gates():
    """Scaled form placement and non-translation /Matrix reject loudly."""
    form = b"BT /F1 12 Tf (x) Tj ET"
    with pytest.raises(NotImplementedError, match="pure translation"):
        parse_pdf(_form_pdf(b"q 2 0 0 2 0 0 cm /Fm1 Do Q", {b"Fm1": form}))
    with pytest.raises(NotImplementedError, match="Matrix"):
        parse_pdf(
            _form_pdf(
                b"q 1 0 0 1 0 0 cm /Fm1 Do Q",
                {b"Fm1": form},
                {b"Fm1": b"/Matrix [2 0 0 2 0 0] "},
            )
        )


def test_ctm_quadrant_rotated_images():
    """§8.3.3 quadrant rotations: a raster stored sideways with a
    rotating placement CTM displays upright at the same position (the
    no-/Rotate scanner layout)."""
    import numpy as np

    img = (np.add.outer(np.arange(50), np.arange(70)) % 256).astype(np.uint8)
    ref = parse_pdf(write_pdf([[]], (50, 70), images={0: [(img, 0, 0)]}, render_mode=3))[0]
    for r in (90, 180, 270):
        got = parse_pdf(
            write_pdf([[]], (50, 70), images={0: [(img, 0, 0)]}, render_mode=3, ctm_rotate=r)
        )[0]
        assert got["size"] == ref["size"]
        (x0, y0, i0), (x1, y1, i1) = ref["images"][0], got["images"][0]
        assert (x0, y0) == (x1, y1) and np.array_equal(i0, i1), r
    # offset non-square placement through each quadrant
    ink = np.zeros((40, 60), bool)
    ink[5:12, 8:30] = True
    ref = parse_pdf(write_pdf([[]], (100, 100), images={0: [(ink, 15, 25)]}, render_mode=3))[0]
    for r in (90, 180, 270):
        got = parse_pdf(
            write_pdf([[]], (100, 100), images={0: [(ink, 15, 25)]}, render_mode=3, ctm_rotate=r)
        )[0]
        (x0, y0, i0), (x1, y1, i1) = ref["images"][0], got["images"][0]
        assert (x0, y0) == (x1, y1) and np.array_equal(i0, i1), r


def test_ctm_skew_still_rejects():
    import numpy as np

    img = np.zeros((16, 16), np.uint8)
    blob = write_pdf([[]], (16, 16), images={0: [(img, 0, 0)]}, render_mode=3)
    skewed = blob.replace(b"q 16 0 0 16 0 0 cm", b"q 16 3 0 16 0 0 cm")
    assert skewed != blob
    with pytest.raises(NotImplementedError, match="skew|quadrant"):
        parse_pdf(skewed)


# -- font-encoding layer (§9.6-9.10): subset fonts, CMaps, Differences --


@pytest.mark.parametrize("kind", ["winansi", "differences", "tounicode", "type0"])
@pytest.mark.parametrize("layout", [{}, {"use_tj": True}, {"pdf15": True}])
def test_font_kinds_match_classic_placements(kind, layout):
    """Every subset-font construct recovers exactly the text and
    placements the unencoded classic layout produces, across the per-word
    Tm, kerned TJ, and PDF 1.5 object-stream layouts."""
    classic = write_pdf(PAGE, (100, 260))
    blob = write_pdf(PAGE, (100, 260), font_kind=kind, **layout)
    if kind in ("differences", "tounicode", "type0"):
        # the remapped kinds must NOT contain the text as plain bytes
        assert b"alpha" not in blob
    assert _placements(blob) == _placements(classic)


def test_type0_cids_are_two_bytes_past_0x100():
    """Identity-H strings carry 2-byte CIDs; the fixture assigns them
    past 0x0100 so a byte-width bug in the decoder cannot hide."""
    blob = write_pdf([[(10, 10, "ab")]], (60, 120), font_kind="type0")
    assert b"/Identity-H" in blob and b"/CIDFontType2" in blob
    (page,) = parse_pdf(blob)
    assert [w[2] for w in page["words"]] == ["ab"]


def test_winansi_high_range_decodes():
    """0x80-0x9F reads through the Annex D.2 table, not latin-1 (where
    those codes are control characters)."""
    blob = write_pdf([[(10, 10, "a€–b")]], (60, 160), font_kind="winansi")
    (page,) = parse_pdf(blob)
    assert page["words"][0][2] == "a€–b"


def test_differences_uni_names_decode():
    """uniXXXX glyph names (the other common subset idiom) map straight
    to their codepoint."""
    blob = write_pdf([[(10, 10, "ab")]], (60, 120), font_kind="differences")
    # rewrite the Differences names as uniXXXX equivalents
    blob2 = blob.replace(b"/a /b", b"/uni0061 /uni0062")
    assert blob2 != blob
    (page,) = parse_pdf(blob2)
    assert page["words"][0][2] == "ab"


def test_font_encoding_gates_stay_loud():
    from doctr_spark.kernels.pdf import _make_font_decoder

    base = write_pdf([[(10, 10, "ab")]], (60, 120), font_kind="type0")
    # Identity-V (vertical) is outside the subset
    with pytest.raises(NotImplementedError, match="Identity-H"):
        parse_pdf(base.replace(b"/Identity-H", b"/Identity-V"))
    # a Type0 font whose ToUnicode link is severed cannot be read
    with pytest.raises(NotImplementedError, match="ToUnicode"):
        parse_pdf(base.replace(b"/ToUnicode", b"/ToUnicorn"))
    # an unknown base-encoding name rejects rather than guesses
    mac = write_pdf([[(10, 10, "ab")]], (60, 120), font_kind="winansi")
    with pytest.raises(NotImplementedError, match="PDFDoc"):
        parse_pdf(mac.replace(b"/WinAnsiEncoding", b"/PDFDocEncoding "))
    # unknown glyph names reject rather than guess
    diff = write_pdf([[(10, 10, "ab")]], (60, 120), font_kind="differences")
    with pytest.raises(NotImplementedError, match="glyph name"):
        parse_pdf(diff.replace(b"/a /b", b"/xx /b"))
    # odd byte count in an Identity-H string is malformed
    objs_decoder_probe = _make_font_decoder  # keep the import used
    del objs_decoder_probe
    # a Tf naming a font absent from /Resources is malformed
    t1 = write_pdf([[(10, 10, "ab")]], (60, 120))
    with pytest.raises(ValueError, match="absent from /Resources"):
        parse_pdf(t1.replace(b"/F1 12 Tf", b"/F9 12 Tf"))


def test_identity_h_odd_bytes_reject():
    blob = write_pdf([[(10, 10, "ab")]], (60, 120), font_kind="type0")
    # chop one hex byte off the 2-byte-CID string token
    import re as _re

    m = _re.search(rb"<([0-9A-F]{8})>", blob)
    assert m
    # same byte length (pad with spaces) so the declared /Length holds
    bad = blob.replace(m.group(0), b"<" + m.group(1)[:6] + b">  ", 1)
    with pytest.raises(ValueError, match="odd byte count"):
        parse_pdf(bad)


def test_tounicode_bfrange_and_bfchar_both_parse():
    """A charset with consecutive letters AND digits plus isolated
    punctuation exercises both bfrange compression and bfchar pairs."""
    from doctr_spark.kernels.pdfenc import assign_codes, build_tounicode_cmap, parse_tounicode

    charset = set("abcdef012!@")
    codes = assign_codes(charset, two_byte=True)
    cmap = build_tounicode_cmap({c: ch for ch, c in codes.items()}, two_byte=True)
    assert b"beginbfrange" in cmap and b"beginbfchar" in cmap
    back = parse_tounicode(cmap)
    assert back == {c: ch for ch, c in codes.items()}


def test_tounicode_bfrange_array_form():
    from doctr_spark.kernels.pdfenc import parse_tounicode

    cmap = (
        b"1 begincodespacerange\n<00> <FF>\nendcodespacerange\n"
        b"1 beginbfrange\n<41> <43> [<0058> <0059> <005A>]\nendbfrange\n"
    )
    assert parse_tounicode(cmap) == {0x41: "X", 0x42: "Y", 0x43: "Z"}


def test_fixture_subset_font_modes_extract_exact(spark):
    """Fixture modes 18/19/20 (Type0, Differences, bare-ToUnicode) run
    the full Spark extraction path and match their own ground truth."""
    import pandas as pd

    from doctr_spark.fixtures.pdfdocs import gen_pdf_conversation
    from doctr_spark.fixtures.transcripts import TRANSCRIPTS_SCHEMA
    from doctr_spark.operators.pipeline import extract_documents

    rows, gts = [], []
    for conv_no in (18, 19, 20):
        r, g = gen_pdf_conversation(conv_no)
        rows += r
        gts += g
    tdf = spark.createDataFrame(pd.DataFrame(rows), schema=TRANSCRIPTS_SCHEMA)
    docs = extract_documents(tdf)
    got = {
        (r["conv_id"], r["turn_idx"]): (r["extracted_text"], r["n_words"])
        for r in docs.collect()
    }
    assert len(got) == len(gts)
    for g in gts:
        text, n_words = got[(g["conv_id"], g["turn_idx"])]
        assert text == g["gt_text"]
        assert n_words == g["n_words"]


def test_macroman_encoding_decodes():
    """MacRomanEncoding (Annex D.2): high-range bytes differ from both
    latin-1 and WinAnsi — 'é' is 0x8E, '†' is 0xA0."""
    blob = write_pdf([[(10, 10, "café†")]], (60, 160), font_kind="macroman")
    assert b"/MacRomanEncoding" in blob
    (page,) = parse_pdf(blob)
    assert page["words"][0][2] == "café†"
    classic = write_pdf([[(10, 10, "cafex")]], (60, 160))
    assert _placements(blob)[0][:2] == _placements(classic)[0][:2]


@pytest.mark.parametrize("layout", [{}, {"pdf15": True}, {"compress": True}])
def test_mixed_fonts_switch_decoder_per_tf(layout):
    """/F1 (unencoded) and /F2 (Identity-H + ToUnicode) alternate word by
    word on ONE page — the every-real-PDF construct: the reader must
    re-resolve the string decoder at each Tf."""
    pages = [[(20, 30, "hello"), (80, 30, "world42"), (20, 55, "mix"), (70, 55, "fonts")]]
    blob = write_pdf(pages, (200, 320), font_kind="mixed", **layout)
    assert b"/F2" in blob
    assert _placements(blob) == _placements(write_pdf(pages, (200, 320)))
    with pytest.raises(ValueError, match="per-word Tm"):
        write_pdf(pages, (200, 320), font_kind="mixed", use_tj=True)


def test_fixture_mixed_font_mode_extracts_exact(spark):
    """Fixture mode 22 (mixed fonts) through the full Spark extraction
    path, exact against its own ground truth."""
    import pandas as pd

    from doctr_spark.fixtures.pdfdocs import gen_pdf_conversation
    from doctr_spark.fixtures.transcripts import TRANSCRIPTS_SCHEMA
    from doctr_spark.operators.pipeline import extract_documents

    rows, gts = gen_pdf_conversation(22)
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


@pytest.mark.parametrize(
    "kind", ["type1", "winansi", "macroman", "differences", "tounicode", "type0", "mixed"]
)
def test_declared_widths_reproduce_placements(kind):
    """/FirstChar+/Widths (simple) and /W (CID, array + range forms)
    drive the §9.4.4 advance; declaring the glyph metrics must land every
    word exactly where the metric-free layout does — including under TJ
    kerning, where the advance error would accumulate."""
    classic = write_pdf(PAGE, (100, 260))
    use_tj = kind not in ("mixed",)
    blob = write_pdf(PAGE, (100, 260), font_kind=kind, declare_widths=True, use_tj=use_tj)
    assert b"/Widths" in blob or b"/W [" in blob
    assert _placements(blob) == _placements(classic)


def test_foreign_widths_are_honored_over_glyph_metrics():
    """A font whose declared widths DIFFER from the engine's glyph cell:
    the reader must advance by the declared value, not its own metrics —
    the construct every externally-written PDF brings."""
    from doctr_spark.config import GLYPH_W
    from doctr_spark.kernels.pdf import BASE_FONT_SIZE

    # two words in one TJ run: the second lands at first + advance + kern
    raw = write_pdf(
        [[(10, 10, "ab"), (18, 10, "cd")]], (60, 160), declare_widths=True, use_tj=True
    )
    base = {t: x for x, _y, t, _s in parse_pdf(raw)[0]["words"]}
    assert round(base["cd"] - base["ab"]) == 8  # 2 glyphs * GLYPH_W=4
    # double every declared width: 'cd' must land 2x as far from 'ab'
    units = f"{GLYPH_W * 1000.0 / BASE_FONT_SIZE:.10f}".rstrip("0").rstrip(".")
    doubled = raw.replace(
        units.encode(), str(2 * GLYPH_W * 1000 // BASE_FONT_SIZE).encode()
    )
    assert doubled != raw
    far = {t: x for x, _y, t, _s in parse_pdf(doubled)[0]["words"]}
    assert round(far["cd"] - far["ab"]) == 16


@pytest.mark.parametrize("seed", range(6))
def test_pdf_fuzz_rejects_never_hangs(seed):
    """Random byte flips in a valid PDF must parse or raise quickly —
    never hang; the extraction quarantine depends on it."""
    import numpy as _np

    r = _np.random.default_rng(seed)
    blob = bytearray(write_pdf(PAGE, (100, 260), compress=True))
    for _ in range(10):
        i = int(r.integers(5, len(blob)))
        blob[i] ^= int(r.integers(1, 256))
    try:
        parse_pdf(bytes(blob))
    except Exception:
        pass  # loud rejection is the contract; hanging is the bug


@pytest.mark.parametrize("layout", [{}, {"pdf15": True}, {"use_tj": True}])
def test_type3_font_text_extracts(layout):
    """Type3 glyph-procedure fonts (the DjVu OCR-layer layout): text
    decodes through /Differences, advance through the REQUIRED /Widths,
    and only the standard 1/1000 /FontMatrix is accepted."""
    pages = [[(20, 30, "hello"), (80, 30, "world42")]]
    blob = write_pdf(pages, (200, 320), font_kind="type3", **layout)
    if not layout.get("pdf15"):
        assert b"/Type3" in blob and b"/CharProcs" in blob and b"/Widths" in blob
    assert _placements(blob) == _placements(write_pdf(pages, (200, 320)))


def test_type3_rotated_fontmatrix_rejects():
    blob = write_pdf([[(10, 10, "ab")]], (60, 120), font_kind="type3")
    bad = blob.replace(b"[0.001 0 0 0.001 0 0]", b"[0 0.001 -0.001 0 0 0]")
    with pytest.raises(NotImplementedError, match="FontMatrix"):
        parse_pdf(bad)


def test_type3_diagonal_fontmatrix_rescales_widths():
    """A non-standard DIAGONAL /FontMatrix rescales the glyph space:
    doubling the matrix scale while halving the declared /Widths must
    land every word in the same place (§9.6.5 width semantics)."""
    import re as _re

    pages = [[(10, 10, "ab"), (18, 10, "cd")]]
    blob = write_pdf(pages, (60, 160), font_kind="type3", use_tj=True)
    ref = _placements(blob)
    m = _re.search(rb"/Widths \[ ([\d. ]+) \]", blob)
    half = str(float(m.group(1).split()[0]) / 2)
    doubled = blob.replace(b"[0.001 0 0 0.001 0 0]", b"[0.002 0 0 0.002 0 0]")
    doubled = _re.sub(
        rb"/Widths \[ [\d. ]+ \]",
        ("/Widths [ " + " ".join([half] * len(m.group(1).split())) + " ]").encode(),
        doubled,
    )
    assert _placements(doubled) == ref


def test_fixture_type3_mode_extracts_exact(spark):
    import pandas as pd

    from doctr_spark.fixtures.pdfdocs import gen_pdf_conversation
    from doctr_spark.fixtures.transcripts import TRANSCRIPTS_SCHEMA
    from doctr_spark.operators.pipeline import extract_documents

    rows, gts = gen_pdf_conversation(23)
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


def test_incremental_update_replaces_content():
    """§7.5.6 incremental update: same-numbered objects appended after
    the original body (with /Prev xref chain) REPLACE the originals —
    the annotate/sign-in-place layout. The decoy base text must not leak."""
    from doctr_spark.kernels.pdf import apply_incremental_update

    base = write_pdf([[(10, 10, "draft")], [(10, 10, "draft")]], (100, 260))
    real = [PAGE[0], [(12, 10, "second")]]
    upd = apply_incremental_update(base, real, (100, 260))
    assert upd[: len(base)] == base  # original bytes untouched
    assert b"/Prev" in upd and upd.count(b"startxref") == 2
    pages = parse_pdf(upd)
    texts = [sorted(t for _x, _y, t, _s in p["words"]) for p in pages]
    assert texts == [sorted(["alpha", "beta", "gamma7"]), ["second"]]
    with pytest.raises(ValueError, match="classic-xref"):
        apply_incremental_update(
            write_pdf([[(1, 1, "w")]], (50, 80), pdf15=True), real, (50, 80)
        )


def test_fixture_incremental_mode_extracts_exact(spark):
    import pandas as pd

    from doctr_spark.fixtures.pdfdocs import gen_pdf_conversation
    from doctr_spark.fixtures.transcripts import TRANSCRIPTS_SCHEMA
    from doctr_spark.operators.pipeline import extract_documents

    rows, gts = gen_pdf_conversation(24)
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
        assert "draft" not in text and "obsolete" not in text
