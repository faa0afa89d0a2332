"""Minimal from-scratch PDF text codec.

The reference rasterizes PDFs with pypdfium2 (`doctr/io/pdf.py:16-43`),
which this container lacks. Like the MAT v5 codec (`kernels/matv5.py`),
this module implements the subset of the PUBLIC PDF specification the
engine needs, from scratch against the spec (ISO 32000 / the Adobe PDF
Reference):

* indirect objects + classic xref, page tree, MediaBox, literal AND
  indirect (``/Length N 0 R``) stream lengths with an endstream landing
  check,
* PDF 1.5 cross-reference STREAMS and object streams (``/Type /ObjStm``,
  §7.5.7-7.5.8): dict-only objects packed inside a compressed stream,
  ``/Root`` discovered from the xref stream's own dictionary, optional
  PNG-predictor-coded xref rows (``/Predictor 12``),
* stream filters (§7.4): ``/FlateDecode`` (zlib is stdlib),
  ``/LZWDecode`` (from-scratch §7.4.4 codec, EarlyChange=1),
  ``/ASCIIHexDecode``, ``/ASCII85Decode``, ``/RunLengthDecode``, filter
  CHAINS (array-valued ``/Filter``), and ``/DecodeParms`` predictors for
  Flate/LZW (TIFF 2 + PNG 10-15),
* image XObjects (§8.9): ``/Subtype /Image`` streams in ``/DeviceGray``
  at 8 bits/component (raw or any supported filter chain), 1-bit
  bilevel scans, ``/DCTDecode`` JPEG payloads (8-bit DeviceGray or
  DeviceRGB, baseline SOF0 or progressive SOF2, decoded to the luma
  plane by the from-scratch T.81 codec in `kernels/jpeg.py`,
  Annex G included), and ``/CCITTFaxDecode`` Group 3/4
  fax payloads (the dominant real-scanner filter, decoded by the
  from-scratch T.4/T.6 codec in `kernels/ccitt.py` honoring /K,
  /Columns, /Rows, /EncodedByteAlign), and ``/JBIG2Decode`` embedded
  T.88 segment streams (page info + generic regions, arithmetic or
  MMR, decoded by the from-scratch MQ-coder codec in
  `kernels/jbig2.py`; symbol dictionaries / /JBIG2Globals reject
  loudly), placed by the
  ``q a b c d e f cm /Name Do Q`` idiom every common writer emits —
  axis-aligned scale+translate CTMs plus QUADRANT ROTATIONS (90/180/270,
  the raster-stored-sideways scanner layout; round 6), nearest-neighbor
  resample when the display size differs from the pixel size. This is the SCANNED-PAGE
  construct: an image-only page (optionally under an invisible ``3 Tr``
  text layer) rasterizes to the embedded pixels and flows through the
  standard detection → recognition path, exactly like the reference's
  pypdfium2 render. INLINE images (``BI``/``ID``/``EI``, §8.9.7) under
  the same placement idiom are supported too (1/8-bit DeviceGray, raw
  or transport-filtered, abbreviated or full dict keys; length-derived
  extent so binary data containing "EI" cannot end early). Skewed or
  non-quadrant CTMs, image masks, and stray ``BI`` outside the
  idiom reject loudly. Page ``/Rotate`` (90/180/
  270) displays the stored raster rotated upright — supported for pages
  whose content draws no VISIBLE text (image-only scans, optionally
  under a ``3 Tr`` layer, the construct that actually carries /Rotate
  in the wild); visible text under a rotation rejects loudly,
* text operators ``BT/ET``, ``Tm`` (translation part), ``Td``/``TD``,
  ``TL``/``T*``/``'``/``"`` line advances, ``Tc``/``Tw`` spacing (advance
  math; strings draw as atomic words), ``Tr`` render modes (mode 3 —
  the OCR-layer construct — advances without emitting, matching the
  raster path), ``Tf`` (font SIZE: glyph scale = size/12, integer scales
  rasterize), literal ``(…)`` strings with the full §7.3.4.2 escape set
  (octal, named, line continuation) plus hex ``<…>`` strings, and
  ``[…] TJ`` arrays whose kerning
  numbers displace the text position by ``-n/1000 * size`` (§9.4.3) —
  both show operators advance the position by the shown width.

* ENCRYPTION (standard security handler, via `kernels/pdfcrypt.py`):
  RC4 ``/V 1``/``/V 2`` (40..128-bit), AES-128 ``/V 4 /AESV2`` (§7.6.3)
  and AES-256 ``/V 5 /R 5|6 /AESV3`` (ISO 32000-2 §7.6.4, Algorithm 2.B
  hardened hash) crypt filters, empty-user-password authentication,
  per-object keys (file key directly for /V 5), ``/StmF /Identity``
  pass-through, ``/EncryptMetadata``; `encrypt_pdf` re-emits any parsed
  file encrypted (fixture writer).

Everything else is either ignored (graphics state the rasterizer does not
need) or rejected LOUDLY (JPX/Crypt filters, JBIG2 symbol/text/halftone
segments, non-empty passwords,
non-Standard security handlers, non-integer glyph scales), preserving the disclosed-gate contract for PDFs beyond the
subset.

Rasterization draws each extracted word in the deterministic glyph font,
so a parsed page flows through the standard detection → recognition
pipeline bit-exactly. Coordinates: PDF space is y-up from the bottom-left;
the writer stores a word whose TOP sits at ``y_top`` as
``pdf_y = page_h - y_top - GLYPH_H*scale`` and the parser inverts it.
"""

from __future__ import annotations

import base64
import binascii
import re
import zlib

import numpy as np

from ..config import GLYPH_H, GLYPH_W

BASE_FONT_SIZE = 12  # Tf size that renders the glyph font at scale 1

_STREAM_RE = re.compile(rb"stream\r?\n")
_REF_RE = re.compile(rb"(\d+)\s+0\s+R")
# a string object (§7.3.4): literal (…) with escapes, or hex <…>
_SOBJ = rb"\((?:[^()\\]|\\.)*\)|<[0-9A-Fa-f\s]*>"
_NUM = rb"-?[\d.]+"
_TEXT_OP_RE = re.compile(
    rb"(?:(" + _NUM + rb")\s+(" + _NUM + rb")\s+(" + _NUM + rb")\s+"
    rb"(" + _NUM + rb")\s+(" + _NUM + rb")\s+(" + _NUM + rb")\s+Tm)"
    rb"|(?:(" + _NUM + rb")\s+(" + _NUM + rb")\s+(Td|TD))"
    rb"|(?:(?P<tj>" + _SOBJ + rb")\s*Tj)"
    rb"|(?P<bt>BT)"
    rb"|(?:/(?P<tfname>\w+)\s+(?P<tf>" + _NUM + rb")\s+Tf)"
    rb"|(?:\[(?P<tjarr>(?:" + _SOBJ + rb"|[^\[\]()<>])*)\]\s*TJ)"
    rb"|(?:(?P<tl>" + _NUM + rb")\s+TL)"
    rb"|(?P<tstar>T\*)"
    rb"|(?:(?P<quote>" + _SOBJ + rb")\s*')"
    rb"|(?:(?P<dqw>" + _NUM + rb")\s+(?P<dqc>" + _NUM + rb")\s+"
    rb"(?P<dquote>" + _SOBJ + rb")\s*\")"
    rb"|(?:(?P<tc>" + _NUM + rb")\s+Tc)"
    rb"|(?:(?P<tw>" + _NUM + rb")\s+Tw)"
    rb"|(?:(?P<tz>" + _NUM + rb")\s+Tz)"
    rb"|(?:(?P<tr>" + _NUM + rb")\s+Tr)",
    re.DOTALL,  # \\. inside _SOBJ must span a backslash-EOL continuation
)
_TJ_ELEM_RE = re.compile(rb"(" + _SOBJ + rb")|(" + _NUM + rb")", re.DOTALL)
_SOBJ_RE = re.compile(_SOBJ, re.DOTALL)
# the image-placement idiom (§8.9): unit square mapped by an axis-aligned
# CTM inside its own q/Q save, then painted with Do
_IMG_DO_RE = re.compile(
    rb"q\s+(" + _NUM + rb")\s+(" + _NUM + rb")\s+(" + _NUM + rb")\s+"
    rb"(" + _NUM + rb")\s+(" + _NUM + rb")\s+(" + _NUM + rb")\s+cm\s*"
    rb"/(\w+)\s+Do\s+Q"
)
_ANY_DO_RE = re.compile(rb"/\w+\s+Do\b")
# §7.3.4.2 literal-string escapes: line continuation, octal, named, and
# "backslash before anything else" (the backslash is dropped)
_ESC_RE = re.compile(rb"\\(\r\n|\r|\n|[0-7]{1,3}|.)", re.DOTALL)
_ESC_NAMED = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f"}


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _unesc(b: bytes) -> str:
    def rep(m: re.Match) -> bytes:
        g = m.group(1)
        if g in (b"\r\n", b"\r", b"\n"):
            return b""  # line continuation: backslash-EOL vanishes
        if g.isdigit() and all(c in b"01234567" for c in g):
            return bytes([int(g, 8) & 0xFF])
        return _ESC_NAMED.get(g, g)

    return _ESC_RE.sub(rep, b).decode("latin-1")


def _str_raw(tok: bytes) -> bytes:
    """Raw BYTES of a string object token INCLUDING its delimiters:
    ``(…)`` literal (escapes per §7.3.4.2) or ``<…>`` hex (whitespace
    ignored, an odd final digit is padded with 0, §7.3.4.3). What the
    bytes MEAN is the current font's business (§9.6.6/§9.10)."""
    if tok[:1] == b"(":
        return _unesc(tok[1:-1]).encode("latin-1")
    hx = b"".join(tok[1:-1].split())
    if len(hx) % 2:
        hx += b"0"
    return binascii.unhexlify(hx)


def _fmt_num(v: float) -> str:
    s = f"{v:.10f}".rstrip("0").rstrip(".")
    return s or "0"


def _mk_str(word: str, hex_strings: bool) -> str:
    if hex_strings:
        return "<" + word.encode("latin-1").hex().upper() + ">"
    return f"({_esc(word)})"


def _runs_of(words: list[tuple[int, int, str]]) -> list[list[tuple[int, int, str]]]:
    runs: list[list[tuple[int, int, str]]] = []
    for x, y_top, word in sorted(words, key=lambda p: (p[1], p[0])):
        if runs and runs[-1][-1][1] == y_top:
            runs[-1].append((x, y_top, word))
        else:
            runs.append([(x, y_top, word)])
    return runs


def _content_ops(
    words: list[tuple[int, int, str]],
    h: int,
    use_tj: bool,
    font_size: int,
    *,
    line_ops: bool = False,
    hex_strings: bool = False,
    char_spacing: float = 0.0,
    render_mode: int = 0,
    tokenizer=None,
    mixed: bool = False,
) -> bytes:
    """One page's text operators. ``use_tj`` groups each baseline run into
    a single ``[…] TJ`` array whose kerning numbers carry the inter-word
    gaps (exercising the §9.4.3 displacement math); otherwise every word
    gets its own ``Tm … Tj``. ``line_ops`` lays the page out the way
    word-processor exporters do — ``TL`` + one ``Td`` + ``T*``/``'``/``"``
    line advances (requires a uniform grid: every line starts at the same
    x and line pitch is constant). ``hex_strings`` emits ``<…>`` string
    objects; ``char_spacing`` emits a ``Tc`` whose per-glyph advance the
    kerning numbers then compensate. ``tokenizer`` overrides the string
    tokenization entirely (the subset-font kinds, where text bytes are
    remapped codes rather than latin-1 characters)."""
    from .glyphs import word_width

    mk = tokenizer if tokenizer is not None else (lambda w: _mk_str(w, hex_strings))
    scale = font_size // BASE_FONT_SIZE
    ops = [b"BT /F1 %d Tf" % font_size]
    if render_mode:
        ops.append(b"%d Tr" % render_mode)
    if char_spacing:
        ops.append(f"{_fmt_num(char_spacing)} Tc".encode("latin-1"))

    def advance(x: float, word: str) -> float:
        return x + word_width(word) * scale + len(word) * char_spacing

    def tj_elems(run: list[tuple[int, int, str]], cur: float) -> str:
        elems = []
        for x, _, word in run:
            gap = x - cur
            if gap:
                elems.append(_fmt_num(-gap * 1000.0 / font_size))
            elems.append(mk(word))
            cur = advance(x, word)
        return "[" + " ".join(elems) + "] TJ"

    if line_ops:
        runs = _runs_of(words)
        pdf_ys = [h - int(r[0][1]) - GLYPH_H * scale for r in runs]
        x0s = {int(r[0][0]) for r in runs}
        pitches = {pdf_ys[i - 1] - pdf_ys[i] for i in range(1, len(runs))}
        if len(x0s) > 1 or len(pitches) > 1:
            raise ValueError("line_ops requires a uniform grid (same x0, constant pitch)")
        x0 = x0s.pop()
        if pitches:
            ops.append(b"%d TL" % pitches.pop())
        ops.append(b"%d %d Td" % (x0, pdf_ys[0]))
        for i, run in enumerate(runs):
            first_x, _, first_w = run[0]
            if i == 0:
                ops.append(tj_elems(run, float(x0)).encode("latin-1"))
                continue
            # line advance: exercise ' on line 1, " on line 2, T* after;
            # ' and " show the line's FIRST word (which must sit at x0)
            if i in (1, 2) and int(first_x) == x0:
                tok = mk(first_w)
                # " SETS Tw/Tc — carry char_spacing through its ac operand
                # or the page's later kern numbers stop compensating
                dq = f"0 {_fmt_num(char_spacing)} {tok} \""
                lead = tok + " '" if i == 1 else dq
                ops.append(lead.encode("latin-1"))
                rest, cur = run[1:], advance(first_x, first_w)
            else:
                ops.append(b"T*")
                rest, cur = run, float(x0)
            if rest:
                ops.append(tj_elems(rest, cur).encode("latin-1"))
    elif mixed:
        # alternate the unencoded /F1 and the Identity-H /F2 word by
        # word: the reader must re-resolve the decoder at every Tf
        for i, (x, y_top, word) in enumerate(sorted(words, key=lambda p: (p[1], p[0]))):
            pdf_y = h - int(y_top) - GLYPH_H * scale
            fnt, tok = ("F2", mk(word)) if i % 2 else ("F1", _mk_str(word, hex_strings))
            ops.append(
                f"/{fnt} {font_size} Tf 1 0 0 1 {int(x)} {pdf_y} Tm {tok} Tj".encode("latin-1")
            )
    elif not use_tj:
        for x, y_top, word in words:
            pdf_y = h - int(y_top) - GLYPH_H * scale
            tok = mk(word)
            ops.append(f"1 0 0 1 {int(x)} {pdf_y} Tm {tok} Tj".encode("latin-1"))
    else:
        for run in _runs_of(words):
            x0, y_top, _ = run[0]
            pdf_y = h - int(y_top) - GLYPH_H * scale
            ops.append(
                f"1 0 0 1 {int(x0)} {pdf_y} Tm {tj_elems(run, float(x0))}".encode("latin-1")
            )
    ops.append(b"ET")
    return b"\n".join(ops)


def _encode_stream(raw: bytes, filters: tuple[str, ...]) -> tuple[bytes, bytes]:
    """Encode ``raw`` through ``filters`` (given in DECODE order, like the
    /Filter entry they produce) and return (data, filter clause)."""
    if not filters:
        return raw, b""
    encoders = {
        "flate": (zlib.compress, b"FlateDecode"),
        "lzw": (lambda b: _lzw_encode(b), b"LZWDecode"),
        "ahx": (lambda b: binascii.hexlify(b) + b">", b"ASCIIHexDecode"),
        "a85": (lambda b: base64.a85encode(b) + b"~>", b"ASCII85Decode"),
        "rl": (lambda b: _rl_encode(b), b"RunLengthDecode"),
    }
    data = raw
    for f in reversed(filters):  # decoder applies left→right, so encode right→left
        data = encoders[f][0](data)
    names = [encoders[f][1] for f in filters]
    if len(names) == 1:
        return data, b"/Filter /" + names[0] + b" "
    return data, b"/Filter [" + b" ".join(b"/" + n for n in names) + b"] "


def write_pdf(
    pages: list[list[tuple[int, int, str]]],
    page_hw: tuple[int, int],
    compress: bool = False,
    *,
    use_tj: bool = False,
    ascii_hex: bool = False,
    stream_filter: str | tuple[str, ...] | None = None,
    indirect_length: bool = False,
    font_size: int = BASE_FONT_SIZE,
    pdf15: bool = False,
    xref_predictor: bool = False,
    line_ops: bool = False,
    hex_strings: bool = False,
    char_spacing: float = 0.0,
    images: dict[int, list[tuple]] | None = None,
    render_mode: int = 0,
    rotate: int = 0,
    jpeg_quality: int | None = None,
    jpeg_progressive: bool = False,
    jpx: bool = False,
    jpx_irreversible: bool = False,
    ctm_rotate: int = 0,
    ccitt_g4: bool = False,
    jbig2: bool = False,
    jbig2_mmr: bool = False,
    inline_images: bool = False,
    form_wrap: bool = False,
    font_kind: str = "type1",
    declare_widths: bool = False,
) -> bytes:
    """Write a real PDF; ``pages`` holds per-page ``(x, y_top, word)``
    placements in top-down pixel space (at the glyph scale implied by
    ``font_size``, which must be an integer multiple of 12).

    ``images`` maps page index -> ``[(gray_uint8_array, x, y_top)]`` (or
    5-tuples ``(img, x, y_top, disp_w, disp_h)`` to display at a size
    other than the pixel size): each becomes a ``/DeviceGray`` 8-bit
    image XObject placed via ``q w 0 0 h x y cm /ImN Do Q`` (§8.9) —
    the scanned-page construct. A page whose ``pages`` entry is empty
    but has an ``images`` entry is an image-ONLY page.

    ``rotate`` writes each page stored SIDEWAYS with a ``/Rotate`` entry
    that displays it upright (the scanned-document layout): inputs stay
    in display space, the writer inverse-rotates full-page images into
    content space. Visible text on a rotated page is rejected (pass
    ``render_mode=3`` for an OCR layer).

    ``stream_filter`` names the content-stream encoding in decode order:
    ``"flate"``, ``"lzw"``, ``"ahx"``, ``"a85"``, ``"rl"``, or a tuple
    chain like ``("a85", "flate")`` (→ ``/Filter [/ASCII85Decode
    /FlateDecode]``). The legacy ``compress``/``ascii_hex`` flags map onto
    it. ``indirect_length=True`` declares each content stream's length as
    ``/Length N 0 R`` with the integer in a separate object (the common
    write-then-backfill layout real generators emit; classic-xref files
    only). ``pdf15=True`` emits a PDF 1.5 file: all dictionary-only
    objects packed into a ``/Type /ObjStm`` object stream and the
    cross-reference written as an xref STREAM (``/Type /XRef``,
    ``/W [1 4 2]``) carrying ``/Root`` — no classic ``xref`` table or
    ``trailer`` keyword. ``xref_predictor=True`` additionally codes the
    xref stream rows with the PNG Up predictor
    (``/DecodeParms << /Predictor 12 /Columns 7 >>``), the layout most
    real 1.5+ writers emit.

    ``font_kind`` selects the font-encoding construct (§9.6-9.10):

    - ``"type1"`` (default): the unencoded Helvetica dict, string bytes
      are latin-1 characters.
    - ``"winansi"``: ``/Encoding /WinAnsiEncoding`` on the simple font;
      bytes encode through the Annex D.2 table (hex string objects).
    - ``"differences"``: the word-processor subset idiom — byte codes
      remapped off the characters' own codes via ``/Encoding
      << /BaseEncoding /WinAnsiEncoding /Differences [...] >>`` with
      AGL glyph names; only the Differences table recovers the text.
    - ``"tounicode"``: the LaTeX/Ghostscript subset idiom — a simple
      font with NO /Encoding whose remapped bytes are only decodable
      through the attached ``/ToUnicode`` CMap stream.
    - ``"type0"``: the modern-generator (Chrome/LibreOffice) composite
      layout — ``/Type0`` + ``/Encoding /Identity-H`` + CIDFontType2
      descendant; every glyph is a TWO-byte CID (chosen past 0x0100)
      resolved through the ToUnicode CMap.
    - ``"mixed"``: ``/F1`` (unencoded) and ``/F2`` (Identity-H)
      alternating word by word on the same page.

    ``declare_widths=True`` additionally declares the glyph metrics the
    way real fonts do — ``/FirstChar``+``/Widths`` on simple fonts, ``/W``
    on the CID descendant (both array and range forms) — so the reader
    advances by the §9.4.4 width math instead of its built-in metrics."""
    if font_size % BASE_FONT_SIZE:
        raise ValueError("font_size must be an integer multiple of 12 (glyph scale)")
    if stream_filter is None:
        filters: tuple[str, ...] = ("ahx",) if ascii_hex else (("flate",) if compress else ())
    elif isinstance(stream_filter, str):
        filters = (stream_filter,)
    else:
        filters = tuple(stream_filter)
    if indirect_length and pdf15:
        raise ValueError("indirect_length targets the classic-xref layout only")
    h, w = page_hw
    if rotate not in (0, 90, 180, 270):
        raise ValueError("rotate must be one of 0/90/180/270")
    if rotate and render_mode != 3 and any(pages):
        raise ValueError(
            "visible text on a rotated page is outside the writer contract "
            "(pass render_mode=3 for an invisible OCR layer)"
        )
    # content-space page dims: the stored raster is sideways for 90/270
    ch, cw = (w, h) if rotate in (90, 270) else (h, w)
    k = len(pages)
    images = images or {}
    # -- font-encoding construct: code assignment + string tokenizer
    from .pdfenc import assign_codes, glyph_name, winansi_table

    if font_kind not in (
        "type1", "winansi", "macroman", "differences", "tounicode", "type0",
        "mixed", "type3",
    ):
        raise ValueError(f"unknown font_kind {font_kind!r}")
    if font_kind == "mixed" and (use_tj or line_ops):
        raise ValueError("font_kind='mixed' takes the per-word Tm layout only")
    charset = sorted({c for pg in pages for _, _, wd in pg for c in wd})
    # declared glyph metrics: the monospaced glyph cell in 1000-unit space
    glyph_units = _fmt_num(GLYPH_W * 1000.0 / BASE_FONT_SIZE).encode("ascii")
    code_of: dict[str, int] | None = None
    tokenizer = None
    simple_codes: list[int] = [ord(c) for c in charset if ord(c) < 256]
    if font_kind in ("winansi", "macroman"):
        table = (
            winansi_table()
            if font_kind == "winansi"
            else [bytes([c]).decode("mac_roman") for c in range(256)]
        )
        inv = {c: i for i, c in enumerate(table) if c != "�"}
        simple_codes = [inv[c] for c in charset]
        tokenizer = lambda wd: "<" + bytes(inv[c] for c in wd).hex().upper() + ">"  # noqa: E731
    elif font_kind in ("differences", "tounicode", "type0", "mixed", "type3"):
        two = font_kind in ("type0", "mixed")
        code_of = assign_codes(set(charset), two)
        hexw = 4 if two else 2
        tokenizer = (  # noqa: E731
            lambda wd: "<" + "".join("%0*X" % (hexw, code_of[c]) for c in wd) + ">"
        )
        if font_kind in ("differences", "tounicode", "type3"):  # simple remapped
            simple_codes = sorted(code_of.values())
        if font_kind in ("differences", "type3"):  # names must exist up front
            for c in charset:
                glyph_name(c)
    # image XObjects are STREAM objects numbered K+1..K+M — top-level in
    # both layouts (stream objects cannot live inside an ObjStm, §7.5.7)
    img_objs: list[bytes] = []
    img_ops: dict[int, list[bytes]] = {}
    img_res: dict[int, list[bytes]] = {}
    for pi in sorted(images):
        for placement in images[pi]:
            img, x, y_top, *disp = placement
            bilevel = np.asarray(img).dtype == np.bool_
            img = np.ascontiguousarray(img, dtype=np.uint8)
            if rotate:
                if disp or (int(x), int(y_top)) != (0, 0) or img.shape != (h, w):
                    raise ValueError("rotated pages take one full-page display image")
                # store the scan sideways: inverse of the clockwise /Rotate
                img = np.ascontiguousarray(np.rot90(img, rotate // 90))
            if ctm_rotate:
                if inline_images or rotate:
                    raise ValueError("ctm_rotate applies to upright XObject pages")
                # store the raster sideways; the placement CTM (below)
                # rotates it upright — the rotated-scan layout some
                # scanners emit instead of /Rotate
                img = np.ascontiguousarray(np.rot90(img, -(ctm_rotate // 90)))
            ih, iw = img.shape
            if disp:
                dw, dh = disp  # display-space extent
            elif ctm_rotate in (90, 270):
                dw, dh = ih, iw  # stored sideways: display extent swaps
            else:
                dw, dh = iw, ih
            if inline_images:
                # §8.9.7 inline image instead of an XObject: the common
                # small-image layout (abbreviated keys, Flate data)
                if bilevel:
                    raw_pix, bpc = np.packbits(img.astype(bool), axis=1).tobytes(), 1
                else:
                    raw_pix, bpc = img.tobytes(), 8
                img_ops.setdefault(pi, []).append(
                    b"q %d 0 0 %d %d %d cm BI /W %d /H %d /BPC %d /CS /G /F /Fl ID "
                    % (dw, dh, int(x), ch - int(y_top) - dh, iw, ih, bpc)
                    + zlib.compress(raw_pix)
                    + b" EI Q"
                )
                continue
            oid = k + 1 + len(img_objs)
            if bilevel and jbig2:
                # real-scanner layout: the bool ink mask as an embedded
                # JBIG2 generic-region stream (T.88; 1 = black ink)
                from .jbig2 import encode_jbig2

                data = encode_jbig2(img.astype(np.uint8), mmr=jbig2_mmr)
                img_filter = b"/JBIG2Decode"
            elif bilevel and ccitt_g4:
                # real-scanner layout: the bool ink mask as a Group 4
                # fax stream (spec default /BlackIs1 false: black = 0)
                from .ccitt import encode_g4

                data = encode_g4(img.astype(bool))
                img_filter = (
                    b"/CCITTFaxDecode /DecodeParms << /K -1 /Columns %d /Rows %d >>"
                    % (img.shape[1], img.shape[0])
                )
            elif bilevel:  # bool input -> packed 1-bit rows (byte-aligned)
                data = zlib.compress(np.packbits(img, axis=1).tobytes())
                img_filter = b"/FlateDecode"
            elif jpx:
                # scanned-page JPEG 2000: the stream IS a JP2 file
                # (lossless 5/3, single tile), declared /JPXDecode
                # (§7.4.9) — the archival-scanner layout
                from .jpx import encode_jp2

                data = encode_jp2(img, irreversible=jpx_irreversible)
                img_filter = b"/JPXDecode"
            elif jpeg_quality:
                # scanned-page JPEG: the stream IS a T.81 file (baseline
                # SOF0 or progressive SOF2), declared /DCTDecode (§7.4.8)
                # — the real-scanner layout
                from .jpeg import encode_jpeg

                data = encode_jpeg(img, quality=jpeg_quality, progressive=jpeg_progressive)
                img_filter = b"/DCTDecode"
            else:
                data = zlib.compress(img.tobytes())
                img_filter = b"/FlateDecode"
            img_objs.append(
                b"<< /Type /XObject /Subtype /Image /Width %d /Height %d "
                b"/ColorSpace /DeviceGray /BitsPerComponent %d "
                b"/Length %d /Filter %s >>\nstream\n"
                % (iw, ih, 1 if bilevel else 8, len(data), img_filter)
                + data
                + b"\nendstream"
            )
            img_res.setdefault(pi, []).append(b"/Im%d %d 0 R" % (oid, oid))
            y_bot = ch - int(y_top) - dh
            quad = ctm_rotate // 90
            if quad == 0:
                ctm = (dw, 0, 0, dh, int(x), y_bot)
            elif quad == 1:  # viewer turns the stored raster 90 deg CCW
                ctm = (0, dh, -dw, 0, int(x) + dw, y_bot)
            elif quad == 2:
                ctm = (-dw, 0, 0, -dh, int(x) + dw, y_bot + dh)
            else:  # 270
                ctm = (0, -dh, dw, 0, int(x), y_bot + dh)
            img_ops.setdefault(pi, []).append(
                b"q %d %d %d %d %d %d cm /Im%d Do Q" % (*ctm, oid)
            )
    if form_wrap:
        # each page's text layer inside a form XObject (§8.10) invoked
        # from the page content — the OCR-overlay layout some writers
        # emit. Forms are stream objects, so they live beside the images.
        for i, words_i in enumerate(pages):
            raw_txt = _content_ops(
                words_i,
                ch,
                use_tj,
                font_size,
                line_ops=line_ops,
                hex_strings=hex_strings,
                char_spacing=char_spacing,
                render_mode=render_mode,
                tokenizer=tokenizer,
                mixed=font_kind == "mixed",
            )
            oid = k + 1 + len(img_objs)
            img_objs.append(
                b"<< /Type /XObject /Subtype /Form /Matrix [1 0 0 1 0 0] "
                b"/BBox [0 0 %d %d] /Length %d >>\nstream\n" % (cw, ch, len(raw_txt))
                + raw_txt
                + b"\nendstream"
            )
            img_res.setdefault(i, []).append(b"/Fm%d %d 0 R" % (oid, oid))
    proc_id = None
    if font_kind == "type3":
        # one shared glyph procedure: sets the advance (d0) and paints
        # nothing — the OCR-text-layer idiom; the engine rasterizes from
        # decoded text, never from CharProcs
        proc = glyph_units + b" 0 d0"
        proc_id = k + 1 + len(img_objs)
        img_objs.append(b"<< /Length %d >>\nstream\n" % len(proc) + proc + b"\nendstream")
    cmap_id = None
    if font_kind in ("tounicode", "type0", "mixed"):
        # the ToUnicode CMap is a STREAM object, so it lives beside the
        # images/forms (stream objects cannot enter an ObjStm, §7.5.7)
        from .pdfenc import build_tounicode_cmap

        cmap = build_tounicode_cmap(
            {code: c for c, code in code_of.items()}, font_kind == "type0"
        )
        cmap_id = k + 1 + len(img_objs)
        img_objs.append(b"<< /Length %d >>\nstream\n" % len(cmap) + cmap + b"\nendstream")
    m = len(img_objs)
    contents: list[bytes] = []  # full stream objects, numbered 1..K
    # dict-only objects occupy K+M+1..K+M+3+pages; indirect length
    # integers (when requested) follow after the page objects
    len_ids = list(range(k + m + 4 + len(pages), k + m + 4 + 2 * len(pages)))
    length_objs: dict[int, bytes] = {}
    for i, words in enumerate(pages):
        if form_wrap:
            fm = img_res[i][-1].split(b" ")[0]  # /FmN
            raw = b"q 1 0 0 1 0 0 cm %s Do Q" % fm
        else:
            raw = _content_ops(
                words,
                ch,
                use_tj,
                font_size,
                line_ops=line_ops,
                hex_strings=hex_strings,
                char_spacing=char_spacing,
                render_mode=render_mode,
                tokenizer=tokenizer,
                mixed=font_kind == "mixed",
            )
        if i in img_ops:
            raw = b"\n".join(img_ops[i] + [raw])
        data, filt = _encode_stream(raw, filters)
        if indirect_length:
            length_objs[len_ids[i]] = b"%d" % len(data)
            head = b"<< /Length %d 0 R %s>>" % (len_ids[i], filt)
        else:
            head = b"<< /Length %d %s>>" % (len(data), filt)
        contents.append(head + b"\nstream\n" + data + b"\nendstream")
    # dict-only objects, numbered K+M+1..K+M+4+pages
    font_id, pages_id = k + m + 1, k + m + 2
    catalog_id = k + m + 3
    page_ids = list(range(k + m + 4, k + m + 4 + len(pages)))
    # one extra dict-only object id (encoding dict / CID descendant)
    # placed AFTER every already-allocated id so both xref layouts stay
    # contiguous; classic files with indirect lengths reserve those first
    extra_id = k + m + 4 + (2 if indirect_length else 1) * len(pages)

    def _simple_widths(codes: list[int], force: bool = False) -> bytes:
        if not ((declare_widths or force) and codes):
            return b""
        lo, hi = min(codes), max(codes)
        return b" /FirstChar %d /Widths [ %s ]" % (
            lo,
            b" ".join([glyph_units] * (hi - lo + 1)),
        )

    def _cid_w() -> bytes:
        if not (declare_widths and code_of):
            return b""
        cids = sorted(code_of.values())
        if len(cids) == 1:
            return b" /W [ %d [%s] ]" % (cids[0], glyph_units)
        # first CID in the array form, the rest as one range — both
        # §9.7.4.3 forms appear in one table
        return b" /W [ %d [%s] %d %d %s ]" % (
            cids[0], glyph_units, cids[1], cids[-1], glyph_units
        )

    if font_kind in ("type1", "mixed"):
        font_obj = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica%s >>"
            % _simple_widths(simple_codes)
        )
    elif font_kind in ("winansi", "macroman"):
        font_obj = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            b"/Encoding /%sEncoding%s >>"
            % (
                b"WinAnsi" if font_kind == "winansi" else b"MacRoman",
                _simple_widths(simple_codes),
            )
        )
    elif font_kind == "differences":
        font_obj = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /AAAAAA+Helvetica "
            b"/Encoding %d 0 R%s >>" % (extra_id, _simple_widths(simple_codes))
        )
    elif font_kind == "tounicode":
        font_obj = (
            b"<< /Type /Font /Subtype /Type1 /BaseFont /AAAAAA+Helvetica "
            b"/ToUnicode %d 0 R%s >>" % (cmap_id, _simple_widths(simple_codes))
        )
    elif font_kind == "type3":
        # the DjVu-converter OCR-layer layout: glyph procedures +
        # Differences names; /Widths are REQUIRED for Type3 (§9.6.5)
        font_obj = (
            b"<< /Type /Font /Subtype /Type3 /FontMatrix [0.001 0 0 0.001 0 0] "
            b"/FontBBox [0 0 %s 1000] /Encoding %d 0 R /CharProcs %d 0 R%s >>"
            % (
                glyph_units,
                extra_id,
                extra_id + 1,
                _simple_widths(simple_codes, force=True),
            )
        )
    else:  # type0
        font_obj = (
            b"<< /Type /Font /Subtype /Type0 /BaseFont /AAAAAA+Helvetica "
            b"/Encoding /Identity-H /DescendantFonts [%d 0 R] "
            b"/ToUnicode %d 0 R >>" % (extra_id, cmap_id)
        )
    dict_objs: dict[int, bytes] = {
        font_id: font_obj,
        pages_id: b"<< /Type /Pages /Kids [%s] /Count %d >>"
        % (b" ".join(b"%d 0 R" % p for p in page_ids), len(page_ids)),
        catalog_id: b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id,
    }
    if font_kind in ("differences", "type3"):
        names = b" ".join(
            b"/" + glyph_name(c).encode("ascii")
            for c, _ in sorted(code_of.items(), key=lambda kv: kv[1])
        )
        dict_objs[extra_id] = (
            b"<< /Type /Encoding /BaseEncoding /WinAnsiEncoding "
            b"/Differences [ %d %s ] >>" % (min(code_of.values(), default=33), names)
        )
        if font_kind == "type3":
            dict_objs[extra_id + 1] = b"<< %s >>" % b" ".join(
                b"/%s %d 0 R" % (glyph_name(c).encode("ascii"), proc_id)
                for c in charset
            )
    elif font_kind in ("type0", "mixed"):
        # /DW must agree with the kern math (§9.7.4.3): a reader advances
        # by the DECLARED default width, so declare the true glyph cell
        dict_objs[extra_id] = (
            b"<< /Type /Font /Subtype /CIDFontType2 /BaseFont /AAAAAA+Helvetica "
            b"/CIDSystemInfo << /Registry (Adobe) /Ordering (Identity) "
            b"/Supplement 0 >> /DW %s%s >>" % (glyph_units, _cid_w())
        )
        if font_kind == "mixed":  # /F2: the composite font beside /F1
            dict_objs[extra_id + 1] = (
                b"<< /Type /Font /Subtype /Type0 /BaseFont /AAAAAA+Helvetica "
                b"/Encoding /Identity-H /DescendantFonts [%d 0 R] "
                b"/ToUnicode %d 0 R >>" % (extra_id, cmap_id)
            )
    for pi, (pid, cid) in enumerate(zip(page_ids, range(1, k + 1))):
        if font_kind == "mixed":
            res = b"/Font << /F1 %d 0 R /F2 %d 0 R >>" % (font_id, extra_id + 1)
        else:
            res = b"/Font << /F1 %d 0 R >>" % font_id
        if pi in img_res:
            res += b" /XObject << %s >>" % b" ".join(img_res[pi])
        dict_objs[pid] = (
            b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 %d %d] "
            b"%s/Contents %d 0 R /Resources << %s >> >>"
            % (pages_id, cw, ch, b"/Rotate %d " % rotate if rotate else b"", cid, res)
        )

    if not pdf15:
        dict_objs.update(length_objs)
        out = bytearray(b"%PDF-1.4\n")
        offsets = []
        bodies = contents + img_objs + [dict_objs[n] for n in sorted(dict_objs)]
        for i, body in enumerate(bodies, start=1):
            offsets.append(len(out))
            out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
        xref_at = len(out)
        n_objs = len(bodies)
        out += b"xref\n0 %d\n" % (n_objs + 1)
        out += b"0000000000 65535 f \n"
        for off in offsets:
            out += b"%010d 00000 n \n" % off
        out += (
            b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (n_objs + 1, catalog_id, xref_at)
        )
        return bytes(out)

    # -- PDF 1.5: object stream + xref stream
    objstm_id = max(dict_objs) + 1
    xref_id = objstm_id + 1
    packed_nums = sorted(dict_objs)
    header, body = [], b""
    for n in packed_nums:
        header.append(b"%d %d" % (n, len(body)))
        body += dict_objs[n] + b"\n"
    stm_head = b" ".join(header) + b"\n"
    objstm_raw = stm_head + body
    objstm_data = zlib.compress(objstm_raw)
    objstm = (
        b"<< /Type /ObjStm /N %d /First %d /Length %d /Filter /FlateDecode >>\nstream\n"
        % (len(packed_nums), len(stm_head), len(objstm_data))
        + objstm_data
        + b"\nendstream"
    )

    out = bytearray(b"%PDF-1.5\n")
    offsets: dict[int, int] = {}
    for i, blob in enumerate(contents + img_objs, start=1):
        offsets[i] = len(out)
        out += b"%d 0 obj\n" % i + blob + b"\nendobj\n"
    offsets[objstm_id] = len(out)
    out += b"%d 0 obj\n" % objstm_id + objstm + b"\nendobj\n"
    xref_at = len(out)
    # xref stream rows, /W [1 4 2]: free / type-1 offset / type-2 (objstm, idx)
    rows = [b"\x00" + (0).to_bytes(4, "big") + (65535).to_bytes(2, "big")]
    for i in range(1, k + m + 1):
        rows.append(b"\x01" + offsets[i].to_bytes(4, "big") + (0).to_bytes(2, "big"))
    for idx, n in enumerate(packed_nums):
        rows.append(b"\x02" + objstm_id.to_bytes(4, "big") + idx.to_bytes(2, "big"))
    rows.append(b"\x01" + offsets[objstm_id].to_bytes(4, "big") + (0).to_bytes(2, "big"))
    rows.append(b"\x01" + xref_at.to_bytes(4, "big") + (0).to_bytes(2, "big"))
    if xref_predictor:
        # PNG Up row filter (/Predictor 12): each 7-byte row carries a
        # filter-type byte and stores the delta against the previous row
        coded = bytearray()
        prev_row = bytes(7)
        for r in rows:
            coded.append(2)
            coded += bytes((r[i] - prev_row[i]) & 0xFF for i in range(7))
            prev_row = r
        xref_data = zlib.compress(bytes(coded))
        parms = b"/DecodeParms << /Predictor 12 /Columns 7 >> "
    else:
        xref_data = zlib.compress(b"".join(rows))
        parms = b""
    out += b"%d 0 obj\n" % xref_id
    out += (
        b"<< /Type /XRef /Size %d /W [1 4 2] /Index [0 %d] /Root %d 0 R "
        b"/Length %d %s/Filter /FlateDecode >>\nstream\n"
        % (xref_id + 1, xref_id + 1, catalog_id, len(xref_data), parms)
    )
    out += xref_data + b"\nendstream\nendobj\n"
    out += b"startxref\n%d\n%%%%EOF\n" % xref_at
    return bytes(out)


def apply_incremental_update(
    data: bytes, pages: list[list[tuple[int, int, str]]], page_hw: tuple[int, int],
    font_size: int = BASE_FONT_SIZE,
) -> bytes:
    """Append an incremental-update section (§7.5.6) that REPLACES every
    page's content stream: same object numbers redefined after the
    original body, new xref subsections, trailer with /Prev — the
    annotate/sign-in-place layout every PDF editor emits. The original
    bytes are untouched; a reader honoring update precedence (later
    definition wins) sees ONLY the new text. Classic-xref originals
    written by `write_pdf` (content objects numbered 1..K) only."""
    if data[:8] == b"%PDF-1.5":
        raise ValueError("incremental updates target the classic-xref layout")
    h, _w = page_hw
    sx = data.rfind(b"startxref")
    prev = int(data[sx + len(b"startxref") :].split()[0])
    root = int(re.search(rb"/Root\s+(\d+)\s+0\s+R", data).group(1))
    sm = re.search(rb"/Size\s+(\d+)", data)
    size = int(sm.group(1)) if sm else len(pages) + 8
    out = bytearray(data)
    offsets: dict[int, int] = {}
    for i, words in enumerate(pages, start=1):
        raw = _content_ops(words, h, False, font_size)
        offsets[i] = len(out)
        out += (
            b"%d 0 obj\n<< /Length %d >>\nstream\n" % (i, len(raw))
            + raw
            + b"\nendstream\nendobj\n"
        )
    xref_at = len(out)
    out += b"xref\n"
    for i in sorted(offsets):
        out += b"%d 1\n%010d 00000 n \n" % (i, offsets[i])
    out += b"trailer\n<< /Size %d /Root %d 0 R /Prev %d >>\nstartxref\n%d\n%%%%EOF\n" % (
        size, root, prev, xref_at,
    )
    return bytes(out)


def _lzw_encode(raw: bytes) -> bytes:
    """PDF/TIFF LZW (§7.4.4, EarlyChange=1): 9→12-bit MSB-first codes,
    256=clear, 257=EOD. The encoder widens at next==2^w — one add AHEAD of
    the decoder's len==2^w-1, because the decoder's table lags the
    encoder's by exactly one entry at each code boundary."""
    out = bytearray()
    buf = nbuf = 0
    width = 9

    def emit(code: int) -> None:
        nonlocal buf, nbuf
        buf = (buf << width) | code
        nbuf += width
        while nbuf >= 8:
            nbuf -= 8
            out.append((buf >> nbuf) & 0xFF)

    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    nxt = 258
    emit(256)
    w = b""
    for ch in raw:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        emit(table[w])
        table[wc] = nxt
        nxt += 1
        if width < 12 and nxt == (1 << width):
            width += 1
        elif nxt == 4095:  # keep clear of the 12-bit early-change edge
            emit(256)
            table = {bytes([i]): i for i in range(256)}
            nxt, width = 258, 9
        w = bytes([ch])
    if w:
        emit(table[w])
    emit(257)
    if nbuf:
        out.append((buf << (8 - nbuf)) & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes) -> bytes:
    out = bytearray()
    table: list[bytes] = []
    width = 9

    def reset() -> None:
        nonlocal table, width
        table = [bytes([i]) for i in range(256)] + [b"", b""]  # 256/257 reserved
        width = 9

    reset()
    prev: bytes | None = None
    buf = nbuf = 0
    for byte in data:
        buf = (buf << 8) | byte
        nbuf += 8
        while nbuf >= width:
            nbuf -= width
            code = (buf >> nbuf) & ((1 << width) - 1)
            if code == 256:
                reset()
                prev = None
                continue
            if code == 257:
                return bytes(out)
            if code < len(table) and code not in (256, 257):
                entry = table[code]
            elif code == len(table) and prev is not None:
                entry = prev + prev[:1]  # the KwKwK case
            else:
                raise ValueError("corrupt LZW stream")
            out += entry
            if prev is not None:
                table.append(prev + entry[:1])
            prev = entry
            if width < 12 and len(table) == (1 << width) - 1:  # EarlyChange=1
                width += 1
    raise ValueError("LZW stream without EOD")


def _rl_encode(raw: bytes) -> bytes:
    """RunLengthDecode's inverse (§7.4.5): length byte 0-127 = literal run
    of length+1, 129-255 = repeat next byte 257-length times, 128 = EOD."""
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        run = 1
        while run < 128 and i + run < n and raw[i + run] == raw[i]:
            run += 1
        if run >= 2:
            out.append(257 - run)
            out.append(raw[i])
            i += run
        else:
            j = i + 1
            while j < n and (j - i) < 128 and not (j + 1 < n and raw[j] == raw[j + 1]):
                j += 1
            out.append(j - i - 1)
            out += raw[i:j]
            i = j
    out.append(128)
    return bytes(out)


def _rl_decode(data: bytes) -> bytes:
    out = bytearray()
    i = 0
    while i < len(data):
        b = data[i]
        if b == 128:
            return bytes(out)
        if b < 128:
            chunk = data[i + 1 : i + 2 + b]
            if len(chunk) != b + 1:
                raise ValueError("truncated RunLength literal run")
            out += chunk
            i += 2 + b
        else:
            if i + 1 >= len(data):
                raise ValueError("truncated RunLength repeat run")
            out += bytes([data[i + 1]]) * (257 - b)
            i += 2
    raise ValueError("RunLength stream without EOD")


def _parse_parms(parms: bytes | None) -> tuple[int, int, int, int]:
    """(Predictor, Colors, BitsPerComponent, Columns) from a /DecodeParms
    dict blob, with the §7.4.4.3 defaults."""
    if not parms:
        return 1, 1, 8, 1

    def g(key: bytes, dflt: int) -> int:
        m = re.search(rb"/" + key + rb"\s+(\d+)", parms)
        return int(m.group(1)) if m else dflt

    return g(b"Predictor", 1), g(b"Colors", 1), g(b"BitsPerComponent", 8), g(b"Columns", 1)


def _unpredict(data: bytes, parms: bytes | None) -> bytes:
    """Undo the Flate/LZW predictor declared in /DecodeParms: 1 = none,
    2 = TIFF horizontal differencing (8-bit), 10-15 = the five PNG row
    filters (§7.4.4.4 — the 10-15 distinction is advisory; each ROW
    carries its own filter-type byte)."""
    pred, colors, bpc, columns = _parse_parms(parms)
    if pred == 1:
        return data
    bpp = max(1, colors * bpc // 8)
    rowlen = (columns * colors * bpc + 7) // 8
    if pred == 2:
        if bpc != 8:
            raise NotImplementedError("TIFF predictor with BitsPerComponent != 8")
        out = bytearray(data)
        for r in range(0, len(out), rowlen):
            for i in range(r + bpp, min(r + rowlen, len(out))):
                out[i] = (out[i] + out[i - bpp]) & 0xFF
        return bytes(out)
    if 10 <= pred <= 15:
        out = bytearray()
        prev = bytearray(rowlen)
        i = 0
        while i < len(data):
            ft = data[i]
            row = bytearray(data[i + 1 : i + 1 + rowlen])
            i += 1 + rowlen
            if ft == 1:  # Sub
                for j in range(bpp, len(row)):
                    row[j] = (row[j] + row[j - bpp]) & 0xFF
            elif ft == 2:  # Up
                for j in range(len(row)):
                    row[j] = (row[j] + prev[j]) & 0xFF
            elif ft == 3:  # Average
                for j in range(len(row)):
                    left = row[j - bpp] if j >= bpp else 0
                    row[j] = (row[j] + (left + prev[j]) // 2) & 0xFF
            elif ft == 4:  # Paeth
                for j in range(len(row)):
                    a = row[j - bpp] if j >= bpp else 0
                    b = prev[j]
                    c = prev[j - bpp] if j >= bpp else 0
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pr = a if pa <= pb and pa <= pc else (b if pb <= pc else c)
                    row[j] = (row[j] + pr) & 0xFF
            elif ft != 0:
                raise ValueError(f"unknown PNG row filter {ft}")
            out += row
            prev = row
        return bytes(out)
    raise NotImplementedError(f"predictor {pred} is outside the codec subset")


_NAME_RE = re.compile(rb"/(\w+)")


def _filters_of(head: bytes) -> list[tuple[bytes, bytes | None]]:
    """[(filter name, DecodeParms dict blob | None), ...] in decode order
    from a stream dict: /Filter as a single name or an array, /DecodeParms
    (or its /DP abbreviation) as a single dict or a parallel array of
    dict/null entries. Predictor parms are flat dicts, so the non-greedy
    ``<<…>>`` match suffices."""
    am = re.search(rb"/Filter\s*\[(.*?)\]", head, re.DOTALL)
    if am:
        names = _NAME_RE.findall(am.group(1))
    else:
        fm = re.search(rb"/Filter\s*/(\w+)", head)
        names = [fm.group(1)] if fm else []
    parms: list[bytes | None] = []
    pm = re.search(rb"/(?:DecodeParms|DP)\s*(\[.*?\]|<<.*?>>)", head, re.DOTALL)
    if pm:
        blob = pm.group(1)
        if blob.startswith(b"["):
            parms = [p if p != b"null" else None for p in re.findall(rb"<<.*?>>|null", blob)]
        else:
            parms = [blob]
    parms += [None] * (len(names) - len(parms))
    return list(zip(names, parms))


def _decode_stream(head: bytes, stream: bytes) -> bytes:
    """Apply the stream's /Filter chain (§7.4) in declared order: none,
    FlateDecode, LZWDecode (both honoring /DecodeParms predictors),
    ASCIIHexDecode, ASCII85Decode, RunLengthDecode; anything else —
    JPXDecode, JBIG2Decode, CCITTFaxDecode, Crypt — rejects loudly.
    DCTDecode, CCITTFaxDecode and JBIG2Decode are valid only as an image
    XObject's FINAL filter, where the page assembler strips them and
    hands the payload to the from-scratch T.81/T.4-T.6/T.88 codecs
    (`kernels.jpeg`/`kernels.ccitt`/`kernels.jbig2`); seen here, in a
    content/general stream position, they reject like the rest."""
    return _apply_filters(stream, _filters_of(head))


def _apply_filters(data: bytes, chain: list[tuple[bytes, bytes | None]]) -> bytes:
    for name, parms in chain:
        if name in (b"FlateDecode", b"Fl"):
            data = _unpredict(zlib.decompress(data), parms)
        elif name in (b"LZWDecode", b"LZW"):
            data = _unpredict(_lzw_decode(data), parms)
        elif name in (b"ASCIIHexDecode", b"AHx"):
            body = re.sub(rb"\s", b"", data.split(b">")[0])
            if len(body) % 2:
                body += b"0"  # odd final digit implies a trailing 0 (§7.4.2)
            data = binascii.unhexlify(body)
        elif name in (b"ASCII85Decode", b"A85"):
            body = re.sub(rb"\s", b"", data)
            if body.startswith(b"<~"):
                body = body[2:]
            body = body.split(b"~>")[0]
            data = base64.a85decode(body)
        elif name in (b"RunLengthDecode", b"RL"):
            data = _rl_decode(data)
        else:
            raise NotImplementedError(
                f"PDF stream filter /{name.decode()} is outside the "
                "from-scratch codec subset (reference uses pypdfium2)"
            )
    return data


def _gray_array(pix: bytes, iw: int, ih: int, bpc: int) -> np.ndarray:
    """Raw /DeviceGray samples -> (ih, iw) uint8. 1-bit rows are padded
    to byte boundaries (§8.9.5.2); sample 1 = white in /DeviceGray, our
    canvases are ink-high on black, so 1 -> 255."""
    if bpc == 1:
        stride = (iw + 7) // 8
        if len(pix) != stride * ih:
            raise ValueError("image data length does not match 1-bit row stride")
        bits = np.unpackbits(np.frombuffer(pix, dtype=np.uint8).reshape(ih, stride), axis=1)[
            :, :iw
        ]
        return bits * np.uint8(255)
    if len(pix) != iw * ih:
        raise ValueError("image data length does not match /Width * /Height")
    return np.frombuffer(pix, dtype=np.uint8).reshape(ih, iw)


# inline image (§8.9.7) under the same placement idiom: the CTM in its
# own q/Q save, then BI <dict> ID <data> EI. The lookahead pins ID to a
# following delimiter so a name like /IDx cannot false-trigger.
_BI_RE = re.compile(
    rb"q\s+(" + _NUM + rb")\s+(" + _NUM + rb")\s+(" + _NUM + rb")\s+"
    rb"(" + _NUM + rb")\s+(" + _NUM + rb")\s+(" + _NUM + rb")\s+cm\s*"
    rb"BI\b(.*?)\bID(?=[\x00\t\n\f\r ])",
    re.DOTALL,
)
_EI_RE = re.compile(rb"EI(?=[\x00\t\n\f\r ]|$)")


def _inline_dict_get(head: bytes, *names: bytes) -> bytes | None:
    """First match among abbreviated/full key spellings in a BI dict."""
    for n in names:
        m = re.search(rb"/%s\s+(/?[\w.]+|\[[^\]]*\])" % n, head)
        if m:
            return m.group(1)
    return None


def _extract_inline_images(
    full: bytes, page_h: float
) -> tuple[list[tuple[float, float, np.ndarray]], bytes]:
    """Pull every placed inline image out of a content stream; returns
    the placements and the stream with those spans blanked (spaces), so
    the text pass and the leftover-BI gate see neither dict keys nor
    binary bytes. Strings are masked for STRUCTURE search only — data
    offsets index the original bytes."""
    masked = _SOBJ_RE.sub(lambda m: b" " * len(m.group(0)), full)
    images: list[tuple[float, float, np.ndarray]] = []
    out = bytearray(full)
    for m in _BI_RE.finditer(masked):
        a, b_, c, d = (float(v) for v in m.groups()[:4])
        e, f = float(m.group(5)), float(m.group(6))
        if b_ or c or a <= 0 or d <= 0:
            raise NotImplementedError(
                "inline image CTM with rotation/skew/reflection is outside the codec subset"
            )
        head = m.group(7)
        iw = int(_inline_dict_get(head, b"W", b"Width") or 0)
        ih = int(_inline_dict_get(head, b"H", b"Height") or 0)
        bpc = int(_inline_dict_get(head, b"BPC", b"BitsPerComponent") or 8)
        cs = _inline_dict_get(head, b"CS", b"ColorSpace") or b"/G"
        if _inline_dict_get(head, b"IM", b"ImageMask") == b"true":
            raise NotImplementedError("inline image masks are outside the codec subset")
        if cs not in (b"/G", b"/DeviceGray") or bpc not in (1, 8) or not iw or not ih:
            raise NotImplementedError(
                "inline images outside 1/8-bit DeviceGray are outside the codec subset"
            )
        fval = _inline_dict_get(head, b"F", b"Filter")
        names = _NAME_RE.findall(fval) if fval else []
        if any(n in (b"DCTDecode", b"DCT", b"CCITTFaxDecode", b"CCF") for n in names):
            raise NotImplementedError(
                "DCT/CCITT inline images are outside the codec subset (use XObjects)"
            )
        chain = [(n, None) for n in names]
        stride = (iw + 7) // 8 if bpc == 1 else iw
        start = m.end() + 1  # one whitespace byte after ID (§8.9.7)
        if not chain:
            end = start + stride * ih
            tail = _EI_RE.match(full, end) or _EI_RE.match(full, end + 1)
            if tail is None:
                # either a wrong length or non-subset layout: reject
                raise ValueError("inline image data does not land on EI")
            pix = full[start : start + stride * ih]
            ei_end = tail.end()
        else:
            for cand in _EI_RE.finditer(full, start):
                # the data-to-EI separator is OPTIONAL whitespace
                # (§8.9.7) of unknown width, and filtered data may
                # itself END in whitespace bytes (e.g. a Flate adler32
                # tail byte of 0x20/0x0A) — so try the raw slice, the
                # single-separator strip, and the full rstrip
                raw = full[start : cand.start()]
                tries = [raw]
                if raw[-1:] in b"\x00\t\n\f\r ":
                    tries.append(raw[:-1])
                tries.append(raw.rstrip())
                pix = None
                for t in tries:
                    try:
                        p = _apply_filters(t, chain)
                    except Exception:
                        continue
                    if len(p) == stride * ih:
                        pix = p
                        break
                if pix is not None:
                    ei_end = cand.end()
                    break
            else:
                raise ValueError("inline image data does not decode to its declared size")
        arr = _gray_array(pix, iw, ih, bpc)
        dw, dh = int(round(a)), int(round(d))
        if (dh, dw) != (ih, iw):
            arr = arr[np.arange(dh) * ih // dh][:, np.arange(dw) * iw // dw]
        images.append((e, page_h - f - d, arr))
        # blank from the q save through EI (the trailing Q stays: balanced)
        out[m.start() : ei_end] = b" " * (ei_end - m.start())
    return images, bytes(out)


def _scan_objects(data: bytes) -> dict[int, tuple[bytes, bytes | None]]:
    """Sequential object scan honoring /Length: stream payloads are BINARY
    and may contain "endobj"/"endstream"/newline bytes, so the stream
    extent must come from the declared length, never from delimiter
    search inside the payload (PDF 32000 §7.3.8).
    plain-integer objects ("N 0 obj M endobj") up front: indirect
    /Length refs usually point FORWARD at a length object written after
    the stream, so the sequential scan can't have seen them yet. A false
    match inside a binary stream payload is caught by the endstream
    landing check below."""
    int_objs = {
        int(m.group(1)): int(m.group(2))
        for m in re.finditer(rb"(\d+)\s+0\s+obj\s*(\d+)\s*endobj", data)
    }
    objs: dict[int, tuple[bytes, bytes | None]] = {}
    head_re = re.compile(rb"(\d+)\s+0\s+obj")
    pos = 0
    while True:
        m = head_re.search(data, pos)
        if not m:
            break
        num = int(m.group(1))
        sm = _STREAM_RE.search(data, m.end())
        em = data.find(b"endobj", m.end())
        if sm is not None and (em == -1 or sm.start() < em):
            head = data[m.end() : sm.start()]
            # (?!\d) anchors the full number — without it '/Length 10 0 R'
            # backtracks to match '1' and the indirect-length construct is
            # silently parsed as a 1-byte stream instead of rejecting loudly
            lm = re.search(rb"/Length\s+(\d+)(?!\d)(?!\s+0\s+R)", head)
            if lm:
                ln = int(lm.group(1))
            else:
                rm = re.search(rb"/Length\s+(\d+)\s+0\s+R", head)
                if rm is None or int(rm.group(1)) not in int_objs:
                    raise NotImplementedError(
                        "stream without a resolvable /Length is outside the codec subset"
                    )
                ln = int_objs[int(rm.group(1))]
            stream = data[sm.end() : sm.end() + ln]
            tail = data[sm.end() + ln : sm.end() + ln + 16]
            if not tail.lstrip(b"\r\n ").startswith(b"endstream"):
                raise ValueError("declared /Length does not land on endstream")
            objs[num] = (head, stream)
            end = data.find(b"endobj", sm.end() + ln)
            if end == -1:
                raise ValueError("truncated PDF: stream object without endobj")
            pos = end + len(b"endobj")
        else:
            if em == -1:
                raise ValueError("truncated PDF: object without endobj")
            objs[num] = (data[m.end() : em], None)
            pos = em + len(b"endobj")
    return objs


# ------------------------------------------------- encryption (§7.6)

_STR_ESC = {
    ord("n"): 10, ord("r"): 13, ord("t"): 9, ord("b"): 8, ord("f"): 12,
    ord("("): 40, ord(")"): 41, ord("\\"): 92,
}  # fmt: skip


def _pdf_string_at(buf: bytes, pos: int) -> bytes:
    """Parse ONE string object starting at/after ``pos`` (skipping
    whitespace): hex ``<...>`` or literal ``(...)`` with §7.3.4.2
    escapes and balanced unescaped parentheses."""
    while pos < len(buf) and buf[pos] in b" \t\r\n":
        pos += 1
    if buf[pos : pos + 1] == b"<":
        end = buf.index(b">", pos)
        h = re.sub(rb"\s", b"", buf[pos + 1 : end])
        if len(h) % 2:
            h += b"0"
        return binascii.unhexlify(h)
    if buf[pos : pos + 1] != b"(":
        raise ValueError("expected a PDF string")
    out = bytearray()
    depth = 1
    i = pos + 1
    while depth:
        c = buf[i]
        if c == 0x5C:  # backslash escape
            n = buf[i + 1]
            if 0x30 <= n <= 0x37:  # \ooo octal, 1-3 digits
                j = i + 1
                val = 0
                while j < i + 4 and 0x30 <= buf[j] <= 0x37:
                    val = val * 8 + (buf[j] - 0x30)
                    j += 1
                out.append(val & 0xFF)
                i = j
                continue
            out.append(_STR_ESC.get(n, n))
            i += 2
            continue
        if c == 0x28:
            depth += 1
        elif c == 0x29:
            depth -= 1
            if depth == 0:
                break
        out.append(c)
        i += 1
    return bytes(out)


def _string_value(head: bytes, name: bytes) -> bytes:
    m = re.search(rb"/" + name + rb"(?![A-Za-z])\s*", head)
    if not m:
        raise NotImplementedError(f"encryption dictionary missing /{name.decode()}")
    return _pdf_string_at(head, m.end())


def _trailer_id0(data: bytes) -> bytes:
    m = re.search(rb"/ID\s*\[\s*", data)
    return _pdf_string_at(data, m.end()) if m else b""


def _decrypt_objects(data: bytes, objs: dict) -> None:
    """Resolve the /Encrypt dictionary, authenticate the EMPTY user
    password, and decrypt every stream in place (strings live inside the
    streams for content purposes; the XRef stream is never encrypted,
    §7.5.8.2). Non-Standard handlers and non-empty passwords reject
    loudly."""
    from .pdfcrypt import (
        check_user_password,
        compute_key,
        decrypt_bytes,
        decrypt_bytes_v5,
        v5_check_user_password,
        v5_file_key,
    )

    em = re.search(rb"/Encrypt\s+(\d+)\s+(\d+)\s+R", data)
    if not em:
        return  # '/Encrypt' matched inside a payload, not a trailer entry
    enc_num = int(em.group(1))
    if enc_num not in objs:
        raise ValueError("/Encrypt reference does not resolve")
    head = objs[enc_num][0]
    if not re.search(rb"/Filter\s*/Standard(?![A-Za-z])", head):
        raise NotImplementedError(
            "non-Standard PDF security handlers are outside the codec subset"
        )

    def _int(name: bytes, default: int | None = None) -> int:
        m = re.search(rb"/" + name + rb"(?![A-Za-z])\s+(-?\d+)", head)
        if m is None:
            if default is None:
                raise NotImplementedError(f"encryption dictionary missing /{name.decode()}")
            return default
        return int(m.group(1))

    v, r = _int(b"V", 0), _int(b"R", 2)
    bits = _int(b"Length", 40)
    p = _int(b"P")
    o, u = _string_value(head, b"O"), _string_value(head, b"U")
    encrypt_metadata = not re.search(rb"/EncryptMetadata\s+false", head)
    if v == 5:  # AES-256 (ISO 32000-2 §7.6.4): file key used directly
        stmf = re.search(rb"/StmF\s*/(\w+)", head)
        if stmf and stmf.group(1) == b"Identity":
            return
        if not v5_check_user_password(b"", u, r):
            raise NotImplementedError(
                "password-protected PDF (non-empty user password) is outside "
                "the batch-engine contract"
            )
        fkey = v5_file_key(b"", u, _string_value(head, b"UE"), r)
        for num, (h, s) in list(objs.items()):
            if s is None or num == enc_num:
                continue
            if re.search(rb"/Type\s*/XRef(?![A-Za-z])", h):
                continue
            if not encrypt_metadata and re.search(rb"/Type\s*/Metadata(?![A-Za-z])", h):
                continue
            objs[num] = (h, decrypt_bytes_v5(fkey, s))
        return
    if v in (1, 2):
        aes = False
        if v == 1:
            bits = 40
    elif v == 4:
        stmf = re.search(rb"/StmF\s*/(\w+)", head)
        if stmf and stmf.group(1) == b"Identity":
            return  # streams pass through unencrypted (§7.6.5)
        cfm_m = re.search(rb"/CFM\s*/(\w+)", head)
        cfm = cfm_m.group(1) if cfm_m else b"None"
        if cfm == b"AESV2":
            aes = True
        elif cfm == b"V2":
            aes = False
        else:
            raise NotImplementedError(f"crypt filter /CFM /{cfm.decode()} is outside the subset")
    else:
        raise NotImplementedError(f"encryption /V {v} is outside the codec subset")
    id0 = _trailer_id0(data)
    key = compute_key(b"", o, p, id0, r, bits, encrypt_metadata)
    if not check_user_password(key, u, id0, r):
        raise NotImplementedError(
            "password-protected PDF (non-empty user password) is outside the "
            "batch-engine contract"
        )
    for num, (h, s) in list(objs.items()):
        if s is None or num == enc_num:
            continue
        if re.search(rb"/Type\s*/XRef(?![A-Za-z])", h):
            continue  # the cross-reference stream is never encrypted
        if not encrypt_metadata and re.search(rb"/Type\s*/Metadata(?![A-Za-z])", h):
            continue
        objs[num] = (h, decrypt_bytes(key, s, num, 0, aes))


_ENC_VARIANTS = {
    "rc4-40": (1, 2, 40),
    "rc4-128": (2, 3, 128),
    "aes-128": (4, 4, 128),
    "aes-256": (5, 6, 256),
}


def encrypt_pdf(
    blob: bytes,
    variant: str = "rc4-128",
    user_pw: bytes = b"",
    owner_pw: bytes = b"",
) -> bytes:
    """Re-emit a PDF encrypted under the standard security handler:
    ``rc4-40`` (/V 1 /R 2), ``rc4-128`` (/V 2 /R 3), ``aes-128``
    (/V 4 /R 4 /AESV2, §7.6.3) or ``aes-256`` (/V 5 /R 6 /AESV3,
    ISO 32000-2 §7.6.4). Stream payloads are encrypted with the
    per-object key (file key directly for /V 5); the classic
    cross-reference table and trailer (/Encrypt + /ID) are
    regenerated. Deterministic: /ID, salts and AES IVs derive from
    the input bytes."""
    import hashlib
    import struct as _struct

    from .pdfcrypt import (
        compute_key,
        compute_o,
        compute_u,
        encrypt_bytes,
        encrypt_bytes_v5,
        v5_make_o_oe,
        v5_make_perms,
        v5_make_u_ue,
    )

    if variant not in _ENC_VARIANTS:
        raise ValueError(f"variant must be one of {sorted(_ENC_VARIANTS)}")
    v, r, bits = _ENC_VARIANTS[variant]
    aes = v >= 4
    objs = _scan_objects(blob)
    root_m = re.search(rb"/Root\s+(\d+)\s+0\s+R", blob)
    if not root_m:
        raise ValueError("input PDF has no /Root entry")
    p = -4  # all permissions (high reserved bits set)
    id0 = hashlib.md5(b"doctr-spark-id" + blob).digest()
    enc_extra = b""
    if v == 5:
        seed = hashlib.sha256(b"doctr-spark-v5" + blob).digest()
        fkey = hashlib.sha256(seed + b"filekey").digest()  # 32-byte file key
        u, ue = v5_make_u_ue(user_pw, fkey, seed[:8], seed[8:16])
        o, oe = v5_make_o_oe(owner_pw or user_pw, fkey, u, seed[16:24], seed[24:32])
        enc_extra = b"/OE <%s> /UE <%s> /Perms <%s> " % (
            oe.hex().encode(),
            ue.hex().encode(),
            v5_make_perms(p, fkey).hex().encode(),
        )
    else:
        o = compute_o(owner_pw, user_pw, r, bits)
        key = compute_key(user_pw, o, p, id0, r, bits)
        u = compute_u(key, id0, r)
    out = bytearray(b"%PDF-1.6\n" if aes else b"%PDF-1.4\n")
    offsets: dict[int, int] = {}
    for num in sorted(objs):
        h, s = objs[num]
        if s is not None and re.search(rb"/Type\s*/XRef(?![A-Za-z])", h):
            continue  # regenerated as a classic table below
        offsets[num] = len(out)
        if s is None:
            out += b"%d 0 obj\n" % num + h.strip() + b"\nendobj\n"
        else:
            if v == 5:
                iv = hashlib.md5(b"doctr-spark-iv" + _struct.pack("<i", num)).digest()
                es = encrypt_bytes_v5(fkey, s, iv)
            else:
                es = encrypt_bytes(key, s, num, 0, aes)
            h2 = re.sub(rb"/Length\s+\d+(\s+0\s+R)?", b"/Length %d" % len(es), h, count=1)
            out += b"%d 0 obj\n" % num + h2.strip() + b"\nstream\n" + es + b"\nendstream\nendobj\n"
    enc_num = max(objs) + 1
    offsets[enc_num] = len(out)
    common = b"/O <%s> /U <%s> /P %d" % (o.hex().encode(), u.hex().encode(), p)
    if v == 1:
        enc = b"<< /Filter /Standard /V 1 /R 2 %s >>" % common
    elif v == 2:
        enc = b"<< /Filter /Standard /V 2 /R 3 /Length %d %s >>" % (bits, common)
    elif v == 4:
        enc = (
            b"<< /Filter /Standard /V 4 /R 4 /Length 128 "
            b"/CF << /StdCF << /CFM /AESV2 /Length 16 >> >> "
            b"/StmF /StdCF /StrF /StdCF %s >>" % common
        )
    else:
        enc = (
            b"<< /Filter /Standard /V 5 /R 6 /Length 256 "
            b"/CF << /StdCF << /CFM /AESV3 /Length 32 >> >> "
            b"/StmF /StdCF /StrF /StdCF %s%s >>" % (enc_extra, common)
        )
    out += b"%d 0 obj\n" % enc_num + enc + b"\nendobj\n"
    xref_at = len(out)
    size = enc_num + 1
    out += b"xref\n0 %d\n" % size
    out += b"0000000000 65535 f \n"
    for i in range(1, size):
        if i in offsets:
            out += b"%010d 00000 n \n" % offsets[i]
        else:
            out += b"0000000000 65535 f \n"
    idh = id0.hex().encode()
    out += (
        b"trailer\n<< /Size %d /Root %s 0 R /Encrypt %d 0 R /ID [<%s> <%s>] >>\n"
        b"startxref\n%d\n%%%%EOF\n"
        % (size, root_m.group(1), enc_num, idh, idh, xref_at)
    )
    return bytes(out)


_UNI_NAME_RE = re.compile(rb"^uni([0-9A-Fa-f]{4})$")


def _encoding_body(fhead: bytes, objs: dict) -> tuple[bytes | None, bytes | None]:
    """A font dict's /Encoding value -> (name, dict_body); either may be
    None. Handles the name, inline-dict, and indirect-reference forms."""
    em = re.search(
        rb"/Encoding\s*(?:/([\w-]+)|(\d+)\s+0\s+R|<<(.*?)>>)", fhead, re.DOTALL
    )
    if not em:
        return None, None
    if em.group(1):
        return em.group(1), None
    body = em.group(3)
    if body is None:
        body = objs[int(em.group(2))][0]
    bm = re.search(rb"/BaseEncoding\s*/([\w-]+)", body)
    return (bm.group(1) if bm else None), body


def _base_table(enc_name: bytes | None) -> list[str]:
    """Code -> char table for a named simple-font base encoding."""
    from .pdfenc import winansi_table

    if enc_name is None or enc_name == b"StandardEncoding":
        # unencoded / standard: ASCII is identical across the standard
        # encodings; high bytes read as latin-1 (the engine's historical
        # convention, and what its own writer emits)
        return [chr(c) for c in range(256)]
    if enc_name == b"WinAnsiEncoding":
        return winansi_table()
    if enc_name == b"MacRomanEncoding":
        # Annex D.2 MacRomanEncoding == the classic Mac OS Roman charset
        # (identical to Python's stdlib 'mac_roman' codec table)
        return [bytes([c]).decode("mac_roman") for c in range(256)]
    raise NotImplementedError(
        f"/Encoding /{enc_name.decode()} is outside the codec subset"
    )


def _tounicode_map(fhead: bytes, objs: dict) -> dict[int, str] | None:
    from .pdfenc import parse_tounicode

    tm = re.search(rb"/ToUnicode\s+(\d+)\s+0\s+R", fhead)
    if not tm:
        return None
    chead, cstream = objs[int(tm.group(1))]
    if cstream is None:
        raise ValueError("/ToUnicode target is not a stream object")
    return parse_tounicode(_decode_stream(chead, cstream))


def _parse_w_array(fhead: bytes, objs: dict) -> dict[int, float] | None:
    """CIDFont /W widths (§9.7.4.3): both the ``c [w1 w2 ...]`` and the
    ``c1 c2 w`` range forms. Returns cid -> width (1000-unit space)."""
    dm = re.search(rb"/DescendantFonts\s*\[\s*(\d+)\s+0\s+R\s*\]", fhead)
    if not dm:
        return None
    dhead = objs[int(dm.group(1))][0]
    wm = re.search(rb"/W\s*\[", dhead)
    dwm = re.search(rb"/DW\s+(" + _NUM + rb")", dhead)
    dw = float(dwm.group(1)) if dwm else 1000.0
    widths: dict[int, float] = {}
    widths[-1] = dw  # default slot
    if not wm:
        return widths
    # bracket-matched scan of the outer array (arrays nest one level)
    depth, i = 1, wm.end()
    start = i
    while depth and i < len(dhead):
        if dhead[i : i + 1] == b"[":
            depth += 1
        elif dhead[i : i + 1] == b"]":
            depth -= 1
        i += 1
    body = dhead[start : i - 1]
    toks = re.findall(rb"\[|\]|" + _NUM, body)
    p = 0
    while p < len(toks):
        c = int(float(toks[p]))
        if p + 1 < len(toks) and toks[p + 1] == b"[":
            q = p + 2
            k = 0
            while toks[q] != b"]":
                widths[c + k] = float(toks[q])
                k += 1
                q += 1
            p = q + 1
        else:
            c2, w = int(float(toks[p + 1])), float(toks[p + 2])
            for cid in range(c, c2 + 1):
                widths[cid] = w
            p += 3
    return widths


def _parse_simple_widths(fhead: bytes, objs: dict) -> dict[int, float] | None:
    """Simple-font /FirstChar + /Widths (§9.6.2); indirect arrays resolve."""
    fm = re.search(rb"/FirstChar\s+(\d+)", fhead)
    wm = re.search(rb"/Widths\s*(?:\[(.*?)\]|(\d+)\s+0\s+R)", fhead, re.DOTALL)
    if not fm or not wm:
        return None
    body = wm.group(1)
    if body is None:
        ref = objs[int(wm.group(2))][0]
        body = re.search(rb"\[(.*?)\]", ref, re.DOTALL).group(1)
    first = int(fm.group(1))
    return {first + i: float(v) for i, v in enumerate(re.findall(_NUM, body))}


def _make_font_decoder(num: int, objs: dict):
    """Font object -> ``(decode, advance)`` per §9.6-9.10: ``decode``
    maps string bytes to text (composite /Type0 Identity-H fonts read
    TWO-byte CIDs through their /ToUnicode CMap; simple fonts read one
    byte at a time through base encoding + /Differences, with /ToUnicode
    taking precedence where it maps). ``advance`` is None (use the
    engine's glyph metrics — fonts without width entries) or a callable
    ``raw -> (glyph_space_units, n_glyphs, n_wordspaces)`` built from the
    declared /Widths (simple) or /W + /DW (CID) tables — the §9.4.4
    displacement math real readers apply."""
    from .pdfenc import AGL

    fhead, _ = objs[num]
    sub = re.search(rb"/Subtype\s*/(\w+)", fhead)
    subtype = sub.group(1) if sub else b""
    if subtype == b"Type0":
        enc_name, _ = _encoding_body(fhead, objs)
        if enc_name != b"Identity-H":
            raise NotImplementedError(
                "Type0 fonts outside /Encoding /Identity-H are outside the codec subset"
            )
        cmap = _tounicode_map(fhead, objs)
        if cmap is None:
            raise NotImplementedError(
                "Type0 fonts without /ToUnicode are outside the codec subset "
                "(CID -> text needs the CMap; glyph outlines are not parsed)"
            )

        def decode_cid(raw: bytes) -> str:
            if len(raw) % 2:
                raise ValueError("odd byte count in an Identity-H string")
            out = []
            for i in range(0, len(raw), 2):
                cid = (raw[i] << 8) | raw[i + 1]
                try:
                    out.append(cmap[cid])
                except KeyError:
                    raise NotImplementedError(
                        f"CID {cid} has no /ToUnicode mapping"
                    ) from None
            return "".join(out)

        cid_w = _parse_w_array(fhead, objs)
        adv_cid = None
        if cid_w is not None:

            def adv_cid(raw: bytes):
                units = 0.0
                for i in range(0, len(raw), 2):
                    cid = (raw[i] << 8) | raw[i + 1]
                    units += cid_w.get(cid, cid_w[-1])
                # Tw never applies to 2-byte codes (§9.3.3)
                return units, len(raw) // 2, 0

        return decode_cid, adv_cid
    type3_wscale = 1.0
    if subtype == b"Type3":
        # Type3 TEXT extraction (the DjVu-converter OCR-layer idiom):
        # glyphs are arbitrary content-stream procedures the engine never
        # rasterizes — the text comes from /Encoding /Differences and/or
        # /ToUnicode exactly like a simple font, and the advance from
        # /Widths in glyph space. Only the standard 1/1000 /FontMatrix is
        # in the subset (anything else rescales the width math).
        fm3 = re.search(rb"/FontMatrix\s*\[([^\]]*)\]", fhead)
        nums = (
            [float(v) for v in re.findall(_NUM, fm3.group(1))] if fm3 else None
        )
        if (
            nums is None
            or len(nums) != 6
            or nums[1] or nums[2] or nums[4] or nums[5]
            or nums[0] <= 0
        ):
            raise NotImplementedError(
                "Type3 fonts with rotated/skewed /FontMatrix are outside the codec subset"
            )
        # diagonal matrix: /Widths are in GLYPH space, so the horizontal
        # scale rescales the advance relative to the standard 1/1000
        type3_wscale = nums[0] * 1000.0
        # fall through: decode + advance like a simple font

    enc_name, enc_body = _encoding_body(fhead, objs)
    table = _base_table(enc_name)
    if enc_body is not None:
        dm = re.search(rb"/Differences\s*\[(.*?)\]", enc_body, re.DOTALL)
        if dm:
            code = 0
            for tok in re.finditer(rb"(\d+)|/([\w.]+)", dm.group(1)):
                if tok.group(1):
                    code = int(tok.group(1))
                    continue
                name = tok.group(2)
                um = _UNI_NAME_RE.match(name)
                if um:
                    table[code] = chr(int(um.group(1), 16))
                else:
                    try:
                        table[code] = AGL[name.decode("ascii")]
                    except KeyError:
                        raise NotImplementedError(
                            f"glyph name /{name.decode()} is outside the AGL subset"
                        ) from None
                code += 1
    cmap = _tounicode_map(fhead, objs)

    def decode_simple(raw: bytes) -> str:
        if cmap:
            # membership test, not `or`: a ToUnicode destination that is
            # falsy (empty string / U+0000, both legal per §9.10.3) must
            # still win over the base-encoding table
            return "".join(cmap[b] if b in cmap else table[b] for b in raw)
        return "".join(table[b] for b in raw)

    sw = _parse_simple_widths(fhead, objs)
    adv_simple = None
    if sw is not None:
        ws = type3_wscale  # 1.0 for Type1; the FontMatrix scale for Type3

        def adv_simple(raw: bytes):
            units = 0.0
            for b in raw:
                units += sw.get(b, 0.0) * ws
            return units, len(raw), raw.count(0x20)

    return decode_simple, adv_simple


def _font_decoders(head: bytes, objs: dict, cache: dict) -> dict[bytes, object]:
    """Resource-dict /Font entries -> name -> decoder (decoders cached by
    font object number: pages share fonts, CMaps parse once)."""
    fm = re.search(rb"/Font\s*<<(.*?)>>", head, re.DOTALL)
    if not fm:
        return {}
    out = {}
    for r in re.finditer(rb"/(\w+)\s+(\d+)\s+0\s+R", fm.group(1)):
        num = int(r.group(2))
        if num not in cache:
            cache[num] = _make_font_decoder(num, objs)
        out[r.group(1)] = cache[num]
    return out


def parse_pdf(data: bytes) -> list[dict]:
    """Parse a PDF into per-page ``{"size": (h, w), "words": [(x, y_top,
    text, font_size)]}``. Raises NotImplementedError for constructs
    outside the supported subset (unknown filters, non-empty passwords)."""
    if data[:5] != b"%PDF-":
        raise ValueError("not a PDF stream")
    objs = _scan_objects(data)
    if b"/Encrypt" in data:
        _decrypt_objects(data, objs)

    # expand object streams (PDF 1.5 §7.5.7): dict-only objects packed in
    # a compressed stream — "N pairs of (objnum, offset)" header, bodies
    # at /First + offset
    for num in list(objs):
        head, stream = objs[num]
        if stream is not None and re.search(rb"/Type\s*/ObjStm", head):
            decoded = _decode_stream(head, stream)
            n = int(re.search(rb"/N\s+(\d+)", head).group(1))
            first = int(re.search(rb"/First\s+(\d+)", head).group(1))
            ints = [int(v) for v in re.findall(rb"\d+", decoded[:first])]
            pairs = list(zip(ints[0::2], ints[1::2]))[:n]
            for i, (onum, off) in enumerate(pairs):
                end = first + pairs[i + 1][1] if i + 1 < len(pairs) else len(decoded)
                objs.setdefault(onum, (decoded[first + off : end].strip(), None))

    def _dict_of(num: int) -> bytes:
        return objs[num][0]

    root_m = re.search(rb"/Root\s+(\d+)\s+0\s+R", data)
    if not root_m:
        raise NotImplementedError("PDF without a /Root trailer entry")
    font_cache: dict[int, object] = {}
    pages_m = re.search(rb"/Pages\s+(\d+)\s+0\s+R", _dict_of(int(root_m.group(1))))
    kids_src = _dict_of(int(pages_m.group(1)))
    kids_m = re.search(rb"/Kids\s*\[(.*?)\]", kids_src, re.DOTALL)
    out = []
    for ref in _REF_RE.finditer(kids_m.group(1)):
        page_num = int(ref.group(1))
        head, _ = objs[page_num]
        mb = re.search(
            rb"/MediaBox\s*\[\s*(-?[\d.]+)\s+(-?[\d.]+)\s+(-?[\d.]+)\s+(-?[\d.]+)\s*\]", head
        )
        x0, y0, x1, y1 = (float(v) for v in mb.groups())
        w, h = int(round(x1 - x0)), int(round(y1 - y0))
        rot_m = re.search(rb"/Rotate\s+(-?\d+)", head)
        rot = (int(rot_m.group(1)) % 360) if rot_m else 0
        if rot % 90:
            raise NotImplementedError(f"/Rotate {rot} is not a multiple of 90")
        contents = []
        cm = re.search(rb"/Contents\s+(?:\[(.*?)\]|(\d+)\s+0\s+R)", head, re.DOTALL)
        refs = (
            [int(r.group(1)) for r in _REF_RE.finditer(cm.group(1))]
            if cm.group(1)
            else [int(cm.group(2))]
        )
        for cnum in refs:
            chead, stream = objs[cnum]
            if stream is None:
                continue
            contents.append(_decode_stream(chead, stream))
        full = b"\n".join(contents)

        # -- image XObjects (§8.9): resolve each q/cm/Do placement via the
        # page's /XObject resource dict; anything painted with Do outside
        # that idiom (form XObjects, rotated CTMs) rejects loudly below
        xm = re.search(rb"/XObject\s*<<(.*?)>>", head, re.DOTALL)
        xres = (
            {r.group(1): int(r.group(2)) for r in re.finditer(rb"/(\w+)\s+(\d+)\s+0\s+R", xm.group(1))}
            if xm
            else {}
        )
        fonts = _font_decoders(head, objs, font_cache)
        words, images = _parse_content(full, h, xres, objs, fonts=fonts)
        if rot and words:
            raise NotImplementedError(
                "visible text under page /Rotate is outside the codec subset "
                "(rotated pages are image-only scans; text layers must be 3 Tr)"
            )
        # size is the DISPLAY size; images stay in content space and
        # rasterize_pdf applies the clockwise /Rotate at the end
        disp = (w, h) if rot in (90, 270) else (h, w)
        out.append({"size": disp, "words": words, "images": images, "rotate": rot})
    return out


def _parse_form(
    fhead: bytes,
    fstream: bytes,
    h: float,
    parent_xres: dict[bytes, int],
    objs: dict,
    depth: int,
    ex: float,
    fy: float,
    fonts: dict | None = None,
) -> tuple[list, list]:
    """Recurse into a form XObject (§8.10) placed at translation
    (ex, fy): parse its content in form space, then shift. /Matrix must
    be identity or a pure translation (composed in); /BBox clipping is
    not applied — the engine's writers never draw outside it."""
    if depth >= 8:
        raise NotImplementedError("form XObject nesting deeper than 8")
    mm = re.search(
        rb"/Matrix\s*\[\s*(" + _NUM + rb")\s+(" + _NUM + rb")\s+(" + _NUM + rb")\s+("
        + _NUM + rb")\s+(" + _NUM + rb")\s+(" + _NUM + rb")\s*\]",
        fhead,
    )
    if mm:
        ma, mb, mc, md, me, mf = (float(v) for v in mm.groups())
        if (ma, mb, mc, md) != (1.0, 0.0, 0.0, 1.0):
            raise NotImplementedError(
                "form /Matrix beyond pure translation is outside the codec subset"
            )
        ex, fy = ex + me, fy + mf
    fxm = re.search(rb"/XObject\s*<<(.*?)>>", fhead, re.DOTALL)
    xres = dict(parent_xres)
    if fxm:
        xres.update(
            {r.group(1): int(r.group(2)) for r in re.finditer(rb"/(\w+)\s+(\d+)\s+0\s+R", fxm.group(1))}
        )
    # a form may carry its own /Font resources; otherwise it inherits
    # the invoking page's (§7.8.3 resource inheritance)
    ffonts = dict(fonts or {})
    ffonts.update(_font_decoders(fhead, objs, {}))
    fwords, fimages = _parse_content(
        _decode_stream(fhead, fstream), h, xres, objs, depth + 1, fonts=ffonts
    )
    return (
        [(x + ex, y - fy, t, s) for x, y, t, s in fwords],
        [(x + ex, y - fy, arr) for x, y, arr in fimages],
    )


def _parse_content(
    full: bytes,
    h: float,
    xres: dict[bytes, int],
    objs: dict,
    depth: int = 0,
    fonts: dict | None = None,
) -> tuple[list, list]:
    """One content stream (a page's, or a form's) -> (words, images) in
    its own coordinate space."""
    # inline images first: their binary payloads must be blanked out
    # before any other pass scans the stream
    images, full = _extract_inline_images(full, h)
    words: list[tuple[float, float, str, float]] = []
    for im in _IMG_DO_RE.finditer(full):
        a, b_, c, d, e, f = (float(v) for v in im.groups()[:6])
        name = im.group(7)
        if name not in xres:
            raise ValueError(f"Do references unknown XObject /{name.decode()}")
        xhead, xstream = objs[xres[name]]
        if xstream is not None and re.search(rb"/Subtype\s*/Form\b", xhead):
            if (a, b_, c, d) != (1.0, 0.0, 0.0, 1.0):
                raise NotImplementedError(
                    "form XObject CTMs beyond pure translation are outside the codec subset"
                )
            fw, fi = _parse_form(xhead, xstream, h, xres, objs, depth, e, f, fonts)
            words += fw
            images += fi
            continue
        # classify the CTM as a quadrant rotation of the unit square
        # (§8.3.3): k = number of CCW 90-degree turns the viewer applies
        # to the STORED raster. Skews, reflections and non-right angles
        # stay outside the subset.
        if b_ == 0 and c == 0 and a > 0 and d > 0:
            quad = 0
        elif b_ == 0 and c == 0 and a < 0 and d < 0:
            quad = 2
        elif a == 0 and d == 0 and b_ > 0 and c < 0:
            quad = 1
        elif a == 0 and d == 0 and b_ < 0 and c > 0:
            quad = 3
        else:
            raise NotImplementedError(
                "image CTM with skew/reflection/non-quadrant rotation is "
                "outside the codec subset"
            )
        if xstream is None or not re.search(rb"/Subtype\s*/Image\b", xhead):
            raise NotImplementedError("Do target is neither an image nor a form XObject")
        bpc_m = re.search(rb"/BitsPerComponent\s+(\d+)", xhead)
        bpc = int(bpc_m.group(1)) if bpc_m else 0
        chain = _filters_of(xhead)
        jpeg_coded = bool(chain) and chain[-1][0] in (b"DCTDecode", b"DCT")
        fax_coded = bool(chain) and chain[-1][0] in (b"CCITTFaxDecode", b"CCF")
        jbig2_coded = bool(chain) and chain[-1][0] == b"JBIG2Decode"
        jpx_coded = bool(chain) and chain[-1][0] == b"JPXDecode"
        gray = re.search(rb"/ColorSpace\s*/DeviceGray\b", xhead) is not None
        rgb = re.search(rb"/ColorSpace\s*/DeviceRGB\b", xhead) is not None
        if jpeg_coded:
            # DCTDecode (§7.4.8): the payload after any preceding
            # transport filters IS a baseline JPEG; decode with the
            # from-scratch T.81 codec (luma plane — the grayscale
            # signal the pipeline consumes, so /DeviceRGB is fine)
            if not (gray or rgb) or bpc != 8:
                raise NotImplementedError(
                    "DCTDecode images outside 8-bit DeviceGray/DeviceRGB "
                    "are outside the codec subset"
                )
        elif fax_coded:
            if not gray or bpc != 1:
                raise NotImplementedError(
                    "CCITTFaxDecode images outside 1-bit /DeviceGray are "
                    "outside the codec subset"
                )
        elif jbig2_coded:
            if not gray or bpc != 1:
                raise NotImplementedError(
                    "JBIG2Decode images outside 1-bit /DeviceGray are "
                    "outside the codec subset"
                )
            if chain[-1][1] and re.search(rb"/JBIG2Globals\b", chain[-1][1]):
                raise NotImplementedError(
                    "JBIG2 globals streams (symbol dictionaries) are "
                    "outside the codec subset"
                )
        elif jpx_coded:
            # JPXDecode (§7.4.9): the payload IS a JPEG 2000 file; color
            # space and depth come from the CODESTREAM, so the XObject's
            # /ColorSpace and /BitsPerComponent entries are advisory
            if bpc not in (0, 8):
                raise NotImplementedError(
                    "JPXDecode with a non-8-bit /BitsPerComponent override "
                    "is outside the codec subset"
                )
        elif not gray or bpc not in (1, 8):
            raise NotImplementedError(
                "image XObjects outside 1/8-bit /DeviceGray are outside the codec subset"
            )
        iw = int(re.search(rb"/Width\s+(\d+)", xhead).group(1))
        ih = int(re.search(rb"/Height\s+(\d+)", xhead).group(1))
        if jpeg_coded:
            from .jpeg import decode_jpeg

            arr = decode_jpeg(_apply_filters(xstream, chain[:-1]))
            if arr.shape != (ih, iw):
                raise ValueError("JPEG frame size does not match /Width /Height")
        elif fax_coded:
            # CCITTFaxDecode (§7.4.6): G4/G3 fax payload; black runs
            # map to canvas ink (255) — /BlackIs1 flips the SAMPLE
            # polarity but DeviceGray's 0=black cancels it, so the
            # displayed ink is the black runs either way
            from .ccitt import decode_ccitt

            fp = chain[-1][1] or b""

            def _ip(key: bytes, default: int) -> int:
                m2 = re.search(rb"/%s\s+(-?\d+)" % key, fp)
                return int(m2.group(1)) if m2 else default

            fax_cols = _ip(b"Columns", 1728)
            if fax_cols != iw:
                raise ValueError("CCITT /Columns does not match /Width")
            ink = decode_ccitt(
                _apply_filters(xstream, chain[:-1]),
                columns=fax_cols,
                rows=_ip(b"Rows", ih) or ih,
                k=_ip(b"K", 0),
                byte_align=bool(re.search(rb"/EncodedByteAlign\s+true", fp)),
            )
            if ink.shape[0] != ih:
                raise ValueError("CCITT row count does not match /Height")
            arr = ink.astype(np.uint8) * 255
        elif jbig2_coded:
            # JBIG2Decode (§7.4.7): the payload after any transport
            # filters IS an embedded T.88 segment stream; 1 bits are
            # black ink -> canvas ink (255), exactly like the fax branch
            from .jbig2 import decode_jbig2

            bm = decode_jbig2(_apply_filters(xstream, chain[:-1]))
            if bm.shape != (ih, iw):
                raise ValueError("JBIG2 page size does not match /Width /Height")
            arr = bm * np.uint8(255)
        elif jpx_coded:
            from .jpx import decode_jpx

            arr = decode_jpx(_apply_filters(xstream, chain[:-1]))
            if arr.shape != (ih, iw):
                raise ValueError("JPX image size does not match /Width /Height")
        else:
            arr = _gray_array(_decode_stream(xhead, xstream), iw, ih, bpc)
        if quad:  # bring the stored raster into display orientation
            arr = np.ascontiguousarray(np.rot90(arr, quad))
        # display extent: unit-square corners under the CTM
        dw = int(round(abs(a) + abs(c)))
        dh = int(round(abs(d) + abs(b_)))
        ah, aw = arr.shape
        if (dh, dw) != (ah, aw):  # nearest-neighbor resample to display size
            arr = arr[np.arange(dh) * ah // dh][:, np.arange(dw) * aw // dw]
        x_left = e + min(0.0, a) + min(0.0, c)
        y_bot = f + min(0.0, b_) + min(0.0, d)
        images.append((x_left, h - y_bot - dh, arr))
    leftover = _SOBJ_RE.sub(b" ", _IMG_DO_RE.sub(b" ", full))
    if _ANY_DO_RE.search(leftover):
        raise NotImplementedError(
            "XObject Do outside the q/cm/Do image idiom is outside the codec subset"
        )
    if re.search(rb"\bBI\b", leftover):
        raise NotImplementedError("inline images (BI/ID/EI) are outside the codec subset")

    # text-line matrix origin (lx, ly) vs current point x: Td/TD/T*
    # displace the LINE start (§9.4.2), while Tj/TJ/'/" advance only
    # the current point within the line. Tc/Tw/TL/Tr are text-state
    # parameters that PERSIST across BT/ET (§9.3.1) — only the
    # matrices reset at BT.
    lx = ly = x = y = 0.0
    size = float(BASE_FONT_SIZE)
    leading = tc = tw = 0.0
    render_mode = 0
    fonts = fonts or {}
    decoder = None  # None = the latin-1 identity (unencoded simple font)
    advancer = None  # None = the engine's glyph metrics

    def show(tok: bytes) -> None:
        """Show a string token at the current position, then advance
        by the shown width (glyph metrics at scale = size/12) plus
        the §9.3.2-9.3.3 spacing terms: +Tc per glyph, +Tw per space
        glyph. Render mode 3 (invisible — the OCR-layer construct)
        advances without emitting: the raster path the reference
        feeds to detection would not contain those pixels either."""
        nonlocal x
        from .glyphs import word_width

        raw = _str_raw(tok)
        text = decoder(raw) if decoder is not None else raw.decode("latin-1")
        scale = size / BASE_FONT_SIZE
        if render_mode != 3:
            words.append((x, h - y - GLYPH_H * scale, text, size))
        if advancer is not None:  # declared /Widths: §9.4.4 math
            units, nglyphs, nspaces = advancer(raw)
            x += units / 1000.0 * size + nglyphs * tc + nspaces * tw
        else:
            x += word_width(text) * scale + len(text) * tc + text.count(" ") * tw

    def next_line() -> None:
        nonlocal lx, ly, x, y
        ly -= leading
        x, y = lx, ly

    for m in _TEXT_OP_RE.finditer(full):
        g = m.groupdict()
        if m.group(1) is not None:  # Tm: take the translation part
            lx, ly = float(m.group(5)), float(m.group(6))
            x, y = lx, ly
        elif m.group(7) is not None:  # Td / TD (TD also sets TL=-ty)
            ty = float(m.group(8))
            if m.group(9) == b"TD":
                leading = -ty
            lx, ly = lx + float(m.group(7)), ly + ty
            x, y = lx, ly
        elif g["tj"] is not None:
            show(g["tj"])
        elif g["bt"] is not None:  # BT resets the text matrices
            lx = ly = x = y = 0.0
        elif g["tf"] is not None:  # Tf: font + size (both persist)
            size = float(g["tf"])
            fname = g["tfname"]
            if fname in fonts:
                decoder, advancer = fonts[fname]
            elif fonts:
                raise ValueError(
                    f"Tf references font /{fname.decode()} absent from /Resources"
                )
        elif g["tjarr"] is not None:  # TJ array (§9.4.3)
            for em in _TJ_ELEM_RE.finditer(g["tjarr"]):
                if em.group(1) is not None:
                    show(em.group(1))
                else:  # kern number: tx = -n/1000 * size
                    x -= float(em.group(2)) / 1000.0 * size
        elif g["tl"] is not None:
            leading = float(g["tl"])
        elif g["tstar"] is not None:
            next_line()
        elif g["quote"] is not None:  # ': T* then show
            next_line()
            show(g["quote"])
        elif g["dquote"] is not None:  # ": aw Tw, ac Tc, T*, show
            tw, tc = float(g["dqw"]), float(g["dqc"])
            next_line()
            show(g["dquote"])
        elif g["tc"] is not None:
            tc = float(g["tc"])
        elif g["tw"] is not None:
            tw = float(g["tw"])
        elif g["tz"] is not None:  # horizontal scaling: only 100 (=1.0)
            if abs(float(g["tz"]) - 100.0) > 1e-9:
                raise NotImplementedError(
                    f"Tz horizontal scaling {float(g['tz'])} is outside the "
                    "from-scratch codec subset (100 only)"
                )
        elif g["tr"] is not None:  # render mode; 3 = invisible
            render_mode = int(float(g["tr"]))
    return words, images


def rasterize_pdf(data: bytes, vocab: str | None = None) -> list[np.ndarray]:
    """Parse + draw every page in the deterministic glyph font -> uint8
    canvases ready for the standard detection path. Font sizes that are
    integer multiples of 12 draw at the matching glyph scale (the crop
    normalizer accepts 1x/2x/4x, the resampled-scan path); anything else
    rejects loudly."""
    from .glyphs import _word_raster, draw_word, word_width
    from .vocab import DEFAULT_VOCAB

    pages = []
    for page in parse_pdf(data):
        h, w = page["size"]
        rot = page["rotate"]
        if rot in (90, 270):
            h, w = w, h  # draw in CONTENT space; rotate to display below
        canvas = np.zeros((h, w), dtype=np.uint8)
        # scanned-page construct: composite image XObjects first, then
        # draw visible text over them (invisible 3 Tr layers emit no words)
        for x, y_top, img in page["images"]:
            ih, iw = img.shape
            xi = max(0, min(int(round(x)), w - iw))
            yi = max(0, min(int(round(y_top)), h - ih))
            region = canvas[yi : yi + ih, xi : xi + iw]
            np.maximum(region, img[: region.shape[0], : region.shape[1]], out=region)
        for x, y_top, text, size in page["words"]:
            if not text:
                continue
            scale = size / BASE_FONT_SIZE
            s = int(round(scale))
            if abs(scale - s) > 1e-9 or s < 1:
                raise NotImplementedError(
                    f"font size {size} (glyph scale {scale:.3g}) is outside the "
                    "from-scratch codec subset (integer scales only)"
                )
            ww = word_width(text) * s
            xi = max(0, min(int(round(x)), w - ww))
            yi = max(0, min(int(round(y_top)), h - GLYPH_H * s))
            if s == 1:
                draw_word(canvas, xi, yi, text, vocab or DEFAULT_VOCAB)
            else:
                raster = _word_raster(text, vocab or DEFAULT_VOCAB)
                big = np.kron(raster, np.ones((s, s), dtype=raster.dtype))
                region = canvas[yi : yi + GLYPH_H * s, xi : xi + ww]
                np.maximum(region, big, out=region)
        if rot:
            canvas = np.rot90(canvas, -(rot // 90))  # /Rotate is clockwise
        pages.append(np.ascontiguousarray(canvas))
    return pages
