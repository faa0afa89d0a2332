"""Deterministic page layout engine — the weasyprint/pypdfium2 stand-in.

Takes paragraphs of words and places them on fixed-size pages with known
margins, word gaps, and line leading; renders the glyph ink and returns, per
page, the exact word boxes and the ground-truth extracted text that the
full detection->recognition->builder pipeline must reproduce.

Layout invariants (chosen so the builder's geometry heuristics resolve the
layout unambiguously — see kernels/builder.py):
* every word box is GLYPH_H px tall; rows are pitched GLYPH_H + LINE_LEADING
  apart, so row y-centers differ by more than median_height/2 -> distinct
  visual rows;
* the intra-row word gap (WORD_GAP px) stays below the builder's adaptive
  break distance, so a visual row is one line.
"""

from __future__ import annotations

from dataclasses import dataclass, field

import numpy as np

from ..config import (
    GLYPH_H,
    GLYPH_W,
    LINE_LEADING,
    MARGIN,
    PAGE_H,
    PAGE_W,
    PARA_LEADING,
    WORD_GAP,
)
from ..kernels.glyphs import draw_word, word_width

MAX_WORD_CHARS = (PAGE_W - 2 * MARGIN) // GLYPH_W - 1  # longest renderable word
_ROW_PITCH = GLYPH_H + LINE_LEADING


@dataclass
class PageLayout:
    """One laid-out page: ink canvas + exact ground truth."""

    canvas: np.ndarray
    words: list[tuple[str, tuple[int, int, int, int]]] = field(default_factory=list)
    rows: list[list[str]] = field(default_factory=list)  # reading-order rows

    @property
    def gt_text(self) -> str:
        """Expected page render: words joined by " " per line, lines by "\\n"
        (single block: resolve_blocks=False default)."""
        return "\n".join(" ".join(r) for r in self.rows if r)


def layout_paragraphs(
    paragraphs: list[list[str]],
    page_h: int = PAGE_H,
    page_w: int = PAGE_W,
) -> list[PageLayout]:
    """Flow paragraphs of words onto as many pages as needed."""
    pages: list[PageLayout] = []

    def new_page() -> PageLayout:
        p = PageLayout(canvas=np.zeros((page_h, page_w), dtype=np.uint8))
        pages.append(p)
        return p

    page = new_page()
    x, y = MARGIN, MARGIN
    row: list[str] = []
    max_x = page_w - MARGIN
    max_y = page_h - MARGIN

    def flush_row() -> None:
        nonlocal row
        if row:
            page.rows.append(row)
            row = []

    def advance_row(extra: int = 0) -> None:
        nonlocal x, y, page
        flush_row()
        x = MARGIN
        y += _ROW_PITCH + extra
        if y + GLYPH_H > max_y:
            page = new_page()
            y = MARGIN

    first_para = True
    for para in paragraphs:
        if not first_para and x > MARGIN:
            advance_row(PARA_LEADING)
        elif not first_para:
            y += PARA_LEADING
            if y + GLYPH_H > max_y:
                flush_row()
                page = new_page()
                y = MARGIN
        first_para = False
        for word in para:
            word = word[:MAX_WORD_CHARS]
            if not word:
                continue
            w = word_width(word)
            if x + w > max_x:
                advance_row()
            box = draw_word(page.canvas, x, y, word)
            page.words.append((word, box))
            row.append(word)
            x += w + WORD_GAP
    flush_row()
    return pages

