"""Ruled-table page fixture: renders a word grid with ruling lines and
exact TSV ground truth (mirrors the reference's table test fixtures,
`tests/conftest.py:166-186`)."""

from __future__ import annotations

from dataclasses import dataclass

import numpy as np

from ..config import MARGIN, PAGE_H, PAGE_W, RULING_INK, TABLE_CELL_H, WORD_GAP
from ..kernels.glyphs import draw_word, word_width


@dataclass
class TablePage:
    canvas: np.ndarray
    gt_tsv: str
    n_words: int


def render_table_page(
    cell_words: list[list[list[str]]],
    page_h: int = PAGE_H,
    page_w: int = PAGE_W,
) -> TablePage:
    """cell_words[row][col] = list of word strings for that cell."""
    n_rows = len(cell_words)
    n_cols = len(cell_words[0])
    need = max(
        (sum(word_width(w) for w in ws) + WORD_GAP * max(len(ws) - 1, 0))
        for row in cell_words
        for ws in row
    )
    cw = min(max(need + 8, 40), (page_w - 2 * MARGIN - 1) // n_cols)
    ch = TABLE_CELL_H
    x0t, y0t = MARGIN, MARGIN
    canvas = np.zeros((page_h, page_w), dtype=np.uint8)

    # ruling lines (sub-threshold intensity: invisible to word detection)
    for i in range(n_rows + 1):
        canvas[y0t + i * ch, x0t : x0t + n_cols * cw + 1] = RULING_INK
    for j in range(n_cols + 1):
        canvas[y0t : y0t + n_rows * ch + 1, x0t + j * cw] = RULING_INK

    n_words = 0
    drawn: list[list[list[str]]] = []
    for i, row in enumerate(cell_words):
        drawn_row: list[list[str]] = []
        for j, ws in enumerate(row):
            x = x0t + j * cw + 3
            y = y0t + i * ch + 4
            got: list[str] = []
            for w in ws:
                if x + word_width(w) > x0t + (j + 1) * cw - 1:
                    break  # cell overflow guard: ground truth tracks what was drawn
                draw_word(canvas, x, y, w)
                x += word_width(w) + WORD_GAP
                got.append(w)
                n_words += 1
            drawn_row.append(got)
        drawn.append(drawn_row)
    gt = "\n".join("\t".join(" ".join(ws) for ws in row) for row in drawn)
    return TablePage(canvas=canvas, gt_tsv=gt, n_words=n_words)


# ---------------------------------------------------------------------------
# TableCellMetric fixture: grids with EXACT per-cell geometry + logic GT
# ---------------------------------------------------------------------------

import datetime as _dt

_EPOCH = _dt.datetime(2025, 3, 1)
_TM_CHARS = "abcdefghijklmnopqrstuvwxyz"


def gen_table_metric_page(rng, with_phantom: bool):
    """One ruled-grid page; returns (canvas, gt_cells, gt_logic) where
    ``gt_cells`` are the cell INTERIOR boxes exactly as
    `kernels.tables.detect_table_structure` localizes them (interior
    between rulings, page-relative) and ``gt_logic`` is
    [col_start, col_end, row_start, row_end] per cell. ``with_phantom``
    appends one GT cell BELOW the drawn table with no rulings — the
    detector cannot see it, so the staged recall is analytic."""
    n_rows = int(rng.integers(2, 5))
    n_cols = int(rng.integers(2, 4))
    cw, ch = 96, TABLE_CELL_H
    x0t, y0t = MARGIN, MARGIN
    canvas = np.zeros((PAGE_H, PAGE_W), dtype=np.uint8)
    for i in range(n_rows + 1):
        canvas[y0t + i * ch, x0t : x0t + n_cols * cw + 1] = RULING_INK
    for j in range(n_cols + 1):
        canvas[y0t : y0t + n_rows * ch + 1, x0t + j * cw] = RULING_INK

    gt_cells, gt_logic = [], []
    for i in range(n_rows):
        for j in range(n_cols):
            word = "".join(
                _TM_CHARS[k] for k in rng.integers(0, len(_TM_CHARS), int(rng.integers(2, 6)))
            )
            draw_word(canvas, x0t + j * cw + 3, y0t + i * ch + 4, word)
            gt_cells.append(
                [
                    (x0t + j * cw + 1) / PAGE_W,
                    (y0t + i * ch + 1) / PAGE_H,
                    (x0t + (j + 1) * cw) / PAGE_W,
                    (y0t + (i + 1) * ch) / PAGE_H,
                ]
            )
            gt_logic.append([j, j, i, i])
    if with_phantom:
        py = y0t + (n_rows + 2) * ch
        gt_cells.append(
            [x0t / PAGE_W, py / PAGE_H, (x0t + cw) / PAGE_W, (py + ch) / PAGE_H]
        )
        gt_logic.append([0, 0, n_rows, n_rows])
    return canvas, gt_cells, gt_logic


TM_GT_SCHEMA = (
    "conv_id string, turn_idx int, gt_cells array<array<double>>, "
    "gt_logic array<array<int>>, n_cells int, n_phantom int"
)


def gen_table_metric_conversation(conv_no: int, seed: int = 42):
    from .payloads import make_img_payload

    rng = np.random.default_rng([seed, conv_no, 31])
    conv_id = f"tcell{conv_no:07d}"
    with_phantom = conv_no % 2 == 1
    canvas, cells, logic = gen_table_metric_page(rng, with_phantom)
    row = {
        "conv_id": conv_id,
        "turn_idx": 0,
        "role": "user",
        "text": f"table {make_img_payload(canvas)}",
        "tool": None,
        "ts": _EPOCH + _dt.timedelta(hours=conv_no),
    }
    gt = {
        "conv_id": conv_id,
        "turn_idx": 0,
        "gt_cells": cells,
        "gt_logic": logic,
        "n_cells": len(cells) - int(with_phantom),
        "n_phantom": int(with_phantom),
    }
    return [row], [gt]


def generate_table_metric_transcripts(spark, n_convs: int, seed: int = 42, with_gt: bool = False):
    """Distributed generation (same contract as
    `transcripts.generate_transcripts`)."""
    import pandas as pd

    from .transcripts import TRANSCRIPTS_SCHEMA

    parallelism = max(spark.sparkContext.defaultParallelism, 8)
    base = spark.range(0, n_convs, 1, min(parallelism, max(1, n_convs))).withColumnRenamed(
        "id", "conv_no"
    )

    def _gen(idx: int, cols: list[str]):
        def fn(batches):
            for pdf in batches:
                rows = []
                for conv_no in pdf["conv_no"].tolist():
                    rows.extend(gen_table_metric_conversation(int(conv_no), seed)[idx])
                yield pd.DataFrame(rows, columns=cols)

        return fn

    tdf = base.mapInPandas(
        _gen(0, ["conv_id", "turn_idx", "role", "text", "tool", "ts"]), schema=TRANSCRIPTS_SCHEMA
    )
    if not with_gt:
        return tdf
    gdf = base.mapInPandas(
        _gen(1, ["conv_id", "turn_idx", "gt_cells", "gt_logic", "n_cells", "n_phantom"]),
        schema=TM_GT_SCHEMA,
    )
    return tdf, gdf
