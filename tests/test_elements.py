"""`Document.from_dict` re-import (kernels/elements.py): exported-key
validation, render parity with the builder, and page ordering."""

import json

import numpy as np
import pytest

from doctr_spark.kernels.builder import PAGE_BREAK, build_page
from doctr_spark.kernels.elements import (
    document_from_json_pages,
    page_from_dict,
    render_page_dict,
    word_from_dict,
)


def _sample_page(page_idx=0, seed=0):
    rng = np.random.default_rng(seed)
    n = 12
    x0 = rng.uniform(0.05, 0.7, n)
    y0 = np.sort(rng.uniform(0.05, 0.85, n))
    boxes = np.stack([x0, y0, x0 + 0.1, y0 + 0.04], axis=1)
    vals = [f"w{i}" for i in range(n)]
    page = build_page(
        boxes, np.full(n, 0.9), vals, [0.8] * n, (200, 300), page_idx=page_idx
    )
    return page


def test_page_roundtrip_renders_identically():
    page = _sample_page()
    text = page.pop("text")
    rebuilt = page_from_dict(json.loads(json.dumps(page)))
    assert render_page_dict(rebuilt) == text
    # rebuilt structure mirrors the export level by level
    assert rebuilt["page_idx"] == page["page_idx"]
    assert len(rebuilt["blocks"]) == len(page["blocks"])
    w0 = rebuilt["blocks"][0]["lines"][0]["words"][0]
    assert set(w0) == {"value", "confidence", "geometry", "objectness_score", "crop_orientation"}


def test_document_orders_pages_and_folds():
    pages = []
    texts = []
    for i in (1, 0, 2):  # deliberately out of order
        p = _sample_page(page_idx=i, seed=i)
        texts.append((i, p.pop("text")))
        pages.append(json.dumps(p))
    doc = document_from_json_pages(pages)
    assert [p["page_idx"] for p in doc["pages"]] == [0, 1, 2]
    expected = PAGE_BREAK.join(t for _, t in sorted(texts))
    assert doc["text"] == expected


def test_missing_keys_raise_with_level():
    page = _sample_page()
    page.pop("text")
    bad = json.loads(json.dumps(page))
    del bad["blocks"][0]["lines"][0]["words"][0]["confidence"]
    with pytest.raises(KeyError, match="Word.from_dict"):
        page_from_dict(bad)
    with pytest.raises(KeyError, match="Page.from_dict"):
        page_from_dict({"page_idx": 0})
    with pytest.raises(KeyError, match="Word.from_dict"):
        word_from_dict({"value": "x"})


def test_tables_survive_roundtrip():
    page = _sample_page()
    page.pop("text")
    page["tables"] = [
        {
            "num_rows": 2,
            "num_cols": 2,
            "cells": [
                {"row_start": 0, "col_start": 0, "value": "a"},
                {"row_start": 1, "col_start": 1, "value": "b"},
            ],
        }
    ]
    rebuilt = page_from_dict(json.loads(json.dumps(page)))
    assert render_page_dict(rebuilt).endswith("a\t\n\tb")


def test_furniture_respected_on_rerender():
    page = _sample_page()
    page.pop("text")
    page["blocks"][0]["layout_label"] = "page_header"
    rebuilt = page_from_dict(json.loads(json.dumps(page)))
    full = render_page_dict(rebuilt)
    bare = render_page_dict(rebuilt, include_furniture=False)
    header_word = rebuilt["blocks"][0]["lines"][0]["words"][0]["value"]
    assert header_word in full
    if len(rebuilt["blocks"]) > 1:
        assert header_word not in bare
    else:
        assert bare == ""


def test_synthesize_page_is_inverse_of_extraction():
    """synthesize_page (reference reconstitution.py:128-279) re-draws an
    exported page at its word geometry; detecting + recognizing the
    synthesized canvas reproduces the original words exactly."""
    from doctr_spark.kernels.builder import build_page
    from doctr_spark.kernels.detection import detect_words, extract_crops
    from doctr_spark.kernels.glyphs import draw_word, synthesize_page
    from doctr_spark.kernels.recognition import recognize_crops_batched

    canvas = np.zeros((120, 300), dtype=np.uint8)
    words = ["hello", "spark", "graft", "ocr"]
    positions = [(10, 10), (120, 10), (10, 60), (150, 60)]
    for (x, y), wd in zip(positions, words):
        draw_word(canvas, x, y, wd)
    abs_boxes, rel_boxes, scores = detect_words(canvas)
    vals = recognize_crops_batched(extract_crops(canvas, abs_boxes))
    page = build_page(
        rel_boxes, scores, [v for v, _ in vals], [c for _, c in vals], canvas.shape
    )
    page.pop("text")
    resynth = synthesize_page(page)
    assert np.array_equal(resynth, canvas)  # bit-exact re-render
    # and a second extraction round on the synthesized canvas agrees
    abs2, _, _ = detect_words(resynth)
    vals2 = recognize_crops_batched(extract_crops(resynth, abs2))
    assert sorted(v for v, _ in vals2) == sorted(words)
