"""Property-based tests (hypothesis) for the exact-match-critical kernels."""

import numpy as np
from hypothesis import given, settings
from hypothesis import strategies as st

from doctr_spark.config import GLYPH_H
from doctr_spark.kernels.cc import component_boxes, label_runs
from doctr_spark.kernels.glyphs import draw_word, word_width
from doctr_spark.kernels.recognition import recognize_crop
from doctr_spark.kernels.vocab import DEFAULT_VOCAB, decode_sequence, encode_string

_WORDS = st.text(alphabet="abcdefghijklmnopqrstuvwxyz0123456789", min_size=1, max_size=60)


@given(_WORDS)
@settings(max_examples=60, deadline=None)
def test_recognition_roundtrip_any_word(word):
    """Any vocab word, any length (incl. the split/merge path) decodes exactly."""
    canvas = np.zeros((GLYPH_H, word_width(word)), dtype=np.uint8)
    draw_word(canvas, 0, 0, word)
    value, conf = recognize_crop(canvas)
    assert value == word
    assert conf > 0.9


@given(st.text(alphabet=DEFAULT_VOCAB, max_size=50))
@settings(max_examples=100, deadline=None)
def test_vocab_roundtrip(s):
    assert decode_sequence(encode_string(s)) == s


def _flood_fill(mask):
    """Brute-force 8-connected components (oracle for the run-based CC):
    (sorted bboxes, per-pixel component id, -1 off the mask)."""
    h, w = mask.shape
    comp = np.full(mask.shape, -1, dtype=np.int64)
    boxes = []
    for sy in range(h):
        for sx in range(w):
            if not mask[sy, sx] or comp[sy, sx] >= 0:
                continue
            stack = [(sy, sx)]
            comp[sy, sx] = len(boxes)
            ys, xs = [], []
            while stack:
                y, x = stack.pop()
                ys.append(y)
                xs.append(x)
                for dy in (-1, 0, 1):
                    for dx in (-1, 0, 1):
                        ny, nx = y + dy, x + dx
                        if 0 <= ny < h and 0 <= nx < w and mask[ny, nx] and comp[ny, nx] < 0:
                            comp[ny, nx] = len(boxes)
                            stack.append((ny, nx))
            boxes.append((min(xs), min(ys), max(xs) + 1, max(ys) + 1))
    return sorted(boxes), comp


@given(st.integers(0, 2**31 - 1))
@settings(max_examples=40, deadline=None)
def test_cc_matches_flood_fill(seed):
    """Boxes match a flood fill, and every run's label is the minimum run
    index of its component (the invariant that keeps the order of tied
    boxes). The tall shape with column-biased density grows long vertical
    run chains, like the glyph marker bars."""
    rng = np.random.default_rng(seed)
    masks = [
        rng.random((14, 18)) < 0.35,
        rng.random((48, 18)) < rng.uniform(0.05, 0.75, size=18),
    ]
    for mask in masks:
        boxes, _ = component_boxes(mask.astype(np.float64), 0.5)
        want, comp = _flood_fill(mask)
        assert sorted(map(tuple, boxes.tolist())) == want
        rows, starts, _, labels = label_runs(mask)
        run_comp = comp[rows, starts]
        first = {}
        for i, c in enumerate(run_comp.tolist()):
            first.setdefault(c, i)
        assert labels.tolist() == [first[c] for c in run_comp.tolist()]


@given(st.integers(0, 2**31 - 1), st.integers(2, 12))
@settings(max_examples=30, deadline=None)
def test_resolve_lines_partitions_all_words(seed, n):
    """resolve_lines output is a partition of the input indices."""
    from doctr_spark.kernels.builder import resolve_lines

    rng = np.random.default_rng(seed)
    x0 = rng.random(n) * 0.8
    y0 = rng.random(n) * 0.8
    boxes = np.stack([x0, y0, x0 + 0.05 + rng.random(n) * 0.1, y0 + 0.0625], axis=1)
    lines = resolve_lines(boxes, shape=(256, 512))
    flat = sorted(i for line in lines for i in line)
    assert flat == list(range(n))
    assert all(len(line) > 0 for line in lines)
