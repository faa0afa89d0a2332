import numpy as np
import pytest

from doctr_spark.config import GLYPH_H
from doctr_spark.kernels.glyphs import draw_word, word_width
from doctr_spark.kernels.recognition import (
    ctc_best_path,
    merge_multi_strings,
    merge_strings,
    recognize_crop,
    split_wide_crop,
)
from doctr_spark.kernels.vocab import DEFAULT_VOCAB, blank_index


def _crop(text):
    canvas = np.zeros((GLYPH_H, word_width(text) + 8), dtype=np.uint8)
    draw_word(canvas, 0, 0, text)
    return canvas[:, : word_width(text)]


def test_ctc_collapse_and_blank_strip():
    vocab = DEFAULT_VOCAB
    blank = blank_index(vocab)
    a = vocab.index("a")
    b = vocab.index("b")
    t = np.zeros((7, len(vocab) + 1), dtype=np.float32)
    for i, cls in enumerate([a, a, blank, a, b, b, blank]):
        t[i, cls] = 8.0
    word, conf = ctc_best_path(t, vocab)
    assert word == "aab"  # repeats collapse, blank separates the two a's
    assert 0.9 < conf <= 1.0


def test_ctc_empty():
    word, conf = ctc_best_path(np.zeros((0, 95), dtype=np.float32))
    assert word == "" and conf == 0.0


def test_recognize_simple_words():
    for text in ["a", "z9", "Hello,W0rld!", "repeated(ll)aa"]:
        value, conf = recognize_crop(_crop(text))
        assert value == text
        assert conf > 0.9


def test_recognize_wide_crop_split_merge():
    text = "abcdefghij0123456789klmnopqrstuv98765xyz"  # 40 chars -> AR 10
    crop = _crop(text)
    windows, last_overlap = split_wide_crop(crop)
    assert len(windows) > 1
    assert all(w.shape[1] == 96 for w in windows)
    value, conf = recognize_crop(crop)
    assert value == text


def test_recognize_repeated_chars_wide():
    text = "a" * 40
    assert recognize_crop(_crop(text))[0] == text


@pytest.mark.parametrize(
    "a, b, ratio, merged",
    [
        # oracle values from the reference's own test suite
        # (/root/reference/tests/common/test_models_recognition_utils.py)
        ("abcX", "Xdef", 0.5, "abcdef"),
        ("abcdX", "Xdef", 0.75, "abcdef"),
        ("abcdeX", "Xdef", 0.9, "abcdef"),
        ("abcdefX", "Xdef", 0.9, "abcdef"),
        ("abccccX", "Xcccccc", 4 / 7, "abcccccccc"),
        ("abc", "", 0.5, "abc"),
        ("", "abc", 0.5, "abc"),
        ("a", "b", 0.5, "ab"),
        ("abcdX", "Xefghi", 0.33, "abcdefghi"),
        ("bcdX", "Xefgh", 0.4, "bcdefgh"),
        ("cdX", "Xefg", 0.5, "cdefg"),
        ("abcdX", "Xbcde", 1.0, "abcde"),
        ("ababX", "Xabde", 0.8, "ababde"),
        ("ababX", "Xabab", 0.8, "ababab"),
        ("abaX", "Xbab", 1.0, "abab"),
        ("cabababX", "Xabababc", 0.5, "cabababababc"),
        ("ababaX", "Xbabab", 1.0, "ababab"),
        ("one_differon", "ferent_letter", 0.5, "one_differont_letter"),
        ("-", "test", 0.9, "-test"),
        ("test", "-", 0.9, "test-"),
    ],
)
def test_merge_strings_reference_oracle(a, b, ratio, merged):
    assert merge_strings(a, b, ratio) == merged


@pytest.mark.parametrize(
    "parts, ratio, last_ratio, merged",
    [
        (["abcX", "Xdef"], 0.5, 0.5, "abcdef"),
        (["abcdX", "XdefX", "XefghX", "Xijk"], 0.5, 0.5, "abcdefghijk"),
        (["abcdX", "XdefX", "XefghiX", "Xaijk"], 0.5, 0.8, "abcdefghijk"),
        (["aaaa", "aaab", "aabc"], 0.8, 0.3, "aaaabc"),
        ([], 0.5, 0.4, ""),
    ],
)
def test_merge_multi_strings_reference_oracle(parts, ratio, last_ratio, merged):
    assert merge_multi_strings(parts, ratio, last_ratio) == merged


def test_split_geometry_right_aligned_tail():
    crop = np.zeros((16, 132), dtype=np.uint8)  # AR 8.25 > 8
    windows, last_overlap = split_wide_crop(crop)
    assert [w.shape[1] for w in windows] == [96, 96]
    assert last_overlap == 60 / 96


def test_attention_decode_vitstr_style():
    from doctr_spark.kernels.recognition import attention_decode
    from doctr_spark.kernels.vocab import DEFAULT_VOCAB, blank_index

    vocab = DEFAULT_VOCAB
    eos = blank_index(vocab)
    t = np.zeros((6, len(vocab) + 1), dtype=np.float32)
    for i, cls in enumerate([vocab.index("h"), vocab.index("i"), eos, vocab.index("x"), eos, eos]):
        t[i, cls] = 8.0
    word, conf = attention_decode(t, vocab)
    assert word == "hi"  # cut at first <eos>; trailing steps ignored
    assert conf > 0.9
    assert attention_decode(np.zeros((0, len(vocab) + 1), dtype=np.float32)) == ("", 0.0)


def test_batched_recognition_matches_per_crop():
    """The fixed-size batched forward (RECO_BATCH padded tensors, the NN
    swap-in boundary) must be bit-identical to the per-crop path, including
    wide-split crops, the attention head, and whitelists."""
    import numpy as np

    from doctr_spark.config import GLYPH_H
    from doctr_spark.kernels.glyphs import draw_word, word_width
    from doctr_spark.kernels.recognition import recognize_crop, recognize_crops_batched

    def crop(text):
        c = np.zeros((GLYPH_H, word_width(text)), dtype=np.uint8)
        draw_word(c, 0, 0, text)
        return c

    words = ["a", "hello", "x" * 40, "mix123", "zz" * 25, "q"]
    crops = [crop(w) for w in words]
    assert recognize_crops_batched(crops) == [recognize_crop(c) for c in crops]
    assert recognize_crops_batched(crops, arch="attention") == [
        recognize_crop(c, arch="attention") for c in crops
    ]
    wl = "abcdefghijklmnopqrstuvwxyz"
    assert recognize_crops_batched(crops, whitelist=wl) == [
        recognize_crop(c, whitelist=wl) for c in crops
    ]
    assert recognize_crops_batched([]) == []
