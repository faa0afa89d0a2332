"""RTL (Hebrew + Arabic) extraction: per-line auto direction + rtl vocab."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from doctr_spark.fixtures.rtl import _VOCAB, gen_rtl_page, generate_rtl_transcripts
from doctr_spark.kernels.builder import build_page
from doctr_spark.kernels.detection import detect_words, extract_crops
from doctr_spark.kernels.recognition import recognize_crops_batched
from doctr_spark.operators.pipeline import extract_documents


def _detect_recognize(canvas):
    abs_boxes, rel_boxes, scores = detect_words(canvas)
    vals = recognize_crops_batched(extract_crops(canvas, abs_boxes), vocab=_VOCAB)
    keep = [i for i, (v, _) in enumerate(vals) if v != ""]
    return (
        rel_boxes[keep],
        scores[keep],
        [vals[i][0] for i in keep],
        [vals[i][1] for i in keep],
    )


@pytest.mark.parametrize("conv_no", [0, 5, 17])
def test_rtl_page_kernel_roundtrip(conv_no):
    rng = np.random.default_rng([42, conv_no, 29])
    canvas, gt, n_words = gen_rtl_page(rng)
    boxes, scores, values, confs = _detect_recognize(canvas)
    assert len(values) == n_words
    auto = build_page(boxes, scores, values, confs, canvas.shape, text_direction="auto")
    assert auto["text"] == gt
    # WITHOUT direction handling the Hebrew lines come out visually
    # (left-to-right = reversed logical), so the naive render must differ
    naive = build_page(boxes, scores, values, confs, canvas.shape)
    assert naive["text"] != gt


def test_rtl_pipeline_end_to_end(spark):
    tdf, gdf = generate_rtl_transcripts(spark, 4, with_gt=True)
    docs = extract_documents(tdf, reco_vocab="rtl", text_direction="auto")
    gt = gdf.withColumnRenamed("n_words", "gt_n_words")
    j = (
        docs.join(gt, ["conv_id", "turn_idx"])
        .select(
            (F.col("extracted_text") == F.col("gt_text")).alias("text_ok"),
            (F.col("n_words") == F.col("gt_n_words")).alias("words_ok"),
        )
        .collect()
    )
    assert len(j) >= 4
    assert all(r.text_ok and r.words_ok for r in j)


def test_rtl_fixture_mixes_scripts():
    """The fixture must emit BOTH RTL scripts so the arabic vocab slice is
    actually exercised end to end."""
    import numpy as np

    from doctr_spark.kernels.vocab import ARABIC_LETTERS, HEBREW_CONSONANTS

    heb, ara = set(HEBREW_CONSONANTS), set(ARABIC_LETTERS)
    seen_h = seen_a = False
    for conv_no in range(8):
        rng = np.random.default_rng([42, conv_no, 29])
        _, gt, _ = gen_rtl_page(rng)
        chars = set(gt)
        seen_h |= bool(chars & heb)
        seen_a |= bool(chars & ara)
    assert seen_h and seen_a
