"""ArtefactDetector stand-in (reference contrib/artefacts.py:17-129)."""

import numpy as np

from doctr_spark.kernels.artefacts import ArtefactDetector, detect_artefacts, draw_artefact
from doctr_spark.kernels.glyphs import draw_word


def _page():
    canvas = np.zeros((300, 500), np.uint8)
    expected = {
        "photo": draw_artefact(canvas, "photo", 20, 20, 60, 50),
        "logo": draw_artefact(canvas, "logo", 120, 20, 70, 60),
        "bar_code": draw_artefact(canvas, "bar_code", 240, 20, 66, 48),
        "qr_code": draw_artefact(canvas, "qr_code", 360, 20, 48, 48),
    }
    draw_word(canvas, 40, 150, "hello")  # text: must not be flagged
    return canvas, expected


def test_detects_all_kinds_and_ignores_text():
    canvas, expected = _page()
    res = detect_artefacts(canvas)
    assert sorted(r["label"] for r in res) == sorted(expected)
    for r in res:
        x0, y0, x1, y1 = expected[r["label"]]
        rx0, ry0, rx1, ry1 = r["box"]
        # detector trims to ink; drawn box may end on an off stripe
        assert rx0 == x0 and ry0 == y0 and ry1 == y1 and x1 - rx1 <= 3
        assert r["confidence"] >= 0.9


def test_label_filter_and_callable_facade():
    canvas, _ = _page()
    det = ArtefactDetector(labels=["photo", "qr_code"], conf_threshold=0.5)
    out = det([canvas, np.zeros((64, 64), np.uint8)])
    assert [r["label"] for r in out[0]] == ["photo", "qr_code"]
    assert out[1] == []


def test_artefact_rows_spark(spark):
    from doctr_spark.fixtures.artefacts import generate_artefact_transcripts
    from doctr_spark.operators.multimodal import artefact_rows

    tdf, gdf = generate_artefact_transcripts(spark, 6, with_gt=True)
    got = {tuple(r) for r in artefact_rows(tdf).collect()}
    exp = {tuple(r) for r in gdf.collect()}
    assert got == exp and len(got) > 0
