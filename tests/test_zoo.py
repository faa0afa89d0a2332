import numpy as np
import pytest
from pyspark.sql import functions as F  # noqa: N812

from doctr_spark.fixtures.transcripts import generate_transcripts
from doctr_spark.zoo import kie_predictor, ocr_predictor


def test_factory_validation():
    with pytest.raises(ValueError):
        ocr_predictor(det_arch="nope")
    with pytest.raises(ValueError):
        ocr_predictor(reco_arch="nope")


def test_predictor_defaults_are_kernel_defaults():
    from doctr_spark.operators.pipeline import KernelOptions

    assert ocr_predictor().kernel_options() == KernelOptions()
    opts = ocr_predictor(symmetric_pad=False, det_input_size=(64, 128)).kernel_options()
    assert not opts.det_symmetric_pad and opts.det_input_size == (64, 128)


def test_attention_arch_matches_ctc(spark):
    tdf, gdf = generate_transcripts(spark, 8, with_gt=True)
    for arch in ("ctc", "attention"):
        predictor = ocr_predictor(reco_arch=arch)
        docs = predictor(tdf)
        j = docs.join(gdf.select("conv_id", "turn_idx", "gt_text"), ["conv_id", "turn_idx"])
        n, match = j.select(
            F.count("*"), F.sum((F.col("extracted_text") == F.col("gt_text")).cast("int"))
        ).first()
        assert n > 0 and match == n, arch


def test_add_hook_and_kie_factory(spark, check_loc_hooks):
    tdf = generate_transcripts(spark, 6)

    def run(hooks):
        predictor = ocr_predictor()
        for hook in hooks:
            predictor.add_hook(hook)
        return predictor(tdf)

    check_loc_hooks(run)

    kie = kie_predictor()
    assert kie(tdf).count() > 0


def _faint_word_page():
    """A page with one full-ink word and one faint word whose ink sits
    between the FAST (0.1) and DB (0.3) binarization thresholds."""
    from doctr_spark.config import PAGE_H, PAGE_W
    from doctr_spark.kernels.glyphs import draw_word

    canvas = np.zeros((PAGE_H, PAGE_W), dtype=np.uint8)
    draw_word(canvas, 32, 32, "strong")
    x0, y0, x1, y1 = draw_word(canvas, 32, 96, "faint")
    region = canvas[y0:y1, x0:x1]
    region[region > 0] = 50  # prob 0.196: > 0.1, < 0.3
    return canvas


def test_det_arch_threshold_presets_diverge():
    from doctr_spark.kernels.detection import DET_PRESETS, detect_words

    page = _faint_word_page()
    db_boxes, _, _ = detect_words(page, *DET_PRESETS["db_like"])
    fast_boxes, _, _ = detect_words(page, *DET_PRESETS["fast_like"])
    assert db_boxes.shape[0] == 1  # the faint word is below DB's bin_thresh
    assert fast_boxes.shape[0] == 2


def test_det_arch_wired_through_zoo(spark):
    import datetime as dt

    from doctr_spark.fixtures.payloads import make_img_payload

    rows = [("c0", 0, "user", f"see {make_img_payload(_faint_word_page())}", None, dt.datetime(2024, 1, 1))]
    tdf = spark.createDataFrame(
        rows, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )
    texts = {}
    for arch in ("db_like", "fast_like"):
        docs = ocr_predictor(det_arch=arch)(tdf)
        texts[arch] = docs.select("extracted_text").first()[0]
    assert texts["db_like"] == "strong"
    assert texts["fast_like"] == "strong\nfaint"


def test_asciidoc_exporter():
    from doctr_spark.kernels.builder import build_page
    from doctr_spark.kernels.exporters import export_asciidoc

    boxes = np.array([[0.05, 0.1, 0.15, 0.16], [0.17, 0.1, 0.25, 0.16]])
    page = build_page(boxes, np.array([0.8, 0.8]), ["*bold", "x_y"], [0.9, 0.9], (256, 512))
    page.pop("text")
    adoc = export_asciidoc(page)
    # '*' is escaped, so the line no longer starts with a marker char and
    # needs no {empty} neutralization (matches the reference order of ops)
    assert adoc == "\\*bold x\\_y"
    page2 = build_page(
        np.array([[0.05, 0.1, 0.15, 0.16]]), np.array([0.8]), ["-dash"], [0.9], (256, 512)
    )
    page2.pop("text")
    assert export_asciidoc(page2) == "{empty}-dash"
