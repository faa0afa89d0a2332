"""End-to-end Spark pipeline golden tests — the north-rule invariant:
per-turn extracted-text equality under stable (conv_id, turn_idx) ordering."""

import json

import pytest
from pyspark.sql import functions as F  # noqa: N812

from doctr_spark.fixtures.transcripts import generate_transcripts
from doctr_spark.operators.pipeline import extract_documents, ordered


@pytest.fixture(scope="module")
def results(spark):
    tdf, gdf = generate_transcripts(spark, 30, with_gt=True)
    docs = extract_documents(tdf)
    joined = (
        docs.withColumnRenamed("n_words", "got_words")
        .withColumnRenamed("n_pages", "got_pages")
        .join(gdf, on=["conv_id", "turn_idx"], how="full")
    )
    return joined.collect(), tdf


def test_per_turn_text_equality(results):
    rows, _ = results
    assert len(rows) > 50
    for r in rows:
        assert r["extracted_text"] is not None, (r["conv_id"], r["turn_idx"])
        assert r["gt_text"] is not None, (r["conv_id"], r["turn_idx"])
        assert r["extracted_text"] == r["gt_text"], (r["conv_id"], r["turn_idx"])


def test_word_and_page_counts(results):
    rows, _ = results
    for r in rows:
        assert r["got_words"] == r["n_words"]
        assert r["got_pages"] == r["n_pages"]


def test_export_structure(results):
    rows, _ = results
    r = next(r for r in rows if r["got_words"] > 0)
    page = json.loads(r["pages_json"][0])
    assert set(page) == {"page_idx", "dimensions", "orientation", "language", "blocks", "tables"}
    word = page["blocks"][0]["lines"][0]["words"][0]
    assert set(word) == {"value", "confidence", "geometry", "objectness_score", "crop_orientation"}
    geom = word["geometry"]
    assert len(geom) == 4 and all(0 <= g <= 1 for g in geom)


def test_include_all_turns_and_ordering(spark, results):
    _, tdf = results
    docs = extract_documents(tdf.limit(200), include_all_turns=True)
    out = ordered(docs)
    rows = out.collect()
    assert len(rows) == 200
    keys = [(r["conv_id"], r["turn_idx"]) for r in rows]
    assert keys == sorted(keys)
    # prose-only turns present with null extraction
    assert any(r["extracted_text"] is None for r in rows)


def test_payload_predicate_pushdown(spark, tmp_path):
    """The decode stage's payload filter must reach the parquet scan."""
    tdf = generate_transcripts(spark, 5)
    path = str(tmp_path / "transcripts.parquet")
    tdf.write.mode("overwrite").parquet(path)
    docs = extract_documents(spark.read.parquet(path))
    plan = docs._jdf.queryExecution().executedPlan().toString()
    assert "PushedFilters" in plan
    assert "text" in plan and "StringContains" in plan.replace("string_contains", "StringContains") or "contains" in plan


def test_loc_hooks_filter_crops(spark, check_loc_hooks):
    """The add_hook analogue: hooks rewrite one turn's loc_preds between
    detection and cropping, inside the extraction kernel."""
    tdf = generate_transcripts(spark, 6)
    check_loc_hooks(lambda hooks: extract_documents(tdf, loc_hooks=hooks))


def test_non_text_regions_do_not_crash_or_leak(spark):
    """A page mixing real text with non-glyph ink (photo block, bar-code
    stripes) must extract exactly the text: unreadable detections decode
    to empty and are dropped at the builder entry (round-2 regression:
    out-of-vocab glyph codes crashed the logits indexing, and odd-height
    crops raised in recognition)."""
    import datetime as dt

    import numpy as np

    from doctr_spark.config import PAGE_H, PAGE_W
    from doctr_spark.fixtures.payloads import make_img_payload
    from doctr_spark.kernels.artefacts import draw_artefact
    from doctr_spark.kernels.glyphs import draw_word

    canvas = np.zeros((PAGE_H, PAGE_W), np.uint8)
    draw_word(canvas, 32, 32, "hello")
    draw_word(canvas, 60, 32, "world")
    draw_artefact(canvas, "photo", 200, 100, 60, 50)
    draw_artefact(canvas, "bar_code", 300, 60, 48, 40)
    tdf = spark.createDataFrame(
        [("c0", 0, "user", f"see {make_img_payload(canvas)}", None, dt.datetime(2024, 1, 1))],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    row = extract_documents(tdf).first()
    assert row["extracted_text"] == "hello world"
    assert row["n_words"] == 2
