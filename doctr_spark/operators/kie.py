"""KIE extraction + export stage.

KIE runs the OCR extraction kernel (`operators.pipeline`) unchanged — the
reference's KIEPredictor shares preprocess/detect/reco with OCRPredictor
(`doctr/models/kie_predictor/pytorch.py:76-208`) — and swaps only the sink
for the per-class KIE builder. Also hosts the multi-format export operator.
"""

from __future__ import annotations

import json

from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..kernels.exporters import EXPORTERS, PAGE_BREAKS
from ..kernels.kie import kie_build_page, render_kie_page
from .pipeline import Sink, extract_rows


def _kie_rows(conv_id, turn_idx, pages, opts):
    rows = []
    for p in pages:
        page = kie_build_page(
            p.rel_boxes, p.scores, p.values, p.confs, p.dims, page_idx=p.page_idx
        )
        counts = {cls: len(preds) for cls, preds in page["predictions"].items()}
        rows.append((
            conv_id, turn_idx, p.page_idx,
            render_kie_page(page), json.dumps(page["predictions"]), counts,
        ))  # fmt: skip
    return rows


KIE_SINK = Sink(
    "conv_id string, turn_idx int, page_idx int, kie_text string, "
    "predictions_json string, class_counts map<string, int>",
    ("conv_id", "turn_idx", "page_idx", "kie_text", "predictions_json", "class_counts"),
    _kie_rows,
)


def kie_extract(transcripts: DataFrame) -> DataFrame:
    """KIE pipeline -> one row per page with per-class predictions: the
    extraction kernel (`operators.pipeline`) with the KIE sink."""
    return extract_rows(transcripts, KIE_SINK)


def kie_class_counts(kie_pages: DataFrame) -> DataFrame:
    """Per-turn token counts by KIE class (native map explode + pivot)."""
    exploded = kie_pages.select(
        "conv_id", "turn_idx", F.explode_outer("class_counts").alias("cls", "n")
    )
    return (
        exploded.groupBy("conv_id", "turn_idx")
        .agg(
            F.sum(F.when(F.col("cls") == "number", F.col("n")).otherwise(0)).cast("long").alias("n_number"),
            F.sum(F.when(F.col("cls") == "alpha", F.col("n")).otherwise(0)).cast("long").alias("n_alpha"),
            F.sum(F.when(F.col("cls") == "mixed", F.col("n")).otherwise(0)).cast("long").alias("n_mixed"),
        )
    )


# ---------------------------------------------------------------------------
# multi-format export over built pages
# ---------------------------------------------------------------------------

EXPORT_SCHEMA = "conv_id string, turn_idx int, page_idx int, content string"


def export_pages(
    built_pages: DataFrame, fmt: str, include_furniture: bool = True
) -> DataFrame:
    """Built pages (`operators.pipeline.extract_pages` output) -> per-page export
    string in the requested format (text/markdown/html/hocr);
    ``include_furniture=False`` drops page header / footer / footnote blocks
    from the render (reference `doctr/io/exporters.py:346-347`; labels
    require the layout-aware builder)."""
    renderer = EXPORTERS[fmt]

    def fn(batches):
        for pdf in batches:
            out = pdf[["conv_id", "turn_idx", "page_idx"]].copy()
            if fmt == "hocr":  # geometry format: always the full page
                out["content"] = [renderer(json.loads(pj)) for pj in pdf["page_json"]]
            else:
                out["content"] = [
                    renderer(json.loads(pj), include_furniture=include_furniture)
                    for pj in pdf["page_json"]
                ]
            yield out

    return built_pages.mapInPandas(fn, EXPORT_SCHEMA)


def export_documents(
    built_pages: DataFrame, fmt: str, include_furniture: bool = True
) -> DataFrame:
    """Assemble per-turn export documents with the format's page break."""
    pages = export_pages(built_pages, fmt, include_furniture=include_furniture)
    return (
        pages.groupBy("conv_id", "turn_idx")
        .agg(F.array_sort(F.collect_list(F.struct("page_idx", "content"))).alias("_p"))
        .select(
            "conv_id",
            "turn_idx",
            F.concat_ws(PAGE_BREAKS[fmt], F.transform("_p", lambda p: p["content"])).alias("content"),
        )
    )


ROUNDTRIP_SCHEMA = (
    "conv_id string, turn_idx int, rendered_text string, n_pages int, roundtrip_ok boolean"
)


def documents_from_json(docs: DataFrame) -> DataFrame:
    """``Document.from_dict`` round trip (reference
    `doctr/io/elements.py:115-118,503-512`): re-import each turn's exported
    ``pages_json``, rebuild the nested page structure with exported-key
    validation (`kernels.elements`), and re-render the document text. The
    re-render must equal the original ``extracted_text`` — that equality is
    returned per row so the oracle can assert it corpus-wide.

    100 TB design note: pure Arrow-batched per-row map over the already-
    assembled documents — no shuffle, no driver traffic; a second-pass
    re-export job over an exported corpus scales with input splits.
    """
    from ..kernels.elements import document_from_json_pages

    def fn(batches):
        for pdf in batches:
            out = pdf[["conv_id", "turn_idx"]].copy()
            texts, n_pages, ok = [], [], []
            for pages, orig in zip(pdf["pages_json"], pdf["extracted_text"]):
                doc = document_from_json_pages(list(pages))
                texts.append(doc["text"])
                n_pages.append(len(doc["pages"]))
                ok.append(doc["text"] == orig)
            out["rendered_text"] = texts
            out["n_pages"] = n_pages
            out["roundtrip_ok"] = ok
            yield out

    return docs.select("conv_id", "turn_idx", "extracted_text", "pages_json").mapInPandas(
        fn, ROUNDTRIP_SCHEMA
    )


def synthesize_transcripts(docs: DataFrame) -> DataFrame:
    """Render each turn's exported pages back into payload-bearing
    transcript rows — the inverse sink (reference ``synthesize_page``,
    `doctr/utils/reconstitution.py:128-279`): every page dict is re-imported
    through the validating element rebuilder and re-drawn at its exported
    geometry, so feeding the result back through ``extract_documents``
    must reproduce the original extraction. Shuffle-free Arrow-batched map,
    like :func:`documents_from_json`."""
    import pandas as pd

    from ..fixtures.payloads import make_img_payload
    from ..kernels.elements import page_from_dict
    from ..kernels.glyphs import synthesize_page

    def fn(batches):
        for pdf in batches:
            out = pdf[["conv_id", "turn_idx"]].copy()
            texts = []
            for pages in pdf["pages_json"]:
                payloads = [
                    make_img_payload(synthesize_page(page_from_dict(json.loads(pj))))
                    for pj in pages  # assemble already ordered by page_idx
                ]
                texts.append("synthesized " + " ".join(payloads))
            out["role"] = "user"
            out["text"] = texts
            out["tool"] = None
            out["ts"] = pd.NaT
            yield out

    return docs.select("conv_id", "turn_idx", "pages_json").mapInPandas(
        fn, "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp"
    )


def kie_class_values(kie_pages: DataFrame) -> DataFrame:
    """Per-turn sorted token VALUES by KIE class — the content-level check
    behind :func:`kie_class_counts` (same class partition, but exposing the
    joined prediction values so an oracle can verify what was extracted,
    not just how much). Native JSON path + higher-order folds, no UDF."""
    preds = F.from_json(
        "predictions_json", "map<string, array<struct<value: string>>>"
    ).alias("preds")
    tok = kie_pages.select("conv_id", "turn_idx", preds).select(
        "conv_id", "turn_idx", F.explode_outer("preds").alias("cls", "arr")
    ).select(
        "conv_id", "turn_idx", "cls", F.explode_outer("arr").alias("p")
    ).select("conv_id", "turn_idx", "cls", F.col("p.value").alias("value"))

    def _vals(cls: str):
        return F.concat_ws(
            " ",
            F.array_sort(
                F.collect_list(F.when(F.col("cls") == cls, F.col("value")))
            ),
        )

    return tok.groupBy("conv_id", "turn_idx").agg(
        _vals("number").alias("number_vals"),
        _vals("alpha").alias("alpha_vals"),
        _vals("mixed").alias("mixed_vals"),
    )
