"""The full extraction pipeline: the Spark analogue of
`OCRPredictor.forward` / `KIEPredictor.forward` + `Document.render()`
(`doctr/models/predictor/pytorch.py:90-206`,
`doctr/models/kie_predictor/pytorch.py:76-208`,
`doctr/io/exporters.py:416-433`).

Physical plan (ONE heavyweight Arrow stage, zero shuffles after the
de-skew repartition):

    scan transcripts
      -> filter contains('<doc:')  [pushed to scan] + project 3 cols
      -> repartition xxhash64(conv_id, turn_idx)  [de-skews; AQE-sized]
      -> mapInPandas extraction kernel:
         decode -> detect -> [loc hooks] -> crop -> recognize -> sink
      [-> optional left join back to all turns]

Everything downstream of decode is a pure function of the turn's own row,
so pages, crops and words never cross task boundaries and are never
codec-encoded between stages. The entry points differ only in the SINK that
turns one turn's recognized pages into output rows: one document row
(`extract_documents`), one built page per page (`extract_pages`) or one KIE
page per page (`operators.kie.kie_extract`). The page queries that need no
recognition (detections, artefacts, layout regions, media metadata) run a
page function on the same source and decode loop (`map_pages`), so every
query reads payloads the same way, in one Arrow stage.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator, Sequence
from dataclasses import dataclass
from typing import NamedTuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F  # noqa: N812

from ..fixtures.payloads import PAYLOAD_MARK, decode_payload
from ..kernels.builder import PAGE_BREAK
from ..kernels.detection import extract_crops, snap_boxes
from ..kernels.recognition import RECO_BATCH
from ..session import prune_zip_finders
from .build import build_page_record
from .detect import make_page_processor
from .recognize import recognize_crop_arrays

# pending word crops that trigger recognition inside a task: a whole
# number of fixed-size model batches and the bound on kernel memory, which
# peaks at ~12 KB per pending crop during recognition (about 35 crops per
# payload turn on the benchmark's mixed payloads)
CROP_FLUSH = 4 * RECO_BATCH

# output rows a page-level task (`map_pages`) buffers per Arrow batch: the
# default `spark.sql.execution.arrow.maxRecordsPerBatch`
PAGE_ROW_FLUSH = 10_000

# `OCRPredictor.add_hook` contract (`doctr/models/predictor/base.py:310-316`):
# one turn's loc_preds, one (N, 5) [xmin, ymin, xmax, ymax, score] float
# array per page in relative coordinates, in and out
LocHook = Callable[[list[np.ndarray]], list[np.ndarray]]


@dataclass(frozen=True)
class KernelOptions:
    """Every settable value of the extraction kernel (reference
    `ocr_predictor` option defaults)."""

    resolve_lines: bool = True
    resolve_blocks: bool = False
    paragraph_break: float = 0.035
    detect_crop_orientation: bool = True
    keep_reading_order: bool = False
    mask_region_labels: tuple[str, ...] | None = None
    straighten_pages: bool = False
    reco_arch: str = "ctc"
    reco_vocab: str = "french"
    det_arch: str = "db_like"
    text_direction: str | None = None
    include_furniture: bool = True
    det_input_size: tuple[int, int] | None = None
    det_preserve_aspect_ratio: bool = True
    det_symmetric_pad: bool = True


class RecognizedPage(NamedTuple):
    """One page after recognition, as a sink sees it: detection output
    (page-relative boxes) plus the parallel per-word recognition lists."""

    page_idx: int
    dims: tuple[int, int]
    orient: int
    orient_conf: float
    regions: dict | None
    tables: list | None
    rel_boxes: np.ndarray
    scores: np.ndarray
    values: list[str]
    confs: list[float]
    crop_orients: list[tuple[int, float]]


class Sink(NamedTuple):
    """The per-turn end of the kernel: ``rows(conv_id, turn_idx, pages,
    opts)`` returns output tuples in ``columns`` order, typed by
    ``schema``."""

    schema: str
    columns: tuple[str, ...]
    rows: Callable[[str, int, list[RecognizedPage], KernelOptions], list[tuple]]


def decoded_turns(batches: Iterator[pd.DataFrame]) -> Iterator[tuple[str, int, list]]:
    """The decode loop of every payload-reading task: ``(conv_id,
    turn_idx, pages)`` per payload turn of the task's Arrow batches, one
    uint8 (H, W) array per page. Corrupt payloads quarantine their turn
    (it yields nothing, like a payload-free turn); disclosed env gates
    (`NotImplementedError`) fail loudly."""
    prune_zip_finders()  # spares this worker's later tasks the zip re-reads
    for pdf in batches:
        for conv_id, turn_idx, text in zip(pdf["conv_id"], pdf["turn_idx"], pdf["text"]):
            try:
                pages = decode_payload(text)
            except NotImplementedError:
                raise
            except Exception:
                continue
            yield conv_id, int(turn_idx), pages


def make_kernel(sink: Sink, opts: KernelOptions, hooks: Sequence[LocHook] = ()):
    """The whole per-turn pipeline as ONE mapInPandas function.

    Phase A decodes each turn, runs the page processor, applies ``hooks``
    to the turn's loc_preds and copies the word crops out (page buffers are
    freed after each turn; crop area << page area). Once CROP_FLUSH crops
    are pending, and at the end of the task, phase B recognizes them in
    fixed-size batched forwards and phase C hands each pending turn's
    recognized pages to ``sink``, so the crops held are bounded by
    CROP_FLUSH plus one turn's, not by the task's share of turns. Corrupt
    payloads quarantine their turn; disclosed env gates
    (`NotImplementedError`) fail loudly."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        process_page = make_page_processor(
            opts.mask_region_labels, opts.straighten_pages, opts.det_arch,
            opts.keep_reading_order,  # the layout-aware builder reads the regions
            opts.det_input_size, opts.det_preserve_aspect_ratio, opts.det_symmetric_pad,
        )  # fmt: skip
        turns: list = []  # (conv_id, turn_idx, [(page fields, crop span)])
        crops: list = []

        def flush() -> pd.DataFrame:
            values, confs, orients, oconfs = recognize_crop_arrays(
                crops, opts.detect_crop_orientation, opts.reco_arch, opts.reco_vocab
            )
            rows: list = []
            for conv_id, turn_idx, recs in turns:
                pages = [
                    RecognizedPage(
                        *fields, values[a:b], confs[a:b], list(zip(orients[a:b], oconfs[a:b]))
                    )
                    for fields, a, b in recs
                ]
                rows.extend(sink.rows(conv_id, turn_idx, pages, opts))
            turns.clear()
            crops.clear()
            return pd.DataFrame(rows, columns=list(sink.columns))

        for conv_id, turn_idx, images in decoded_turns(batches):
            detected = [process_page(img) for img in images]
            if hooks:
                detected = _apply_hooks(detected, hooks)
            recs = []
            for page_idx, page in enumerate(detected):
                img, orient, oconf, regions, tables, abs_boxes, rel, scores = page
                start = len(crops)
                crops.extend(np.ascontiguousarray(c) for c in extract_crops(img, abs_boxes))
                dims = (int(img.shape[0]), int(img.shape[1]))
                fields = (page_idx, dims, orient, float(oconf), regions, tables, rel, scores)
                recs.append((fields, start, len(crops)))
            if recs:
                turns.append((conv_id, turn_idx, recs))
            if len(crops) >= CROP_FLUSH:
                yield flush()
        if turns:
            yield flush()

    return fn


def _apply_hooks(detected: list, hooks: Sequence[LocHook]) -> list:
    """Run ``hooks`` over one turn's loc_preds and re-derive each page's
    crop boxes from the returned relative boxes."""
    loc_preds = [np.column_stack([rel, scores]).astype(np.float64) for *_, rel, scores in detected]
    for hook in hooks:
        loc_preds = hook(loc_preds)
        if len(loc_preds) != len(detected):
            raise ValueError(
                f"loc hook {hook!r} returned {len(loc_preds)} page arrays "
                f"for a {len(detected)}-page turn"
            )
    out = []
    for (img, *page_info, _, _, scores), loc in zip(detected, loc_preds, strict=True):
        abs_boxes, rel = snap_boxes(loc[:, :4], img.shape[:2])
        out.append((img, *page_info, abs_boxes, rel, loc[:, 4].astype(scores.dtype)))
    return out


def payload_source(transcripts: DataFrame) -> DataFrame:
    """The payload turns ``(conv_id, turn_idx, text)`` of ``transcripts``,
    de-skewed by an ``xxhash64(conv_id, turn_idx)`` repartition: the input
    of every payload-reading stage. The ``contains`` filter and the
    projection push into the scan, so prose-only turns never reach Python.

    The repartition is by column, so AQE sizes the exchange: it coalesces
    it by shuffle bytes towards one task per core, since every Python task
    pays a fixed worker setup cost (`tools/probe_task_overhead.py`) that
    more, smaller tasks multiply. AQE only merges partitions, so the stage
    runs at most ``spark.sql.shuffle.partitions`` tasks; `session.get_spark`
    defaults that to at least 2x cores."""
    src = transcripts.where(F.col("text").contains(PAYLOAD_MARK)).select(
        "conv_id", "turn_idx", "text"
    )
    return src.repartition(F.xxhash64("conv_id", "turn_idx"))


def extract_rows(
    transcripts: DataFrame,
    sink: Sink,
    opts: KernelOptions = KernelOptions(),
    hooks: Sequence[LocHook] = (),
) -> DataFrame:
    """Payload-turn source + the extraction kernel: the shared plan of every
    extraction entry point."""
    kernel = make_kernel(sink, opts, hooks)
    return payload_source(transcripts).mapInPandas(kernel, schema=sink.schema)


def map_pages(
    transcripts: DataFrame, make_page_fn: Callable[[], Callable], schema: str
) -> DataFrame:
    """Payload-turn source + the decode loop + one page function: the plan
    of the page queries that read decoded pages but no words (detections,
    artefacts, layout regions, media metadata), so they pay for no
    recognition. ``make_page_fn()`` runs once per task and returns
    ``page_fn(img) -> rows``; every row comes out as ``(conv_id, turn_idx,
    page_idx, *row)``, typed by ``schema``."""

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        page_fn = make_page_fn()
        rows: list = []
        for conv_id, turn_idx, pages in decoded_turns(batches):
            for page_idx, img in enumerate(pages):
                rows.extend((conv_id, turn_idx, page_idx, *row) for row in page_fn(img))
            if len(rows) >= PAGE_ROW_FLUSH:
                yield pd.DataFrame(rows)  # integer labels: columns bind by position
                rows = []
        if rows:
            yield pd.DataFrame(rows)

    return payload_source(transcripts).mapInPandas(fn, schema=schema)


def _build(page: RecognizedPage, opts: KernelOptions) -> tuple[int, str, str]:
    return build_page_record(
        page.rel_boxes,
        page.scores,
        page.values,
        page.confs,
        page.crop_orients,
        page.dims,
        page.page_idx,
        page.tables or [],
        page.regions if opts.keep_reading_order else None,
        {"value": int(page.orient), "confidence": page.orient_conf},
        resolve_lines=opts.resolve_lines,
        resolve_blocks=opts.resolve_blocks,
        paragraph_break=opts.paragraph_break,
        keep_reading_order=opts.keep_reading_order,
        text_direction=opts.text_direction,
        include_furniture=opts.include_furniture,
    )


def _document_rows(conv_id, turn_idx, pages, opts):
    built = [_build(p, opts) for p in pages]
    return [(
        conv_id, turn_idx, PAGE_BREAK.join(text for _, text, _ in built),
        len(built), sum(n for n, _, _ in built), [pj for _, _, pj in built],
    )]  # fmt: skip


def _page_rows(conv_id, turn_idx, pages, opts):
    return [(conv_id, turn_idx, p.page_idx, *_build(p, opts)) for p in pages]


DOCUMENT_SINK = Sink(
    "conv_id string, turn_idx int, extracted_text string, "
    "n_pages int, n_words int, pages_json array<string>",
    ("conv_id", "turn_idx", "extracted_text", "n_pages", "n_words", "pages_json"),
    _document_rows,
)
PAGE_SINK = Sink(
    "conv_id string, turn_idx int, page_idx int, n_words int, page_text string, page_json string",
    ("conv_id", "turn_idx", "page_idx", "n_words", "page_text", "page_json"),
    _page_rows,
)


def extract_documents(
    transcripts: DataFrame,
    include_all_turns: bool = False,
    *,
    loc_hooks: Sequence[LocHook] | None = None,
    **options,
) -> DataFrame:
    """Run the detection->recognition->reconstruction pipeline.

    Returns one row per payload-bearing turn:
    ``(conv_id, turn_idx, extracted_text, n_pages, n_words, pages_json)``,
    or one row per input turn (nulls for prose turns) when
    ``include_all_turns``. ``options`` are :class:`KernelOptions` fields.

    ``loc_hooks`` is the Spark analogue of `OCRPredictor.add_hook`
    (`doctr/models/predictor/base.py:310-316`): each hook maps one turn's
    loc_preds (one (N, 5) ``[xmin, ymin, xmax, ymax, score]`` relative float
    array per page) to new loc_preds, between detection and cropping.
    """
    docs = extract_rows(transcripts, DOCUMENT_SINK, KernelOptions(**options), loc_hooks or ())
    if include_all_turns:
        keys = transcripts.select("conv_id", "turn_idx")
        docs = keys.join(docs, on=["conv_id", "turn_idx"], how="left")
    return docs


def extract_pages(transcripts: DataFrame) -> DataFrame:
    """The pipeline stopping at BUILT PAGES: one row per page
    ``(conv_id, turn_idx, page_idx, n_words, page_text, page_json)`` — the
    shared input of the export surface (`operators.kie.export_documents`)."""
    return extract_rows(transcripts, PAGE_SINK)


def ordered(docs: DataFrame) -> DataFrame:
    """Stable (conv_id, turn_idx) output ordering — the north-rule invariant
    is defined under this window ordering."""
    return docs.orderBy("conv_id", "turn_idx")
