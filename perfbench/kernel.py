"""Spark-free driver of the fused extraction kernel, timing each layer.

It calls the five public kernel functions that
`operators.pipeline.extract_documents` runs per Arrow batch, in the same
order and batching (decode + detect + crop per turn, then one recognition
call over every crop of the batch, then the per-page build), with the
same default options, and times and counts each call. Its per-turn text is
checked against the ground truth, so it provably measures the same
program as the Spark job. A renamed or re-signatured function fails the
signature check before anything is timed.
"""

from __future__ import annotations

import inspect
import json
import time

# function -> parameter names this driver passes to it
_CONTRACT = {
    ("doctr_spark.fixtures.payloads", "decode_payload"): ["text"],
    ("doctr_spark.operators.detect", "make_page_processor"): [
        "mask_region_labels", "straighten_pages", "det_arch", "carry_layout",
        "det_input_size", "det_preserve_aspect_ratio", "det_symmetric_pad",
    ],  # fmt: skip
    ("doctr_spark.kernels.detection", "extract_crops"): ["page", "abs_boxes"],
    ("doctr_spark.operators.recognize", "recognize_crop_arrays"): [
        "crops", "detect_orientation", "arch", "vocab_name",
    ],  # fmt: skip
    ("doctr_spark.operators.build", "build_page_record"): [
        "boxes", "scores", "values", "confs", "orientations", "dims", "page_idx",
        "raw_tables", "layout_regions", "page_orientation", "resolve_lines",
        "resolve_blocks", "paragraph_break", "keep_reading_order",
        "text_direction", "include_furniture",
    ],  # fmt: skip
}


# metric -> unit, reported by `run`
METRICS = {
    "payloads.decode_s": "s", "payloads.pages": "count", "payloads.quarantined": "count",
    "detect.process_page_s": "s", "detect.boxes": "count",
    "crop.extract_s": "s", "crop.crops": "count",
    "recognize.s": "s", "recognize.crops": "count", "recognize.rotated_crops": "count",
    "build.s": "s", "build.words": "count",
    "kernel.turns": "count", "kernel.s": "s", "kernel.ms_per_turn": "ms",
}  # fmt: skip


def _kernel_functions() -> dict:
    import importlib

    fns = {}
    for (module, name), params in _CONTRACT.items():
        fn = getattr(importlib.import_module(module), name, None)
        if fn is None:
            raise RuntimeError(f"kernel driver: {module}.{name} no longer exists")
        have = list(inspect.signature(fn).parameters)
        if have[: len(params)] != params:
            raise RuntimeError(
                f"kernel driver: {module}.{name} signature changed: expected {params}, got {have}"
            )
        fns[name] = fn
    return fns


def run(turns: list[tuple[str, int, str]], batch_turns: int) -> tuple[dict, dict]:
    """Extract ``turns`` = [(conv_id, turn_idx, text)] in batches of
    ``batch_turns``; returns (per-layer metrics, {(conv_id, turn_idx): text})."""
    import numpy as np

    from doctr_spark.kernels.builder import PAGE_BREAK

    fn = _kernel_functions()
    t = dict.fromkeys(("decode", "detect", "crop", "recognize", "build"), 0.0)
    n = dict.fromkeys(("pages", "quarantined", "boxes", "crops", "rotated", "words"), 0)
    texts: dict[tuple[str, int], str] = {}

    process_page = fn["make_page_processor"](None, False, "db_like", False, None, True, True)
    t_all = time.perf_counter()
    for lo in range(0, len(turns), batch_turns):
        done, all_crops = [], []
        for conv_id, turn_idx, text in turns[lo : lo + batch_turns]:
            t0 = time.perf_counter()
            try:
                pages = fn["decode_payload"](text)
            except NotImplementedError:
                raise
            except Exception:  # quarantined, as in the fused kernel
                n["quarantined"] += 1
                continue
            finally:
                t["decode"] += time.perf_counter() - t0
            recs = []
            for page_idx, img in enumerate(pages):
                t0 = time.perf_counter()
                img, orient, oconf, regions, tables, abs_boxes, rel_boxes, scores = process_page(img)
                t1 = time.perf_counter()
                crops = fn["extract_crops"](img, abs_boxes)
                t["detect"] += t1 - t0
                t["crop"] += time.perf_counter() - t1
                start = len(all_crops)
                all_crops.extend(np.ascontiguousarray(c) for c in crops)
                recs.append((page_idx, img.shape[:2], orient, oconf, tables, rel_boxes, scores, start, len(crops)))
                n["pages"] += 1
                n["boxes"] += len(abs_boxes)
            if recs:
                done.append((conv_id, turn_idx, recs))
        t0 = time.perf_counter()
        values, confs, orients, oconfs = fn["recognize_crop_arrays"](all_crops, True, "ctc", "french")
        t["recognize"] += time.perf_counter() - t0
        n["crops"] += len(all_crops)
        n["rotated"] += sum(1 for o in orients if o)
        for conv_id, turn_idx, recs in done:
            page_texts = []
            for page_idx, dims, orient, oconf, tables, rel_boxes, scores, start, k in recs:
                t0 = time.perf_counter()
                n_words, text, _ = fn["build_page_record"](
                    rel_boxes, scores, values[start : start + k], confs[start : start + k],
                    list(zip(orients[start : start + k], oconfs[start : start + k])),
                    (int(dims[0]), int(dims[1])), page_idx,
                    # the fused kernel's JSON round-trip of the table sideband
                    json.loads(json.dumps(tables)) if tables else [],
                    None, {"value": int(orient), "confidence": float(oconf)},
                    resolve_lines=True, resolve_blocks=False, paragraph_break=0.035,
                    keep_reading_order=False, text_direction=None, include_furniture=True,
                )  # fmt: skip
                t["build"] += time.perf_counter() - t0
                n["words"] += n_words
                page_texts.append(text)
            texts[(conv_id, turn_idx)] = PAGE_BREAK.join(page_texts)
    total = time.perf_counter() - t_all

    values = {
        "payloads.decode_s": t["decode"],
        "payloads.pages": n["pages"],
        "payloads.quarantined": n["quarantined"],
        "detect.process_page_s": t["detect"],
        "detect.boxes": n["boxes"],
        "crop.extract_s": t["crop"],
        "crop.crops": n["crops"],
        "recognize.s": t["recognize"],
        "recognize.crops": n["crops"],
        "recognize.rotated_crops": n["rotated"],
        "build.s": t["build"],
        "build.words": n["words"],
        "kernel.turns": len(turns),
        "kernel.s": total,
        "kernel.ms_per_turn": 1e3 * total / max(len(turns), 1),
    }
    metrics = {name: (values[name], unit) for name, unit in METRICS.items()}
    return metrics, texts
