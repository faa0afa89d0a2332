"""Predictor factory — API parity with the reference zoo
(`/root/reference/doctr/models/zoo.py:100-181` ocr_predictor,
`:250-325` kie_predictor).

Returns a callable `predictor(transcripts_df) -> DataFrame` wired with the
selected options, mirroring the reference constructor surface:

    >>> from doctr_spark.zoo import ocr_predictor
    >>> predictor = ocr_predictor(reco_arch="ctc", detect_language=False,
    ...                           straighten_pages=False)
    >>> docs = predictor(transcripts_df)

The det/reco "architectures" select the deterministic kernel variants
(both heads share the glyph forward; `ctc` collapses best-path with blank
frames, `attention` cuts at <eos> — the CRNN vs ViTSTR decode semantics).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import asdict, dataclass, field, fields

from pyspark.sql import DataFrame

from .operators.pipeline import KernelOptions, LocHook, extract_documents

DET_ARCHS = ("db_like", "fast_like", "linknet_like")  # threshold presets (kernels.detection.DET_PRESETS)
RECO_ARCHS = ("ctc", "attention")


_K = KernelOptions()  # the predictor's defaults are the kernel's
# KernelOptions field -> predictor field named after the reference zoo kwarg
_RENAMED = {"det_preserve_aspect_ratio": "preserve_aspect_ratio", "det_symmetric_pad": "symmetric_pad"}


@dataclass
class OCRPredictor:
    """Configured extraction pipeline (the `OCRPredictor` analogue)."""

    det_arch: str = _K.det_arch
    reco_arch: str = _K.reco_arch
    resolve_lines: bool = _K.resolve_lines
    resolve_blocks: bool = _K.resolve_blocks
    paragraph_break: float = _K.paragraph_break
    detect_crop_orientation: bool = _K.detect_crop_orientation
    straighten_pages: bool = _K.straighten_pages
    keep_reading_order: bool = _K.keep_reading_order
    text_direction: str | None = _K.text_direction
    mask_region_labels: tuple[str, ...] | None = _K.mask_region_labels
    include_all_turns: bool = False
    include_furniture: bool = _K.include_furniture
    reco_vocab: str = _K.reco_vocab
    # PreProcessor parity (reference zoo.py preserve_aspect_ratio /
    # symmetric_pad kwargs + the det arch's fixed input shape)
    det_input_size: tuple[int, int] | None = _K.det_input_size
    preserve_aspect_ratio: bool = _K.det_preserve_aspect_ratio
    symmetric_pad: bool = _K.det_symmetric_pad
    hooks: list[LocHook] = field(default_factory=list)

    def __post_init__(self) -> None:
        if self.det_arch not in DET_ARCHS:
            raise ValueError(f"det_arch must be one of {DET_ARCHS}")
        if self.reco_arch not in RECO_ARCHS:
            raise ValueError(f"reco_arch must be one of {RECO_ARCHS}")

    def add_hook(self, hook: LocHook) -> None:
        """Register a localization hook (`doctr/models/predictor/base.py:
        310-316`): ``hook(loc_preds) -> loc_preds`` runs inside the
        extraction kernel between detection and cropping, once per turn.
        ``loc_preds`` holds one (N, 5) float array ``[xmin, ymin, xmax,
        ymax, score]`` per page in relative [0, 1] coordinates; the crop
        boxes are re-derived from the returned boxes."""
        self.hooks.append(hook)

    def kernel_options(self) -> KernelOptions:
        """This predictor's settings as the extraction kernel's options."""
        return KernelOptions(
            **{f.name: getattr(self, _RENAMED.get(f.name, f.name)) for f in fields(KernelOptions)}
        )

    def __call__(self, transcripts: DataFrame) -> DataFrame:
        return extract_documents(
            transcripts,
            include_all_turns=self.include_all_turns,
            loc_hooks=self.hooks,
            **asdict(self.kernel_options()),
        )


def ocr_predictor(det_arch: str = "db_like", reco_arch: str = "ctc", **kwargs) -> OCRPredictor:
    return OCRPredictor(det_arch=det_arch, reco_arch=reco_arch, **kwargs)


def kie_predictor() -> Callable[[DataFrame], DataFrame]:
    """KIE variant (`kie_predictor`, zoo.py:250-325): per-class prediction
    pages instead of Line/Block nesting."""
    from .operators.kie import kie_extract

    return kie_extract
