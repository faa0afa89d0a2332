"""Recognition: word-crop arrays -> (value, confidence).

Spark analogue of `RecognitionPredictor.forward`
(`doctr/models/recognition/predictor/pytorch.py:44-85`): wide crops are
split into overlapping windows, each window goes through the model forward
+ CTC best-path decode, and the window predictions are merged back — all
inside the kernel, local to one crop. The extraction kernel
(`operators.pipeline`) calls it over the crops pending in a task, every
`CROP_FLUSH` crops.
"""

from __future__ import annotations

from ..kernels.recognition import recognize_crops_batched


def recognize_crop_arrays(
    crops: list, detect_orientation: bool, arch: str = "ctc", vocab_name: str = "french"
) -> tuple[list[str], list[float], list[int], list[float]]:
    """Recognize a list of real crop ARRAYS -> (values, confs, crop_orients,
    crop_orient_confs): per crop, the optional orientation classify +
    rectify (the reference's ``detect_crop_orientation`` option; disabled
    it reports 0deg/1.0 like the identity predictor,
    `classification/predictor/pytorch.py:47-50`), then every crop in one
    fixed-size batched forward (RECO_BATCH padded tensors — the NN swap-in
    boundary, see `kernels.recognition.forward_logits_batch`). ``vocab_name``
    names the recognition vocabulary (`kernels.vocab.VOCABS`)."""
    from ..kernels.orientation import estimate_crop_orientation, rectify_crop
    from ..kernels.vocab import VOCABS

    vocab = VOCABS[vocab_name]
    rect: list = []
    orients: list[int] = []
    oconfs: list[float] = []
    for crop in crops:
        if detect_orientation:
            angle, oconf = estimate_crop_orientation(crop)
            if angle:
                crop = rectify_crop(crop, angle)
        else:
            angle, oconf = 0, 1.0
        orients.append(angle)
        oconfs.append(oconf)
        rect.append(crop)
    preds = recognize_crops_batched(rect, vocab=vocab, arch=arch)
    return [v for v, _ in preds], [c for _, c in preds], orients, oconfs
