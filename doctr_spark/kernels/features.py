"""Deterministic media feature extraction shared by the multimodal operator
and the fixture expectation generator.

The feature vector is a column-band mean-pool over the page raster — the
vectorized stand-in for an embedding-model forward (the container has no
vision stack). `feature_json` fixes the on-wire representation to a rounded
JSON string so the value is hashable/sortable by any downstream engine
(arrays of doubles are not — the round-1 correctness harness could not
canonicalize an `array<double>` column).
"""

from __future__ import annotations

import json

import numpy as np

N_FEATURES = 8


def extract_features(img: np.ndarray, n: int = N_FEATURES) -> np.ndarray:
    """Deterministic feature extraction: column-band mean-pool."""
    h, w = img.shape
    bands = np.array_split(np.arange(w), n)
    return np.array([float(img[:, b].mean()) / 255.0 for b in bands])


def feature_json(feats: np.ndarray) -> str:
    """Canonical string form of a feature vector (6dp, JSON array)."""
    return json.dumps([round(float(v), 6) for v in feats])


def media_meta_row(img: np.ndarray) -> tuple[int, int, int, float, str]:
    """(height, width, n_bytes, ink_ratio, feature_json) for one page raster.

    `n_bytes` is the engine-codec size of the page (`imgcodec.encode_page`),
    i.e. its size in the payload packing format.
    """
    from .imgcodec import encode_page

    return (
        int(img.shape[0]),
        int(img.shape[1]),
        len(encode_page(img)),
        float((img > 0).mean()),
        feature_json(extract_features(img)),
    )
