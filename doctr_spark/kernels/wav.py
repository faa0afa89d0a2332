"""From-scratch RIFF/WAVE PCM codec (the public WAVE format spec —
RIFF chunks, `fmt ` header, 8/16-bit integer PCM) plus the frame-level
audio features a training-data pipeline computes before any model sees
the waveform (RMS energy, zero-crossing rate).

This un-gates the `wav` media kind honestly: PCM needs no AV library.
Compressed audio (MP3/AAC/Opus) and float/extensible WAVE stay behind
the loud multimodal gate (`operators/multimodal.py`).
"""

from __future__ import annotations

import struct

import numpy as np


def encode_wav(samples: np.ndarray, rate: int = 16000) -> bytes:
    """int16 samples, shape (n,) mono or (n, channels) -> WAVE bytes."""
    a = np.asarray(samples)
    if a.dtype != np.int16:
        raise ValueError("encode_wav takes int16 samples")
    if a.ndim == 1:
        a = a[:, None]
    n, ch = a.shape
    block = ch * 2
    data = a.astype("<i2").tobytes()
    fmt = struct.pack("<HHIIHH", 1, ch, rate, rate * block, block, 16)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt
    body += b"data" + struct.pack("<I", len(data)) + data
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_wav(blob: bytes) -> tuple[np.ndarray, int]:
    """WAVE bytes -> (samples int16 (n, channels), sample_rate). Walks
    the RIFF chunk list (real writers interleave LIST/fact/cue chunks);
    anything but integer PCM rejects loudly. An empty ``data`` chunk is a
    legal zero-sample clip: (0, channels) samples."""
    if blob[:4] != b"RIFF" or blob[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE stream")
    pos = 12
    fmt = None
    data = None
    while pos + 8 <= len(blob):
        cid = blob[pos : pos + 4]
        (ln,) = struct.unpack("<I", blob[pos + 4 : pos + 8])
        body = blob[pos + 8 : pos + 8 + ln]
        if cid == b"fmt ":
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif cid == b"data":
            data = body
        pos += 8 + ln + (ln & 1)  # chunks are word-aligned
    if fmt is None or data is None:
        raise ValueError("WAVE stream missing fmt/data chunks")
    tag, ch, rate, _brate, _block, bits = fmt
    if ch < 1:
        raise ValueError(f"malformed fmt chunk: NumChannels = {ch}")
    if tag != 1:
        raise NotImplementedError(
            f"WAVE format tag {tag} (non-PCM/compressed) is outside the codec subset"
        )
    if bits == 16:
        a = np.frombuffer(data, dtype="<i2")
    elif bits == 8:  # 8-bit WAVE is unsigned with a 128 bias
        a = (np.frombuffer(data, dtype=np.uint8).astype(np.int16) - 128) << 8
    else:
        raise NotImplementedError(f"{bits}-bit WAVE is outside the codec subset")
    n = len(a) // ch
    return a[: n * ch].reshape(n, ch).astype(np.int16), rate


def audio_features(
    samples: np.ndarray, rate: int, frame_ms: int = 25
) -> dict[str, float]:
    """Deterministic clip-level features over fixed frames: RMS energy
    (dbFS), zero-crossing rate, peak level, duration — the signals a
    corpus quality filter thresholds on."""
    a = np.asarray(samples, dtype=np.float64)
    if a.ndim == 2:
        a = a.mean(axis=1)
    a /= 32768.0
    n = len(a)
    if not n:  # a zero-sample clip has the features of one silent sample
        a = np.zeros(1)
    frame = max(int(rate * frame_ms / 1000), 1)
    n_frames = max(n // frame, 1)
    trimmed = a[: n_frames * frame].reshape(n_frames, frame) if n >= frame else a[None, :]
    rms = np.sqrt((trimmed**2).mean(axis=1) + 1e-12)
    zc = (np.diff(np.signbit(trimmed), axis=1) != 0).mean(axis=1) if trimmed.shape[1] > 1 else np.zeros(n_frames)
    return {
        "duration_sec": round(n / rate, 6),
        "rms_db": round(float(20 * np.log10(rms.mean() + 1e-12)), 6),
        "peak": round(float(np.abs(a).max(initial=0.0)), 6),
        "zcr": round(float(zc.mean()), 6),
        "active_frame_ratio": round(float((rms > 10 ** (-40 / 20)).mean()), 6),
    }
