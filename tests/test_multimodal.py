import numpy as np
import pytest

from doctr_spark.fixtures.layout import layout_paragraphs
from doctr_spark.fixtures.transcripts import generate_transcripts
from doctr_spark.kernels.features import N_FEATURES, extract_features
from doctr_spark.kernels.imgcodec import encode_page
from doctr_spark.operators.multimodal import decode_media, media_metadata


def test_decode_media_page_kind():
    img = layout_paragraphs([["hello"]])[0].canvas
    assert (decode_media(encode_page(img), "page") == img).all()


def test_decode_media_unknown_kind_is_stubbed():
    with pytest.raises(NotImplementedError):
        decode_media(b"\x00", "audio/mp3")


def test_decode_media_jpeg_kind_is_real():
    """The T.81 codec backs the 'jpeg' media kind: a q95 round trip of a
    glyph canvas thresholds back to the exact ink mask."""
    from doctr_spark.kernels.jpeg import encode_jpeg

    img = layout_paragraphs([["hello"]])[0].canvas
    dec = decode_media(encode_jpeg(img, quality=95), "image/jpeg")
    assert dec.shape == img.shape
    assert np.array_equal(dec > 127, img > 127)


def test_extract_features_deterministic():
    img = layout_paragraphs([["hello", "world"]])[0].canvas
    f1 = extract_features(img)
    assert f1.shape == (N_FEATURES,)
    assert (f1 == extract_features(img)).all()
    assert f1.max() <= 1.0 and f1.min() >= 0.0
    assert f1.sum() > 0  # ink present


def test_media_metadata_spark(spark):
    import json

    tdf, mdf = generate_transcripts(spark, 10, with_media=True)
    meta = media_metadata(tdf).collect()
    assert len(meta) > 0
    for r in meta:
        assert r["media_kind"] == "page"
        assert r["height"] > 0 and r["width"] > 0
        assert len(json.loads(r["feature_json"])) == N_FEATURES
        assert 0.0 <= r["ink_ratio"] < 0.5
    # the generation-time expectation is an exact oracle for the pipeline
    key = lambda r: (r["conv_id"], r["turn_idx"], r["page_idx"])  # noqa: E731
    expected = {key(r): r.asDict() for r in mdf.collect()}
    assert len(expected) == len(meta)
    for r in meta:
        assert r.asDict() == expected[key(r)]


def test_decode_media_jp2_kind_is_real():
    """The T.800 codec backs the 'jp2' media kind — and JPEG 2000 is
    lossless here, so the round trip is exact (JP2 box or raw J2K)."""
    import numpy as np

    from doctr_spark.kernels.jpx import encode_j2k, encode_jp2

    img = np.random.default_rng(9).integers(0, 256, (40, 56)).astype(np.uint8)
    assert (decode_media(encode_jp2(img), "jp2") == img).all()
    assert (decode_media(encode_j2k(img), "image/jp2") == img).all()


def test_wav_pcm_roundtrip_and_features():
    """From-scratch RIFF/WAVE PCM: exact 16-bit round trip (mono and
    stereo, with an interleaved junk chunk real writers emit), 8-bit
    decode, loud non-PCM gate, and deterministic clip features."""
    import struct

    import numpy as np
    import pytest

    from doctr_spark.kernels.wav import audio_features, decode_wav, encode_wav

    rng = np.random.default_rng(4)
    mono = (rng.normal(0, 3000, 1600)).astype(np.int16)
    stereo = (rng.normal(0, 3000, (800, 2))).astype(np.int16)
    for sig in (mono, stereo):
        blob = encode_wav(sig, rate=16000)
        out, rate = decode_wav(blob)
        assert rate == 16000
        assert (out == (sig[:, None] if sig.ndim == 1 else sig)).all()
    # junk LIST chunk between fmt and data still parses (chunk walk)
    blob = encode_wav(mono)
    i = blob.index(b"data")
    junk = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # word-aligned
    spliced = blob[:i] + junk + blob[i:]
    spliced = spliced[:4] + struct.pack("<I", len(spliced) - 8) + spliced[8:]
    out, _ = decode_wav(spliced)
    assert (out[:, 0] == mono).all()
    # non-PCM gates loudly
    fmt_at = blob.index(b"fmt ") + 8
    bad = blob[:fmt_at] + struct.pack("<H", 3) + blob[fmt_at + 2 :]
    with pytest.raises(NotImplementedError, match="format tag"):
        decode_wav(bad)
    # features are deterministic and sane
    f = audio_features(mono, 16000)
    assert f["duration_sec"] == 0.1
    assert -60 < f["rms_db"] < 0 and 0 < f["zcr"] < 1
    # media-kind plumbing
    got = decode_media(encode_wav(mono), "audio/wav")
    assert (got[:, 0] == mono).all()


def test_wav_malformed_fmt_rejects_loudly():
    """ch == 0 must raise the codec's loud ValueError, not a
    ZeroDivisionError downstream."""
    import struct

    import numpy as np
    import pytest

    from doctr_spark.kernels.wav import decode_wav, encode_wav

    blob = encode_wav(np.zeros(16, dtype=np.int16))
    fmt_at = blob.index(b"fmt ") + 8
    zero_ch = blob[: fmt_at + 2] + struct.pack("<H", 0) + blob[fmt_at + 4 :]
    with pytest.raises(ValueError, match="NumChannels"):
        decode_wav(zero_ch)


@pytest.mark.parametrize("bits", [8, 16])
@pytest.mark.parametrize("ch", [1, 2])
def test_wav_zero_sample_clip(bits, ch):
    """An empty data chunk is a legal zero-sample clip: (0, ch) int16
    samples and the rate, and finite clip features."""
    import struct

    from doctr_spark.kernels.wav import audio_features, decode_wav

    block = ch * bits // 8
    fmt = struct.pack("<HHIIHH", 1, ch, 8000, 8000 * block, block, bits)
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt)) + fmt + b"data" + struct.pack("<I", 0)
    samples, rate = decode_wav(b"RIFF" + struct.pack("<I", len(body)) + body)
    assert samples.shape == (0, ch) and samples.dtype == np.int16
    assert rate == 8000
    f = audio_features(samples, rate)
    assert f["duration_sec"] == 0.0 and f["peak"] == 0.0
    assert all(np.isfinite(v) for v in f.values())
