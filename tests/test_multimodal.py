from doctr_spark.fixtures.layout import layout_paragraphs
from doctr_spark.fixtures.transcripts import generate_transcripts
from doctr_spark.kernels.features import N_FEATURES, extract_features
from doctr_spark.operators.multimodal import media_metadata


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
