"""Dataset annotation loaders vs fabricated miniature archives (the
reference's own loader-test strategy: tests/conftest.py:113-838 +
tests/pytorch/test_datasets_pt.py)."""

from __future__ import annotations

import json

import pytest

from doctr_spark.fixtures import archives
from doctr_spark.io import datasets as ds


def _by_img(rows):
    return {r["img_path"]: r for r in rows}


def _collect(df):
    return {r["img_path"]: r.asDict() for r in df.collect()}


def test_funsd_loader(spark, tmp_path):
    root = str(tmp_path / "funsd")
    expected = _by_img(archives.fabricate_funsd(root))
    got = _collect(ds.load_funsd(spark, root, train=True))
    assert set(got) == set(expected)
    for p, exp in expected.items():
        assert got[p]["labels"] == exp["labels"]
        assert [list(b) for b in got[p]["boxes"]] == exp["boxes"]


def test_funsd_polygons_mode(spark, tmp_path):
    root = str(tmp_path / "funsd")
    expected = _by_img(archives.fabricate_funsd(root))
    got = _collect(ds.load_funsd(spark, root, use_polygons=True))
    for p, exp in expected.items():
        for corners, (x0, y0, x1, y1) in zip(got[p]["boxes"], exp["boxes"]):
            assert [list(c) for c in corners] == [[x0, y0], [x1, y0], [x1, y1], [x0, y1]]


def test_cord_loader_reduces_quads(spark, tmp_path):
    root = str(tmp_path / "cord")
    expected = _by_img(archives.fabricate_cord(root))
    got = _collect(ds.load_cord(spark, root))
    assert set(got) == set(expected)
    for p, exp in expected.items():
        assert got[p]["labels"] == exp["labels"]
        assert [list(b) for b in got[p]["boxes"]] == exp["boxes"]


def test_sroie_loader_keeps_commas_and_order(spark, tmp_path):
    root = str(tmp_path / "sroie")
    expected = _by_img(archives.fabricate_sroie(root))
    got = _collect(ds.load_sroie(spark, root))
    assert set(got) == set(expected)
    for p, exp in expected.items():
        assert got[p]["labels"] == exp["labels"]  # first label has ", inc"
        assert [list(b) for b in got[p]["boxes"]] == exp["boxes"]
    assert any("," in lbl for r in expected.values() for lbl in r["labels"])


def test_ocr_dataset_keeps_empty_images(spark, tmp_path):
    labels = {
        "scan_000.png": {"typed_words": [
            {"geometry": [1.0, 2.0, 30.0, 12.0, 0.9], "value": "total"},
            {"geometry": [40.0, 2.0, 80.0, 12.0], "value": "date"},
        ]},
        "scan_001.png": {"typed_words": []},
    }  # fmt: skip
    (tmp_path / "labels.json").write_text(json.dumps(labels))
    img = str(tmp_path / "images")
    got = _collect(ds.load_ocr_dataset(spark, img, str(tmp_path / "labels.json")))
    assert got == {
        f"{img}/scan_000.png": {
            "img_path": f"{img}/scan_000.png",
            "boxes": [[1.0, 2.0, 30.0, 12.0], [40.0, 2.0, 80.0, 12.0]],
            "labels": ["total", "date"],
        },
        f"{img}/scan_001.png": {"img_path": f"{img}/scan_001.png", "boxes": [], "labels": []},
    }


@pytest.mark.parametrize("loader", ["funsd", "cord", "sroie"])
def test_loaders_are_deterministic(spark, tmp_path, loader):
    root = str(tmp_path / loader)
    fab = getattr(archives, f"fabricate_{loader}")
    fab(root)
    fn = getattr(ds, f"load_{loader}")
    a = sorted(map(str, fn(spark, root).collect()))
    b = sorted(map(str, fn(spark, root).collect()))
    assert a == b


def test_loaders_tolerate_corrupt_annotation_files(spark, tmp_path):
    """A malformed annotation file must not crash the distributed parse —
    schema'd from_json/read.json yields nulls that drop out, matching the
    pipeline's corrupt-payload quarantine philosophy."""
    root = str(tmp_path / "funsd")
    expected = _by_img(archives.fabricate_funsd(root))
    ann_dir = f"{root}/dataset/training_data/annotations"
    with open(f"{ann_dir}/broken.json", "w") as f:
        f.write('{"form": [this is not json')
    got = _collect(ds.load_funsd(spark, root, train=True))
    assert set(got) == set(expected)  # corrupt file contributes nothing

    root2 = str(tmp_path / "sroie")
    expected2 = _by_img(archives.fabricate_sroie(root2))
    with open(f"{root2}/annotations/rcpt_000.txt", "a") as f:
        f.write("not,enough,fields\n")
    got2 = _collect(ds.load_sroie(spark, root2))
    # the malformed row casts to null coords but must not break the others
    assert set(got2) == set(expected2)


def test_svhn_loader_both_branches(spark, tmp_path):
    """digitStruct.mat via the from-scratch HDF5 codec: image 1 uses the
    scalar-field branch (single digit), the rest the reference-array
    branch; labels keep SVHN's '10'-encodes-0 convention like the
    reference (doctr/datasets/svhn.py:96-104)."""
    root = str(tmp_path / "svhn")
    expected = _by_img(archives.fabricate_svhn(root))
    got = _collect(ds.load_svhn(spark, root, train=True))
    assert set(got) == set(expected)
    for p, exp in expected.items():
        assert got[p]["labels"] == exp["labels"]
        assert [list(b) for b in got[p]["boxes"]] == exp["boxes"]
    assert any(len(e["labels"]) == 1 for e in expected.values())
    assert any(len(e["labels"]) > 1 for e in expected.values())


def test_svhn_polygons_mode(spark, tmp_path):
    root = str(tmp_path / "svhn_poly")
    expected = _by_img(archives.fabricate_svhn(root))
    got = _collect(ds.load_svhn(spark, root, use_polygons=True))
    for p, exp in expected.items():
        for corners, (x0, y0, x1, y1) in zip(got[p]["boxes"], exp["boxes"]):
            assert [list(c) for c in corners] == [[x0, y0], [x1, y0], [x1, y1], [x0, y1]]
