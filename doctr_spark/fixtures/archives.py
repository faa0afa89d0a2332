"""Deterministic miniature dataset archives for the loader tests/oracle.

The reference validates its dataset loaders against fabricated miniature
archives (`tests/conftest.py:113-838` builds tiny FUNSD/CORD/SROIE/...
trees; `tests/pytorch/test_datasets_pt.py` checks parsing). This module is
that fabricator for the Spark loaders in `doctr_spark.io.datasets`: each
function writes a correctly-shaped archive under ``root`` and returns the
ground-truth rows the loader must reproduce — (img_path, boxes xyxy,
labels) per image, in annotation-file order. All content is a pure
function of (n_imgs, seed); image files are written as 1-byte stubs (the
loaders reference images by path, they never decode them).
"""

from __future__ import annotations

import json
import os
import random

_WORDS = "invoice total date amount vendor tax item qty price name".split()


def _mkdirs(*paths: str) -> None:
    for p in paths:
        os.makedirs(p, exist_ok=True)


def _touch(path: str) -> None:
    with open(path, "wb") as f:
        f.write(b"\x00")


def _gen_words(rng: random.Random, n: int, span: int = 1000) -> list[tuple[str, list[float]]]:
    out = []
    for _ in range(n):
        x0 = rng.randrange(0, span - 120)
        y0 = rng.randrange(0, span - 40)
        w, h = rng.randrange(40, 120), rng.randrange(16, 40)
        out.append((rng.choice(_WORDS), [float(x0), float(y0), float(x0 + w), float(y0 + h)]))
    return out


def fabricate_funsd(root: str, n_imgs: int = 4, seed: int = 0) -> list[dict]:
    """FUNSD tree: dataset/training_data/{images,annotations}; one form of
    2 blocks per image, one word with empty text that the loader drops."""
    rng = random.Random(seed)
    base = f"{root}/dataset/training_data"
    _mkdirs(f"{base}/images", f"{base}/annotations")
    expected = []
    for i in range(n_imgs):
        stem = f"doc_{i:03d}"
        words = _gen_words(rng, 5)
        half = len(words) // 2
        form = [
            {"text": " ".join(t for t, _ in blk), "box": [0, 0, 10, 10],
             "label": "other", "id": bi,
             "words": [{"text": t, "box": b} for t, b in blk]}
            for bi, blk in enumerate([words[:half], words[half:]])
        ]  # fmt: skip
        form[0]["words"].append({"text": "", "box": [1.0, 1.0, 2.0, 2.0]})  # dropped
        with open(f"{base}/annotations/{stem}.json", "w") as f:
            json.dump({"form": form}, f)
        _touch(f"{base}/images/{stem}.png")
        expected.append(
            {
                "img_path": f"{base}/images/{stem}.png",
                "boxes": [b for _, b in words],
                "labels": [t for t, _ in words],
            }
        )
    return expected


def fabricate_cord(root: str, n_imgs: int = 4, seed: int = 1) -> list[dict]:
    """CORD tree: {image,json}; word quads are slightly sheared rects so the
    straight-box min/max reduction is non-trivial."""
    rng = random.Random(seed)
    _mkdirs(f"{root}/image", f"{root}/json")
    expected = []
    for i in range(n_imgs):
        stem = f"receipt_{i:03d}"
        words = _gen_words(rng, 4)
        lines = []
        exp_boxes, exp_labels = [], []
        for t, (x0, y0, x1, y1) in words:
            dx = rng.randrange(0, 6)
            quad = {
                "x1": x0 + dx, "y1": y0, "x2": x1 + dx, "y2": y0,
                "x3": x1, "y3": y1, "x4": x0, "y4": y1,
            }  # fmt: skip
            lines.append({"words": [{"text": t, "quad": quad}]})
            exp_boxes.append([min(x0, x0 + dx), y0, max(x1, x1 + dx), y1])
            exp_labels.append(t)
        with open(f"{root}/json/{stem}.json", "w") as f:
            json.dump({"valid_line": lines}, f)
        _touch(f"{root}/image/{stem}.png")
        expected.append(
            {"img_path": f"{root}/image/{stem}.png", "boxes": exp_boxes, "labels": exp_labels}
        )
    return expected


def fabricate_sroie(root: str, n_imgs: int = 4, seed: int = 2) -> list[dict]:
    """SROIE tree: {images,annotations}; CSV rows of 8 corner coords + a
    transcription that may itself contain commas."""
    rng = random.Random(seed)
    _mkdirs(f"{root}/images", f"{root}/annotations")
    expected = []
    for i in range(n_imgs):
        stem = f"rcpt_{i:03d}"
        words = _gen_words(rng, 3)
        rows, exp_boxes, exp_labels = [], [], []
        for j, (t, (x0, y0, x1, y1)) in enumerate(words):
            label = f"{t}, inc" if j == 0 else t  # embedded comma case
            coords = [x0, y0, x1, y0, x1, y1, x0, y1]
            rows.append(",".join(str(int(c)) for c in coords) + f",{label}")
            exp_boxes.append([x0, y0, x1, y1])
            exp_labels.append(label)
        with open(f"{root}/annotations/{stem}.txt", "w") as f:
            f.write("\n".join(rows) + "\n")
        _touch(f"{root}/images/{stem}.jpg")
        expected.append(
            {"img_path": f"{root}/images/{stem}.jpg", "boxes": exp_boxes, "labels": exp_labels}
        )
    return expected


def fabricate_ocr_rendered(root: str, n_imgs: int = 5, seed: int = 12) -> list[dict]:
    """OCRDataset archive whose images are REAL engine-rendered PNG pages:
    words drawn with the glyph font at the annotated boxes, so the full
    read-images -> extract -> metrics loop (`tools/evaluate.py`, the
    reference's scripts/evaluate.py flow) has exact expectations — every
    word is detectable and decodes exactly."""
    import numpy as np

    from ..kernels.glyphs import draw_word, word_width
    from ..kernels.png import encode_png

    rng = random.Random(seed)
    _mkdirs(f"{root}/images")
    data: dict = {}
    expected = []
    for i in range(n_imgs):
        name = f"page_{i:03d}.png"
        canvas = np.zeros((120, 512), dtype=np.uint8)
        typed, gt_words = [], []
        y = 12
        for _ in range(rng.randrange(2, 4)):  # lines
            x = 16
            for _ in range(rng.randrange(2, 4)):  # words per line
                t = rng.choice(_WORDS)
                if x + word_width(t) >= canvas.shape[1] - 4:
                    break
                box = draw_word(canvas, x, y, t)
                typed.append({"geometry": [float(v) for v in box], "value": t})
                gt_words.append(t)
                x = box[2] + 12
            y += 28
        data[name] = {"typed_words": typed}
        with open(f"{root}/images/{name}", "wb") as f:
            f.write(encode_png(canvas))
        expected.append(
            {
                "img_path": f"{root}/images/{name}",
                "gt_text": " ".join(gt_words),
                "n_words": len(gt_words),
            }
        )
    with open(f"{root}/labels.json", "w") as f:
        json.dump(data, f)
    return expected


def fabricate_synthtext(root: str, n_imgs: int = 4, seed: int = 13) -> list[dict]:
    """SynthText gt.mat (MATLAB v5, compressed): parallel cells imnames /
    wordBB (2 x 4 x M corner tensor; plain 2 x 4 for a single word, the
    reference's expand_dims path) / txt (char matrices whose
    whitespace-split rows are the labels), written with the from-scratch
    codec `kernels/matv5.py`."""
    import numpy as np

    from ..kernels.matv5 import Cell, savemat

    rng = random.Random(seed)
    _mkdirs(root)
    imnames, wordbbs, txts, expected = [], [], [], []
    for i in range(n_imgs):
        img = f"{i // 2}/scene_{i:03d}.jpg"
        n_words = 1 if i == 0 else rng.randrange(2, 5)  # i==0: the 2-D bb path
        words = _gen_words(rng, n_words)
        labels = [t for t, _ in words]
        bb = np.zeros((2, 4, n_words))
        boxes_exp, polys_exp = [], []
        for m, (_, (x0, y0, x1, y1)) in enumerate(words):
            c = np.array([[x0, y0], [x1, y0], [x1, y1], [x0, y1]], dtype=float)
            if i % 2:  # rotated corners exercise the true-polygon path
                ang, ctr = np.deg2rad(12.0), c.mean(axis=0)
                rot = np.array([[np.cos(ang), -np.sin(ang)], [np.sin(ang), np.cos(ang)]])
                c = (c - ctr) @ rot.T + ctr
            bb[0, :, m] = c[:, 0]
            bb[1, :, m] = c[:, 1]
            boxes_exp.append(
                [float(c[:, 0].min()), float(c[:, 1].min()), float(c[:, 0].max()), float(c[:, 1].max())]
            )
            polys_exp.append([[float(x), float(y)] for x, y in c])
        imnames.append(img)
        wordbbs.append(bb[:, :, 0] if n_words == 1 else bb)
        half = (len(labels) + 1) // 2  # 2-row char matrix exercises padding
        rows = [" ".join(labels[:half])] + ([" ".join(labels[half:])] if labels[half:] else [])
        txts.append(rows[0] if len(rows) == 1 else rows)
        expected.append(
            {"img_path": f"{root}/{img}", "labels": labels, "boxes": boxes_exp, "polys": polys_exp}
        )
        _mkdirs(os.path.dirname(f"{root}/{img}"))
        _touch(f"{root}/{img}")
    savemat(f"{root}/gt.mat", {"imnames": Cell(imnames), "wordBB": Cell(wordbbs), "txt": Cell(txts)})
    return expected


def fabricate_iiit5k(root: str, n_imgs: int = 4, seed: int = 14) -> list[dict]:
    """IIIT5K trainCharBound.mat: a (1, N) struct array with fields
    (ImgName, chars, charBB [x, y, w, h] per character)."""
    import numpy as np

    from ..kernels.matv5 import StructArray, savemat

    rng = random.Random(seed)
    _mkdirs(f"{root}/train")
    recs, expected = [], []
    chars = "ABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789"
    for i in range(n_imgs):
        img = f"train/{i + 1:04d}_1.png"
        label = "".join(rng.choice(chars) for _ in range(rng.randrange(3, 7)))
        x = 2.0
        boxes = []
        for _ in label:
            w, h = float(rng.randrange(8, 20)), float(rng.randrange(16, 28))
            boxes.append([x, 4.0, w, h])
            x += w + 2
        recs.append({"ImgName": img, "chars": label, "charBB": np.asarray(boxes)})
        expected.append(
            {
                "img_path": f"{root}/{img}",
                "labels": list(label),
                "boxes": [[b[0], b[1], b[0] + b[2], b[1] + b[3]] for b in boxes],
            }
        )
        _touch(f"{root}/{img}")
    savemat(f"{root}/trainCharBound.mat", {"trainCharBound": StructArray(recs)})
    return expected


def fabricate_svhn(root: str, n_imgs: int = 4, seed: int = 15) -> list[dict]:
    """SVHN digitStruct.mat (MATLAB v7.3 = HDF5), written with the
    from-scratch codec `kernels/hdf5.py`: /digitStruct/name references
    uint16 char matrices; /digitStruct/bbox references per-image groups
    whose height/left/top/width/label fields are (1,1) float64 scalars for
    single-digit images (i == 0 exercises that branch, like the
    reference's ``box["left"].shape[0] == 1`` split) and columns of object
    references to scalars otherwise."""
    import numpy as np

    from ..kernels.hdf5 import H5Writer

    rng = random.Random(seed)
    _mkdirs(root)
    w = H5Writer()
    name_ids, bbox_ids, expected = [], [], []
    for i in range(n_imgs):
        img = f"{i + 1}.png"
        n_digits = 1 if i == 0 else rng.randrange(2, 5)
        x = float(rng.randrange(5, 30))
        y = float(rng.randrange(5, 20))
        fields: dict[str, list[float]] = {"left": [], "top": [], "width": [], "height": [], "label": []}
        labels, boxes = [], []
        for _ in range(n_digits):
            bw, bh = float(rng.randrange(8, 20)), float(rng.randrange(20, 40))
            lab = float(rng.randrange(1, 11))  # SVHN: 10 encodes the digit 0
            fields["left"].append(x)
            fields["top"].append(y)
            fields["width"].append(bw)
            fields["height"].append(bh)
            fields["label"].append(lab)
            labels.append(str(int(lab)))
            boxes.append([x, y, x + bw, y + bh])
            x += bw + 2
        members = {}
        for key, vals in fields.items():
            if n_digits == 1:
                members[key] = w.dataset(np.array([[vals[0]]]))
            else:
                scalar_ids = [w.dataset(np.array([[v]])) for v in vals]
                members[key] = w.ref_dataset(scalar_ids)
        bbox_ids.append(w.group(members))
        name_ids.append(
            w.dataset(np.array([[ord(c)] for c in img], dtype=np.uint16))
        )
        expected.append({"img_path": f"{root}/{img}", "labels": labels, "boxes": boxes})
        _touch(f"{root}/{img}")
    ds = w.group({"name": w.ref_dataset(name_ids), "bbox": w.ref_dataset(bbox_ids)})
    w.save(f"{root}/digitStruct.mat", w.group({"digitStruct": ds}))
    return expected
