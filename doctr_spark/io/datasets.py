"""Dataset annotation loaders as distributed Spark readers.

The reference ships one Python class per public OCR dataset that walks the
extracted archive on a single machine, parses per-image annotation files,
and yields (image, target) pairs (`doctr/datasets/funsd.py:1-124`,
`cord.py:1-133`, `sroie.py:1-113`, `ocr.py:1-71`, `svhn.py`,
`synthtext.py`, `iiit5k.py`). Here each loader is a DataFrame
reader over the same on-disk annotation formats: annotation parsing runs
distributed (`spark.read.json` / wholetext + `from_json`, all native
expressions — no Python UDFs), images stay referenced by path so a
1000-executor job can join them lazily against an image store instead of
materializing pixels through the driver.

Every loader returns one row per image:

    img_path: string          -- absolute path of the referenced image
    boxes:    array<array<double>>
                               -- [xmin,ymin,xmax,ymax] per word, or the 4
                                  [x,y] corners when use_polygons=True
    labels:   array<string>   -- per-box word transcriptions

matching the reference target contract `dict(boxes=..., labels=...)`.
Missing-image existence checks are a join against the image listing at
scale, not a per-row driver stat; loaders therefore do not stat files.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812
from pyspark.sql import types as T  # noqa: N812


def _stem(col: Column) -> Column:
    return F.regexp_extract(col, r"([^/]+)\.[A-Za-z0-9]+$", 1)


def _xyxy_to_corners(box: Column) -> Column:
    """[xmin,ymin,xmax,ymax] -> 4 clockwise-from-top-left [x,y] corners
    (the reference's use_polygons expansion, funsd.py:95-104)."""
    return F.array(
        F.array(box[0], box[1]),
        F.array(box[2], box[1]),
        F.array(box[2], box[3]),
        F.array(box[0], box[3]),
    )


def _flat_poly_to_corners(poly: Column) -> Column:
    """Flattened [x0,y0,...,x3,y3] annotation corners -> (4, 2) arrays."""
    return F.array(
        F.array(poly[0], poly[1]),
        F.array(poly[2], poly[3]),
        F.array(poly[4], poly[5]),
        F.array(poly[6], poly[7]),
    )


def _assemble(words: DataFrame, use_polygons: bool) -> DataFrame:
    """(img_path, ord, box, label[, poly]) word rows -> one row per image
    with order-preserving boxes/labels arrays (sort_array over a keyed
    struct keeps the annotation-file order deterministic after the
    shuffle). When the annotation carries true rotated corners (a ``poly``
    column, e.g. SynthText's wordBB tensors), ``use_polygons=True`` returns
    those instead of fabricating axis-aligned corners from the xyxy
    collapse (reference `doctr/datasets/synthtext.py:106-116` keeps the
    rotated geometry in its use_polygons branch)."""
    has_poly = "poly" in words.columns
    fields = ["ord", "box", "label"] + (["poly"] if has_poly else [])
    packed = words.groupBy("img_path").agg(
        F.sort_array(F.collect_list(F.struct(*fields))).alias("ws")
    )

    def geom(w):
        if not use_polygons:
            return w["box"]
        if has_poly:
            return F.when(w["poly"].isNotNull(), _flat_poly_to_corners(w["poly"])).otherwise(
                _xyxy_to_corners(w["box"])
            )
        return _xyxy_to_corners(w["box"])

    return packed.select(
        "img_path",
        F.transform("ws", geom).alias("boxes"),
        F.transform("ws", lambda w: w["label"]).alias("labels"),
    )


_FUNSD_SCHEMA = T.StructType(
    [
        T.StructField(
            "form",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "words",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("text", T.StringType()),
                                        T.StructField("box", T.ArrayType(T.DoubleType())),
                                    ]
                                )
                            ),
                        )
                    ]
                )
            ),
        )
    ]
)


def load_funsd(
    spark: SparkSession, root: str, train: bool = True, use_polygons: bool = False
) -> DataFrame:
    """FUNSD: per-image `annotations/<stem>.json` with form blocks of words
    (reference `doctr/datasets/funsd.py:70-124`). Empty-text words are
    dropped; order is (block, word) within the file."""
    sub = "training_data" if train else "testing_data"
    base = f"{root}/dataset/{sub}"
    ann = (
        spark.read.schema(_FUNSD_SCHEMA)
        .option("multiLine", "true")
        .json(f"{base}/annotations/*.json")
        .withColumn("stem", _stem(F.input_file_name()))
    )
    words = (
        ann.select("stem", F.posexplode("form").alias("bi", "block"))
        .select("stem", "bi", F.posexplode("block.words").alias("wi", "word"))
        .where(F.length("word.text") > 0)
        .select(
            F.concat(F.lit(f"{base}/images/"), F.col("stem"), F.lit(".png")).alias("img_path"),
            (F.col("bi") * F.lit(100000) + F.col("wi")).alias("ord"),
            F.col("word.box").alias("box"),
            F.col("word.text").alias("label"),
        )
    )
    return _assemble(words, use_polygons)


_CORD_QUAD = T.StructType([T.StructField(k, T.DoubleType()) for k in
                           ("x1", "x2", "x3", "x4", "y1", "y2", "y3", "y4")])  # fmt: skip
_CORD_SCHEMA = T.StructType(
    [
        T.StructField(
            "valid_line",
            T.ArrayType(
                T.StructType(
                    [
                        T.StructField(
                            "words",
                            T.ArrayType(
                                T.StructType(
                                    [
                                        T.StructField("text", T.StringType()),
                                        T.StructField("quad", _CORD_QUAD),
                                    ]
                                )
                            ),
                        )
                    ]
                )
            ),
        )
    ]
)


def load_cord(
    spark: SparkSession, root: str, train: bool = True, use_polygons: bool = False
) -> DataFrame:
    """CORD: per-image `json/<stem>.json` with valid_line word quads
    (reference `doctr/datasets/cord.py:75-133`). Straight boxes reduce the
    8 quad coords to min/max; polygons keep the 4 corners as-is."""
    del train  # train/test split is two separate archives with one layout
    q = F.col("word.quad")
    xs = F.array(q["x1"], q["x2"], q["x3"], q["x4"])
    ys = F.array(q["y1"], q["y2"], q["y3"], q["y4"])
    ann = (
        spark.read.schema(_CORD_SCHEMA)
        .option("multiLine", "true")
        .json(f"{root}/json/*.json")
        .withColumn("stem", _stem(F.input_file_name()))
    )
    words = (
        ann.select("stem", F.posexplode("valid_line").alias("li", "line"))
        .select("stem", "li", F.posexplode("line.words").alias("wi", "word"))
        .where(F.length("word.text") > 0)
        .select(
            F.concat(F.lit(f"{root}/image/"), F.col("stem"), F.lit(".png")).alias("img_path"),
            (F.col("li") * F.lit(100000) + F.col("wi")).alias("ord"),
            (
                F.array(
                    F.array(q["x1"], q["y1"]),
                    F.array(q["x2"], q["y2"]),
                    F.array(q["x3"], q["y3"]),
                    F.array(q["x4"], q["y4"]),
                )
                if use_polygons
                else F.array(F.array_min(xs), F.array_min(ys), F.array_max(xs), F.array_max(ys))
            ).alias("box"),
            F.col("word.text").alias("label"),
        )
    )
    # CORD quads are already polygons; _assemble must not re-expand them
    return _assemble(words, use_polygons=False)


def load_sroie(
    spark: SparkSession, root: str, train: bool = True, use_polygons: bool = False
) -> DataFrame:
    """SROIE: per-image `annotations/<stem>.txt`, one CSV row per word:
    8 int corner coords then the transcription, which may itself contain
    commas (reference `doctr/datasets/sroie.py:85-113` keeps row[8:]
    rejoined). Files are read wholetext so line order is preserved."""
    del train
    lines = (
        spark.read.text(f"{root}/annotations/*.txt", wholetext=True)
        .withColumn("stem", _stem(F.input_file_name()))
        .select("stem", F.posexplode(F.split("value", "\n")).alias("ord", "row"))
        # malformed rows (wrong field count / non-numeric coords) drop out
        # instead of failing the ANSI cast — quarantine, not crash
        .where(F.col("row").rlike(r"^\s*(-?\d+\s*,\s*){8}.+"))
    )
    parts = F.split("row", ",", 9)  # limit keeps commas inside the label
    corners = F.transform(
        F.sequence(F.lit(0), F.lit(3)),
        lambda i: F.array(
            F.get(parts, i * 2).cast("double"), F.get(parts, i * 2 + 1).cast("double")
        ),
    )
    xs = F.transform(corners, lambda c: c[0])
    ys = F.transform(corners, lambda c: c[1])
    words = lines.select(
        F.concat(F.lit(f"{root}/images/"), F.col("stem"), F.lit(".jpg")).alias("img_path"),
        F.col("ord").cast("long").alias("ord"),
        (
            corners
            if use_polygons
            else F.array(F.array_min(xs), F.array_min(ys), F.array_max(xs), F.array_max(ys))
        ).alias("box"),
        parts[8].alias("label"),
    )
    return _assemble(words, use_polygons=False)


def load_ocr_dataset(
    spark: SparkSession, img_folder: str, label_file: str, use_polygons: bool = False
) -> DataFrame:
    """OCRDataset: ONE label file mapping img name -> {"typed_words":
    [{"geometry": [xmin,ymin,xmax,ymax,...], "value": str}]} (reference
    `doctr/datasets/ocr.py:34-71`); empty images keep an empty boxes row."""
    schema = T.MapType(
        T.StringType(),
        T.StructType(
            [
                T.StructField(
                    "typed_words",
                    T.ArrayType(
                        T.StructType(
                            [
                                T.StructField("geometry", T.ArrayType(T.DoubleType())),
                                T.StructField("value", T.StringType()),
                            ]
                        )
                    ),
                )
            ]
        ),
    )
    box = lambda g: F.slice(g, 1, 4)  # noqa: E731
    return (
        spark.read.text(label_file, wholetext=True)
        .select(F.explode(F.from_json("value", schema)).alias("img_name", "ann"))
        .select(
            F.concat(F.lit(f"{img_folder}/"), F.col("img_name")).alias("img_path"),
            F.transform(
                "ann.typed_words",
                lambda w: _xyxy_to_corners(box(w["geometry"])) if use_polygons else box(w["geometry"]),
            ).alias("boxes"),
            F.transform("ann.typed_words", lambda w: w["value"]).alias("labels"),
        )
    )


def load_svhn(
    spark: SparkSession, folder: str, train: bool = True, use_polygons: bool = False
) -> DataFrame:
    """SVHN loader (reference `doctr/datasets/svhn.py:82-127`, h5py
    replaced by the from-scratch HDF5 codec `kernels/hdf5.py`):
    ``digitStruct.mat`` is a MATLAB v7.3 = HDF5 file where
    ``/digitStruct/name`` holds object references to uint16 char matrices
    (the filenames) and ``/digitStruct/bbox`` references one group per
    image with height/left/top/width/label fields — each a (1,1) float64
    scalar for single-digit images or a column of object references to
    scalars for multi-digit ones (both branches, like the reference's
    ``box["left"].shape[0] == 1`` split). Boxes are [left, top, w, h] ->
    xyxy; labels are ``str(int(label))`` for parity (SVHN keeps '10' for
    the digit 0, and so does the reference)."""

    raw = spark.read.format("binaryFile").load(f"{folder}/digitStruct.mat").select("content")

    def fn(batches):
        import pandas as pd

        from ..kernels.hdf5 import H5File

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                f = H5File(bytes(blob))
                names = f["digitStruct/name"]
                bboxes = f["digitStruct/bbox"]
                for i in range(names.shape[0]):
                    img = "".join(map(chr, f.deref(names.data[i, 0]).data.flatten()))
                    box = f.deref(bboxes.data[i, 0])

                    def field(key):
                        ds = box[key]
                        if ds.is_ref:
                            return [int(f.deref(r).data.item()) for r in ds.data[:, 0]]
                        return [int(ds.data[0, 0])]

                    lefts, tops = field("left"), field("top")
                    widths, heights = field("width"), field("height")
                    labels = field("label")
                    for o, (x, y, bw, bh, lab) in enumerate(
                        zip(lefts, tops, widths, heights, labels)
                    ):
                        rows.append(
                            (
                                f"{folder}/{img}",
                                o,
                                [float(x), float(y), float(x + bw), float(y + bh)],
                                str(lab),
                            )
                        )
            yield pd.DataFrame(rows, columns=["img_path", "ord", "box", "label"])

    words = raw.mapInPandas(fn, "img_path string, ord long, box array<double>, label string")
    return _assemble(words, use_polygons)


def _mat_word_rows(spark: SparkSession, mat_path: str, parse_fn) -> DataFrame:
    """Parse one .mat annotation file into (img_path, ord, box, label)
    word rows. The file enters through the binaryFile source and is parsed
    in an EXECUTOR task (never the driver); the exploded word rows then
    shuffle into the standard ``_assemble`` path like every other loader.
    At real corpus scale (SynthText's gt.mat is ~400 MB for 858k pages)
    the parse is a one-time single task whose output is the distributed
    object — for repeated runs convert once to parquet."""

    raw = spark.read.format("binaryFile").load(mat_path).select("content")

    def fn(batches):
        import pandas as pd

        from ..kernels.matv5 import loadmat_bytes

        for pdf in batches:
            rows = []
            for blob in pdf["content"]:
                # parse rows are (img_path, ord, box, label) or, when the
                # annotation has true rotated corners, + a flattened 8-value
                # polygon (None pads the 4-tuple loaders)
                rows.extend(r if len(r) == 5 else (*r, None) for r in parse_fn(loadmat_bytes(bytes(blob))))
            yield pd.DataFrame(rows, columns=["img_path", "ord", "box", "label", "poly"])

    return raw.mapInPandas(
        fn, "img_path string, ord long, box array<double>, label string, poly array<double>"
    )


def load_synthtext(
    spark: SparkSession, folder: str, train: bool | None = None, use_polygons: bool = False
) -> DataFrame:
    """SynthText loader (reference `doctr/datasets/synthtext.py:91-118`,
    scipy.io replaced by the from-scratch MAT v5 codec
    `kernels/matv5.py`): ``gt.mat`` holds parallel cells ``imnames`` /
    ``wordBB`` (2 x 4 x M corner tensors, or 2 x 4 for a single word) /
    ``txt`` (char matrices whose whitespace-split rows are the word
    labels). ``train`` slices the reference's 90/10 split; None loads all.
    """
    import numpy as np

    def parse(mat):
        imnames, wordbb, txt = mat["imnames"], mat["wordBB"], mat["txt"]
        n_train = int(len(imnames) * 0.9)
        sl = slice(None) if train is None else (slice(n_train) if train else slice(n_train, None))
        rows = []
        for img, bb, t in zip(imnames[sl], wordbb[sl], txt[sl]):
            labels = [w for line in ([t] if isinstance(t, str) else t) for w in line.split()]
            bb = np.asarray(bb, dtype=float)
            # (M, 4, 2) corners in TL,TR,BR,BL order (synthtext.py:108-112)
            polys = bb.transpose(2, 1, 0) if bb.ndim == 3 else bb.transpose(1, 0)[None]
            boxes = np.concatenate((polys.min(axis=1), polys.max(axis=1)), axis=1)
            for o, (box, poly, label) in enumerate(zip(boxes, polys, labels)):
                rows.append(
                    (
                        f"{folder}/{img}",
                        o,
                        [float(v) for v in box],
                        label,
                        [float(v) for v in poly.reshape(-1)],
                    )
                )
        return rows

    return _assemble(_mat_word_rows(spark, f"{folder}/gt.mat", parse), use_polygons)


def load_iiit5k(
    spark: SparkSession, folder: str, train: bool = True, use_polygons: bool = False
) -> DataFrame:
    """IIIT5K character-level loader (reference
    `doctr/datasets/iiit5k.py:73-106` via the MAT v5 codec): a struct
    array (ImgName, chars, charBB) per image; each character's
    [x, y, w, h] box becomes xyxy and each char is one label."""
    import numpy as np

    var = "trainCharBound" if train else "testCharBound"

    def parse(mat):
        rows = []
        for rec in mat[var]:
            label = rec["chars"]
            boxes = np.asarray(rec["charBB"], dtype=float).reshape(-1, 4)
            for o, (box, ch) in enumerate(zip(boxes, label)):
                x, y, w, h = (float(v) for v in box)
                rows.append((f"{folder}/{rec['ImgName']}", o, [x, y, x + w, y + h], ch))
        return rows

    return _assemble(_mat_word_rows(spark, f"{folder}/{var}.mat", parse), use_polygons)
