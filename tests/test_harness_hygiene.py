"""Harness-hygiene guarantees (VERDICT r4 item 6): stale archive scratch is
cleared per dataset, the evaluate CLI survives a relative img_folder, the
pair-list operators and the plan capture tool start no query job, and
every engine name has a caller outside the tests."""

import ast
import glob
import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

SF = "/root/testdata/sf0.001"


def test_dataset_loaders_clears_stale_archives(spark):
    """A leftover annotation from a prior run with different parameters must
    not leak into the loaded rows: dataset_loaders rmtrees each dataset's
    scratch before fabricating."""
    import __spark_entry__ as entry

    base = f"{entry.ORACLE_SCRATCH}/.archives/funsd/dataset/training_data"
    os.makedirs(f"{base}/annotations", exist_ok=True)
    os.makedirs(f"{base}/images", exist_ok=True)
    # plant a stale annotated image that the glob-based loader WOULD pick up
    stale = {"form": [{"text": "stale", "box": [0, 0, 9, 9], "label": "other", "id": 0,
                       "words": [{"text": "stalely", "box": [1, 1, 8, 8]}]}]}
    with open(f"{base}/annotations/zzz_stale.json", "w") as f:
        json.dump(stale, f)
    open(f"{base}/images/zzz_stale.png", "wb").close()

    df = entry.dataset_loaders(spark, SF)
    rows = df.collect()
    assert len(rows) == 36  # 6 datasets x 6 fabricated images, no stragglers
    assert not any("zzz_stale" in r.img_path for r in rows)
    assert not any("stalely" in r.labels_cat for r in rows)


def test_evaluate_accepts_relative_img_folder(spark, tmp_path, monkeypatch):
    """The metrics join keys absolute binaryFile paths against the label
    table's img_path; a relative img_folder must be normalized, not
    silently miss every join (null metrics)."""
    from doctr_spark.fixtures.archives import fabricate_ocr_rendered
    from tools.evaluate import evaluate

    root = tmp_path / "ds"
    fabricate_ocr_rendered(str(root), n_imgs=3)
    monkeypatch.chdir(tmp_path)
    out = evaluate(spark, "ds/images", str(root / "labels.json"))
    assert out["n_images"] == 3
    for k in ("exact_rate", "caseless_rate", "recall", "precision", "mean_iou"):
        assert out[k] is not None and out[k] == pytest.approx(1.0, abs=0.2)


def _jobs_started(spark, group, fn):
    """``fn()`` and the number of Spark jobs it started, counted in a fresh
    job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize(
    "op, table",
    [
        ("dedup.minhash_lsh_pairs", "documents"),
        ("dedup.ngram_jaccard_pairs", "documents"),
        ("similarity.embedding_near_dups", "embeddings"),
    ],
)
def test_pair_lists_build_lazily(spark, op, table):
    """Building a pair list starts no more jobs than reading its input's
    schema: the bucket and document-frequency caps are windows inside the
    plan, so there is no eager persist, count or broadcast key set, and the
    frame is not cached."""
    import importlib

    from pyspark import StorageLevel

    module, name = op.split(".")
    fn = getattr(importlib.import_module(f"doctr_spark.operators.{module}"), name)
    _, read_jobs = _jobs_started(spark, f"read-{op}", lambda: spark.read.parquet(f"{SF}/{table}.parquet"))
    df, build_jobs = _jobs_started(spark, f"build-{op}", lambda: fn(spark, SF))
    assert build_jobs <= read_jobs
    assert df.storageLevel == StorageLevel.NONE
    # size-based broadcasts of the tiny test tables are off, so a
    # BroadcastExchange here can only come from the operator itself
    key = "spark.sql.autoBroadcastJoinThreshold"
    threshold = spark.conf.get(key)
    spark.conf.set(key, "-1")
    try:
        plan = df._jdf.queryExecution().executedPlan().toString()
    finally:
        spark.conf.set(key, threshold)
    assert "Window" in plan and "BroadcastExchange" not in plan


def test_plan_capture_runs_no_query(spark):
    """`tools/capture_plans.py` only plans: a declared query's expectation
    write is stubbed, and the q3 pair list starts nothing beyond its input's
    schema read."""
    from tools import capture_plans

    sf = capture_plans.SF_DIR
    _, read_jobs = _jobs_started(spark, "capture-read", lambda: spark.read.parquet(f"{sf}/documents.parquet"))
    for name, most in (("ocr_artefacts", 0), ("q3_dedup_minhash_lsh", read_jobs)):
        plan, jobs = _jobs_started(spark, f"capture-{name}", lambda: capture_plans.explain(name, spark))
        assert plan and jobs <= most, (name, jobs)


# engine names that only tests reach, each kept on purpose
TEST_ONLY_ALLOWED = {
    "fabricate_ocr_rendered": "input archive of the tools/evaluate.py tests",
    "rotate_points_shear": "test oracle: exact pixel map of rotate_image_shear",
    "recognize_crop": "test oracle: the per-crop path the batched recognizer must match",
    "ocr_predictor": "public entry point (README quick start)",
    "kie_predictor": "public entry point beside ocr_predictor (doctr.models.kie_predictor parity)",
    "ArtefactDetector": "public facade (doctr.contrib.artefacts.ArtefactDetector parity)",
    "estimate_orientation": "public API (doctr.models._utils.estimate_orientation parity)",
    "extract_rcrops": "public API (doctr.utils.geometry.extract_rcrops parity)",
    "remap_boxes": "public API (doctr.utils.geometry.remap_boxes parity)",
    "rotate_abs_geoms": "public API (doctr.utils.geometry.rotate_abs_geoms parity)",
    "resolve_enclosing_rbbox": "public API (doctr.utils.geometry.resolve_enclosing_rbbox parity)",
    "resize_target": "public API (PreProcessor target resize parity)",
    "remove_padding_boxes": "public API (PreProcessor unpad parity)",
    "batch_inputs": "public API (PreProcessor.batch_inputs parity)",
    "normalize_batch": "public API (PreProcessor normalization parity)",
}


def _top_level_names(tree: ast.Module) -> list[tuple[str, ast.stmt]]:
    """Top-level functions, classes and UPPER_CASE constants of a module."""
    out = []
    for node in tree.body:
        if isinstance(node, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
            out.append((node.name, node))
        elif isinstance(node, (ast.Assign, ast.AnnAssign)):
            targets = node.targets if isinstance(node, ast.Assign) else [node.target]
            out += [(t.id, node) for t in targets if isinstance(t, ast.Name) and t.id.isupper()]
    return out


def _references(tree: ast.Module) -> list[tuple[str, int]]:
    """(name, line) of every load, attribute access or identifier-shaped
    string constant (a function named by string, as perfbench's kernel
    contract does)."""
    out = []
    for node in ast.walk(tree):
        if isinstance(node, ast.Name):
            out.append((node.id, node.lineno))
        elif isinstance(node, ast.Attribute):
            out.append((node.attr, node.lineno))
        elif isinstance(node, ast.Constant) and isinstance(node.value, str) and node.value.isidentifier():
            out.append((node.value, node.lineno))
    return out


def _test_only_names(root: str) -> dict[str, str]:
    """Engine top-level names with no reference outside their own
    definition in the engine, tools, perfbench, the bench drivers or the
    driver entry; package ``__init__`` re-exports do not count."""

    def sources(*patterns):
        return sorted(p for pat in patterns for p in glob.glob(os.path.join(root, pat), recursive=True))

    engine = sources("doctr_spark/**/*.py")
    callers = engine + sources("tools/**/*.py", "perfbench/**/*.py", "bench*.py", "__spark_entry__.py")
    trees = {p: ast.parse(open(p).read(), p) for p in callers}
    refs: dict[str, list[tuple[str, int]]] = {}
    for p in callers:
        if os.path.basename(p) != "__init__.py":
            for name, line in _references(trees[p]):
                refs.setdefault(name, []).append((p, line))
    spans: dict[str, list[tuple[str, int, int]]] = {}
    for p in engine:
        for name, node in _top_level_names(trees[p]):
            spans.setdefault(name, []).append((p, node.lineno, node.end_lineno))
    return {
        name: f"{os.path.relpath(own[0][0], root)}:{own[0][1]}"
        for name, own in spans.items()
        if all(any(p == q and a <= line <= b for q, a, b in own) for p, line in refs.get(name, []))
    }


def test_engine_names_have_a_non_test_caller():
    """Code that only tests reach is dead weight the engine carries: every
    top-level engine name needs a caller outside tests/, or an entry with
    its reason in TEST_ONLY_ALLOWED. A stale entry fails too."""
    unused = _test_only_names(ROOT)
    unlisted = {n: at for n, at in unused.items() if n not in TEST_ONLY_ALLOWED}
    stale = sorted(set(TEST_ONLY_ALLOWED) - set(unused))
    assert not unlisted, f"engine names with no non-test caller: {unlisted}"
    assert not stale, f"allowlisted names that now have a caller or are gone: {stale}"
    assert all(TEST_ONLY_ALLOWED.values())
