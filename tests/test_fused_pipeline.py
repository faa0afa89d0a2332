"""Golden outputs of the extraction kernel.

Each case pins the sha256 of one entry point's sorted output rows on one
fixture family and option combination: every `extract_documents` option
the declared queries use, ``include_all_turns``, `kie_extract` and
`extract_pages`. The digests were taken while the fused kernel and the
former staged DataFrame chain were still proven equal row for row, so any
changed text, word count, page JSON or KIE prediction fails here. An
intended output change re-pins them: ``python tests/test_fused_pipeline.py``
prints the current digests.
"""

from __future__ import annotations

import hashlib
import inspect
import json
import pathlib

import pytest

from doctr_spark.operators.detect import detect_boxes
from doctr_spark.operators.kie import kie_extract
from doctr_spark.operators.multimodal import artefact_rows, layout_region_rows, media_metadata
from doctr_spark.operators.pipeline import decoded_turns, extract_documents, extract_pages

ENTRY_POINTS = {"docs": extract_documents, "kie": kie_extract, "pages": extract_pages}
# the page-level operators on the kernel's source and decode loop (`map_pages`)
PAGE_OPERATORS = [detect_boxes, artefact_rows, layout_region_rows, media_metadata]

# id -> (input, entry point, options, sha256 of the sorted output rows)
CASES = {
    "synthetic": ("synthetic", "docs", {},
        "d791b68517b0459ef29f8d1305515a32764108decf940656427f2cfa50a20ec4"),
    "documents": ("documents", "docs", {},
        "f2ed4182933155185734f9cfcb04bd6cbd8c4978f4c4c34b74b763a08ef4f891"),
    "skewed-straighten": ("skewed", "docs", {"straighten_pages": True},
        "d57690ced7bd51173520a70d0773cbd1581048917521eb382d0485d0979c2653"),
    "resampled-straighten": ("resampled", "docs", {"straighten_pages": True},
        "a4ee10c2417ae1163c75bc1d55e74365a67d4ce7da0632bb9b2cfafe1c89a9e0"),
    "rtl": ("rtl", "docs", {"reco_vocab": "rtl", "text_direction": "auto"},
        "4b6507dc0daf01172ace844e1df5076633b72b8dac321b95dfda79b2dea388d4"),
    "multicolumn-reading-order": ("multicolumn", "docs", {"keep_reading_order": True},
        "51d13653915e160fd4aa4129f68a52eac7c7577723bac82156adfde75a3360ae"),
    "multicolumn-no-furniture": (
        "multicolumn", "docs", {"keep_reading_order": True, "include_furniture": False},
        "95fcf30e6ff50659a796406e3b344ac71c467d42245953efaaa5e205cecf580f"),
    "accents": ("accents", "docs", {},
        "cff7f496312571151a005c437951bd2c2545b3a08a3157d00a737feb7c2e662d"),
    "pdf": ("pdf", "docs", {},
        "c99c1a54b77d92107134bf77ac9efd3caeb13d959f0f0cb54afb447f497d83e5"),
    "mask-picture": ("regions", "docs", {"mask_region_labels": ("picture",)},
        "a39742e712f6f38a2478b05dfa146bf7dca9a9afc725a4154f6d271dc5f7fcd9"),
    "no-crop-orientation": ("regions", "docs", {"detect_crop_orientation": False},
        "a39742e712f6f38a2478b05dfa146bf7dca9a9afc725a4154f6d271dc5f7fcd9"),
    "resolve-blocks": ("regions", "docs", {"resolve_blocks": True},
        "e6151564742bece3f1cf121abbaf3bdb70b529054caf88714ddeed997e034932"),
    "attention": ("regions", "docs", {"reco_arch": "attention"},
        "2bd2d2a5835fb5b5155ef239d1a56a2ee8323a5f9c767ffb3cc56ea15e3c8fa4"),
    "fast-like": ("regions", "docs", {"det_arch": "fast_like"},
        "e3a0c83dd12163729a6252aa0f0d4dafeee4b11bfe3c1cd54ec55b29393217b0"),
    "letterbox": ("regions", "docs", {"det_input_size": (256, 512)},
        "5d0b19bdb0e9302357da28fcf1686f790ea55013f2de2b86b15f839a631cf94c"),
    "include-all-turns": ("all_turns", "docs", {"include_all_turns": True},
        "14b34ebdef84c7d78bb5e6a5d8a874391dcdcb0e049d337cbb0efd6abec86d21"),
    "kie": ("kie_pages", "kie", {},
        "1d0caa4cdcbbca0a373267a3925282c0d5f649ee46a2cc41106580b46c22db64"),
    "pages": ("kie_pages", "pages", {},
        "c8ce62724f0776777a1b272cb99aa5c79717715987f88a9c883b9d25fb84b39c"),
}  # fmt: skip


def _inputs(spark) -> dict:
    from doctr_spark.fixtures.accents import generate_accented_transcripts
    from doctr_spark.fixtures.multicolumn import generate_multicolumn_transcripts
    from doctr_spark.fixtures.pdfdocs import generate_pdf_transcripts
    from doctr_spark.fixtures.regions import generate_region_transcripts
    from doctr_spark.fixtures.resample import generate_resampled_transcripts
    from doctr_spark.fixtures.rtl import generate_rtl_transcripts
    from doctr_spark.fixtures.skew import generate_skewed_transcripts
    from doctr_spark.fixtures.transcripts import generate_transcripts
    from doctr_spark.io.sources import transcripts_from_documents
    from test_entry_contract import SF_DIR  # the sf0.001 test tables (TESTDATA.md)

    return {
        "synthetic": lambda: generate_transcripts(spark, 40),
        "documents": lambda: transcripts_from_documents(spark, SF_DIR),
        "skewed": lambda: generate_skewed_transcripts(spark, 10),
        "resampled": lambda: generate_resampled_transcripts(spark, 6),
        "rtl": lambda: generate_rtl_transcripts(spark, 8),
        "multicolumn": lambda: generate_multicolumn_transcripts(spark, 8),
        "accents": lambda: generate_accented_transcripts(spark, 8),
        "pdf": lambda: generate_pdf_transcripts(spark, 12),
        "regions": lambda: generate_region_transcripts(spark, 6),
        "all_turns": lambda: generate_transcripts(spark, 20),
        "kie_pages": lambda: generate_transcripts(spark, 30),
    }


def digest(df) -> str:
    """sha256 of the output rows, each as JSON, sorted."""
    lines = sorted(json.dumps(list(r), sort_keys=True) for r in df.collect())
    return hashlib.sha256("\n".join(lines).encode()).hexdigest()


def _run(tdf, case: str):
    _, entry, options, _ = CASES[case]
    return ENTRY_POINTS[entry](tdf, **options)


@pytest.fixture(scope="module")
def inputs(spark):
    makers, cache = _inputs(spark), {}

    def get(name):
        if name not in cache:
            cache[name] = makers[name]().persist()
        return cache[name]

    yield get
    for df in cache.values():
        df.unpersist()


@pytest.mark.parametrize("case", list(CASES))
def test_golden_output(inputs, case):
    name, _, _, want = CASES[case]
    assert digest(_run(inputs(name), case)) == want


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_default_exchange_is_aqe_sized(inputs):
    """The de-skew exchange is a by-column repartition that AQE may
    coalesce, with the golden output; the output does not depend on the
    task count: 32 uncoalesced shuffle partitions give the same digest."""
    tdf = inputs("synthetic")
    docs = extract_documents(tdf)
    plan = _plan(docs)
    assert "hashpartitioning(xxhash64(conv_id#" in plan, plan
    assert "REPARTITION_BY_COL" in plan and "REPARTITION_BY_NUM" not in plan, plan
    assert digest(docs) == CASES["synthetic"][3]

    conf = tdf.sparkSession.conf
    keys = ("spark.sql.shuffle.partitions", "spark.sql.adaptive.coalescePartitions.enabled")
    saved = [conf.get(k) for k in keys]
    conf.set(keys[0], "32")
    conf.set(keys[1], "false")
    try:
        fine = extract_documents(tdf)
        assert fine.rdd.getNumPartitions() == 32
        assert digest(fine) == CASES["synthetic"][3]
    finally:
        for k, v in zip(keys, saved, strict=True):
            conf.set(k, v)


def test_small_input_runs_few_python_tasks(spark):
    """One payload turn runs its Arrow stage in one task: AQE coalesces the
    exchange instead of keeping a task per shuffle partition (or the former
    8 per core), each paying a Python worker's fixed setup cost."""
    import pandas as pd

    from doctr_spark.fixtures.transcripts import gen_conversation

    turn = next(t for t in gen_conversation(0)[0] if "<doc:" in t["text"])
    tdf = spark.createDataFrame(pd.DataFrame([turn])[["conv_id", "turn_idx", "text"]])
    rdd = extract_documents(tdf).rdd  # the adaptive plan's final partitions
    assert rdd.count() == 1
    assert rdd.getNumPartitions() == 1 < spark.sparkContext.defaultParallelism * 8


def test_session_shuffle_partitions_grow_with_cores(spark, monkeypatch):
    """AQE only merges partitions, so ``spark.sql.shuffle.partitions`` caps
    the AQE-sized extraction stage: `get_spark` defaults it to at least
    2x cores, and an explicit count or ``extra_conf`` entry still wins."""
    from doctr_spark import session

    key = "spark.sql.shuffle.partitions"
    cores = spark.sparkContext.defaultParallelism
    monkeypatch.setattr(session, "DEFAULT_SHUFFLE_PARTITIONS", 1)
    try:
        assert session.get_spark(master="local[4]").conf.get(key) == str(2 * cores)
        assert session.get_spark(master="local[4]", shuffle_partitions=3).conf.get(key) == "3"
        assert session.get_spark(master="local[4]", extra_conf={key: "5"}).conf.get(key) == "5"
    finally:
        spark.conf.set(key, "4")  # the shared test session's count


def test_crop_flush_keeps_output(monkeypatch):
    """Recognizing pending crops every 64 crops instead of once per task
    changes no output byte (recognition is per crop). Spark-free: the
    kernel runs in-process on one Arrow-batch-sized frame."""
    import pandas as pd

    from doctr_spark.fixtures.transcripts import gen_conversation
    from doctr_spark.operators import pipeline

    turns = [t for c in range(6) for t in gen_conversation(c)[0] if "<doc:" in t["text"]]
    pdf = pd.DataFrame(turns)[["conv_id", "turn_idx", "text"]]

    recognize, calls = pipeline.recognize_crop_arrays, []
    monkeypatch.setattr(
        pipeline, "recognize_crop_arrays", lambda *a: calls.append(1) or recognize(*a)
    )

    def run() -> tuple[str, int]:
        calls.clear()
        kernel = pipeline.make_kernel(pipeline.DOCUMENT_SINK, pipeline.KernelOptions())
        out = pd.concat(list(kernel(iter([pdf]))), ignore_index=True)
        return out.to_json(orient="records"), len(calls)

    monkeypatch.setattr(pipeline, "CROP_FLUSH", 10**9)
    whole, n_whole = run()
    monkeypatch.setattr(pipeline, "CROP_FLUSH", 64)
    flushed, n_flushed = run()
    assert n_whole == 1 and n_flushed > 2
    assert flushed == whole


def test_fused_quarantines_corrupt_payloads(spark):
    import pandas as pd

    rows = pd.DataFrame(
        {
            "conv_id": ["c0", "c0"],
            "turn_idx": [0, 1],
            "role": ["user", "user"],
            "text": ["<doc:img>not-base64!!</doc:img>", "prose only"],
            "tool": [None, None],
            "ts": [pd.Timestamp("2024-01-01")] * 2,
        }
    )
    tdf = spark.createDataFrame(rows)
    for entry in ENTRY_POINTS.values():
        assert entry(tdf).count() == 0, entry.__name__


def test_page_operators_quarantine_corrupt_payloads(spark):
    """The page operators share the kernel's decode loop: the corrupt turn
    yields no row from any of them, and a good turn beside it still yields
    its rows (a word, a photo, its layout regions, one metadata row)."""
    import datetime as dt

    import numpy as np

    from doctr_spark.config import PAGE_H, PAGE_W
    from doctr_spark.fixtures.payloads import make_img_payload
    from doctr_spark.kernels.artefacts import draw_artefact
    from doctr_spark.kernels.glyphs import draw_word

    canvas = np.zeros((PAGE_H, PAGE_W), np.uint8)
    draw_word(canvas, 32, 32, "hello")
    draw_artefact(canvas, "photo", 100, 100, 80, 60)
    ts = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)
    tdf = spark.createDataFrame(
        [
            ("c0", 0, "user", "<doc:img>not-base64!!</doc:img>", None, ts),
            ("c0", 1, "user", "prose only", None, ts),
            ("c1", 0, "user", make_img_payload(canvas), None, ts),
        ],
        "conv_id string, turn_idx int, role string, text string, tool string, ts timestamp",
    )
    for op in PAGE_OPERATORS:
        keys = {(r["conv_id"], r["turn_idx"]) for r in op(tdf).collect()}
        assert keys == {("c1", 0)}, op.__name__


def _plan_nodes(node):
    """The physical plan's nodes, through AQE's wrapper."""
    if node.nodeName() == "AdaptiveSparkPlan":
        node = node.executedPlan()
    yield node
    kids = node.children()
    for i in range(kids.size()):
        yield from _plan_nodes(kids.apply(i))


@pytest.mark.parametrize("op", PAGE_OPERATORS, ids=lambda op: op.__name__)
def test_page_operator_is_one_arrow_stage(inputs, op):
    """A page operator is one `MapInPandas` over the kernel's AQE-sized
    ``xxhash64(conv_id, turn_idx)`` exchange, and no page travels as a
    binary column between stages."""
    df = op(inputs("synthetic"))
    plan = _plan(df)
    above, exchange = plan.split("Exchange hashpartitioning(xxhash64(conv_id#", 1)
    assert above.count("MapInPandas") == 1, plan
    assert "REPARTITION_BY_COL" in exchange.splitlines()[0], plan
    root = df._jdf.queryExecution().executedPlan()
    schemas = [n.schema().simpleString() for n in _plan_nodes(root)]
    assert not [s for s in schemas if ":binary" in s], schemas


def test_decode_payload_has_one_call_site():
    """Every payload query reads payloads through the one decode loop."""
    ops = pathlib.Path(__file__).resolve().parents[1] / "doctr_spark" / "operators"
    total = sum(p.read_text().count("decode_payload(") for p in ops.rglob("*.py"))
    assert total == inspect.getsource(decoded_turns).count("decode_payload(") == 1


if __name__ == "__main__":
    from doctr_spark.session import get_spark

    spark = get_spark(master="local[4]", app_name="golden_digests", shuffle_partitions=4)
    spark.sparkContext.setLogLevel("ERROR")
    makers = _inputs(spark)
    for case, (name, _, _, want) in CASES.items():
        got = digest(_run(makers[name](), case))
        print(f"{case}: {got}{'' if got == want else '  (changed)'}")
    spark.stop()
