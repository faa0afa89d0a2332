"""Capture .explain('formatted') for the bench queries (and other declared
queries on request) into plans/r07/<name>_<stage>.txt. Capturing runs no
query: declared queries are built with their expectation write stubbed out.

Usage: python tools/capture_plans.py <stage, e.g. before|after> [query ...]
"""

from __future__ import annotations

import os
import sys
from unittest import mock

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
OUT_DIR = os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "plans", "r07")

# the five bench queries by default
DEFAULT = ["q1_ocr_documents", "q2_ocr_synthetic", "q3_dedup_minhash_lsh", "q4_similarity_topk", "q5_dedup_simhash"]

# capture name -> declared query builder in __spark_entry__
ENTRY_QUERIES = {
    "map_two_level": "metric_object_detection_map",
    "ocr_artefacts": "ocr_artefacts",
    "metric_localization": "metric_localization",
}


def build(name, spark):
    from doctr_spark.fixtures.transcripts import generate_transcripts
    from doctr_spark.io.sources import transcripts_from_documents
    from doctr_spark.operators import dedup, similarity
    from doctr_spark.operators.pipeline import extract_documents

    if name == "q1_ocr_documents":
        return extract_documents(transcripts_from_documents(spark, SF_DIR))
    if name == "q2_ocr_synthetic":
        return extract_documents(generate_transcripts(spark, 100))
    if name == "q3_dedup_minhash_lsh":
        return dedup.minhash_lsh_pairs(spark, SF_DIR)
    if name == "q4_similarity_topk":
        return similarity.cosine_topk(spark, SF_DIR)
    if name == "q5_dedup_simhash":
        return dedup.simhash(spark, SF_DIR)
    if name == "dedup_minhash":
        return dedup.minhash_signatures(spark, SF_DIR)
    if name == "ngram_jaccard":
        return dedup.ngram_jaccard_pairs(spark, SF_DIR)
    if name == "near_dup_pairs":
        return similarity.embedding_near_dups(spark, SF_DIR)
    if name in ENTRY_QUERIES:
        import __spark_entry__ as entry

        # the expectation parquet is for the oracle check, not the plan
        with mock.patch.object(entry, "_stage_expectation", lambda df, n: f"{entry.ORACLE_SCRATCH}/{n}"):
            return getattr(entry, ENTRY_QUERIES[name])(spark, SF_DIR)
    raise SystemExit(f"unknown query {name}")


def explain(name, spark) -> str:
    df = build(name, spark)
    return df._sc._jvm.PythonSQLUtils.explainString(df._jdf.queryExecution(), "formatted")


def main():
    stage = sys.argv[1]
    names = sys.argv[2:] or DEFAULT
    os.makedirs(OUT_DIR, exist_ok=True)
    from doctr_spark.session import get_spark

    spark = get_spark(master="local[8]", app_name="capture_plans", shuffle_partitions=16)
    spark.sparkContext.setLogLevel("ERROR")
    for name in names:
        plan = explain(name, spark)
        path = os.path.join(OUT_DIR, f"{name}_{stage}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan.splitlines())} lines)")
    spark.stop()


if __name__ == "__main__":
    main()
