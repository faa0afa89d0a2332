"""The benchmark's two workloads: inputs, the timed job, and the check of
its committed output against an independent reference.

Each job writes its output to a fresh directory; the check reads that
directory back (pyarrow, no Spark) outside the timed region and returns
(attempted, failed) units: payload turns for the extraction workloads
(missing, duplicated, extra or wrong text), and for `resume_dedup` also
one unit per bucket's manifest and one per near-dup query (value hash
against the query's DuckDB oracle).
"""

from __future__ import annotations

import json
import os
import sys
import time

import pyarrow.parquet as pq

import inputs
from tools.check_oracles import value_hash

# the near-dup queries' tables: `documents` and `embeddings` of the
# TPC-H-ish sf0.1 test data, copied unchanged
NEAR_DUP_DATA = os.path.join(os.path.dirname(os.path.abspath(__file__)), "data", "sf0.1")
NEAR_DUP_TABLES = ("documents", "embeddings")

N_BUCKETS = 16
WARM_BUCKETS = 2


def _read(path: str, columns: list[str]):
    return pq.read_table(path, columns=columns).to_pandas()


def check_turns(docs, gt) -> tuple[int, int]:
    """(attempted, failed) for extracted ``docs`` vs ground truth ``gt``,
    both DataFrames keyed by (conv_id, turn_idx). A turn fails when its row
    is missing, duplicated or has other text; every extra row fails too."""
    want = dict(zip(zip(gt["conv_id"], gt["turn_idx"]), gt["gt_text"]))
    seen: set = set()
    bad: set = set()
    extra = 0
    for key, text in zip(zip(docs["conv_id"], docs["turn_idx"]), docs["extracted_text"]):
        if key not in want:
            extra += 1
        elif key in seen or text != want[key]:
            bad.add(key)
        seen.add(key)
    missing = len(want.keys() - seen)
    return len(want), min(len(want), len(bad) + missing + extra)


def check_manifest(docs, manifest) -> int:
    """Failed buckets: each of the N_BUCKETS buckets needs exactly one
    `done` manifest row whose n_turns is the bucket's row count in
    ``docs``; a `done` row for an unknown bucket fails too."""
    done = manifest[manifest["status"] == "done"]
    rows = docs["bucket"].astype(int).value_counts().to_dict()
    failed = 0
    for b in range(N_BUCKETS):
        mine = done[done["bucket"] == b]
        if len(mine) != 1 or int(mine["n_turns"].iloc[0]) != rows.get(b, 0):
            failed += 1
    return failed + int((~done["bucket"].isin(range(N_BUCKETS))).sum())


class Extraction:
    """`mixed_payloads`: extract_documents(read_transcripts(path)) written
    to parquet."""

    name = "mixed_payloads"
    min_jobs = 5  # per run, however short --seconds is
    payload_fraction = 0.4
    size = {"min_payload_turns": 800}
    # enough turns to fill every task's batches: a smaller warm-up leaves
    # the first timed job ~10 % slower than the next
    warm_size = {"min_payload_turns": 160}

    def __init__(self, cache_dir: str, seed: int):
        self.sizing = inputs.transcripts(
            os.path.join(cache_dir, "main"), seed, self.payload_fraction, **self.size
        )
        self.warm_sizing = inputs.transcripts(
            os.path.join(cache_dir, "warm"), seed, self.payload_fraction, **self.warm_size
        )
        self._gt = None

    @property
    def units(self) -> int:
        """Payload turns of one job: the `turns_per_s` numerator."""
        return self.sizing["payload_turns"]

    @property
    def check_units(self) -> int:
        """Units one job's check attempts."""
        return self.sizing["payload_turns"]

    def payload_turns(self) -> list[tuple[str, int, str]]:
        from doctr_spark.fixtures.payloads import PAYLOAD_MARK

        t = _read(self.sizing["transcripts"], ["conv_id", "turn_idx", "text"])
        t = t[t["text"].str.contains(PAYLOAD_MARK, regex=False)]
        return list(zip(t["conv_id"], t["turn_idx"].astype(int), t["text"]))

    def gt(self):
        if self._gt is None:
            self._gt = _read(self.sizing["gt"], ["conv_id", "turn_idx", "gt_text"])
        return self._gt

    def job(self, spark, out: str, warm: bool = False) -> dict:
        from doctr_spark.io.sources import read_transcripts
        from doctr_spark.operators.pipeline import extract_documents

        src = (self.warm_sizing if warm else self.sizing)["transcripts"]
        extract_documents(read_transcripts(spark, src)).write.parquet(out)
        return {}

    def check(self, out: str) -> tuple[int, int]:
        return check_turns(_read(out, ["conv_id", "turn_idx", "extracted_text"]), self.gt())


class NearDup:
    """Minhash LSH pairs, cosine top-k and simhash over the sf0.1
    `documents` / `embeddings` tables, each written to parquet and checked
    by value hash against its DuckDB oracle. The tables are the same for
    every seed."""

    queries = (
        ("dedup.minhash_lsh", "dedup_minhash_lsh_pairs"),
        ("similarity.cosine_topk", "similarity_cosine_topk"),
        ("dedup.simhash", "dedup_simhash"),
    )

    def __init__(self, cache_dir: str):
        self.dir = NEAR_DUP_DATA
        paths = [os.path.join(self.dir, f"{t}.parquet") for t in NEAR_DUP_TABLES]
        self.sizing = {t: pq.ParquetFile(p).metadata.num_rows for t, p in zip(NEAR_DUP_TABLES, paths)}
        self.sizing["input_bytes"] = sum(os.path.getsize(p) for p in paths)
        self.oracle = self._oracle_hashes(os.path.join(cache_dir, "oracle.json"))

    def _oracle_hashes(self, path: str) -> dict:
        if os.path.exists(path):
            with open(path) as f:
                return json.load(f)
        import duckdb

        import __spark_entry__

        sql = __spark_entry__.oracle_sql()
        con = duckdb.connect()
        try:
            for t in NEAR_DUP_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{self.dir}/{t}.parquet'")
            hashes = {key: value_hash(con.execute(sql[key]).df()) for _, key in self.queries}
        finally:
            con.close()
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path + ".tmp", "w") as f:
            json.dump(hashes, f)
        os.replace(path + ".tmp", path)
        return hashes

    def run(self, spark, out: str) -> dict:
        """Seconds per query; each runs in job group `<group>.<query>`."""
        from doctr_spark.operators import dedup, similarity

        fns = {
            "dedup.minhash_lsh": dedup.minhash_lsh_pairs,
            "similarity.cosine_topk": similarity.cosine_topk,
            "dedup.simhash": dedup.simhash,
        }
        group = spark.sparkContext.getLocalProperty("spark.jobGroup.id")
        secs = {}
        for name, _ in self.queries:
            spark.sparkContext.setJobGroup(f"{group}.{name}", name)
            t0 = time.perf_counter()
            fns[name](spark, self.dir).write.parquet(os.path.join(out, name))
            spark.catalog.clearCache()  # the pair list is returned persisted
            secs[name] = time.perf_counter() - t0
        spark.sparkContext.setJobGroup(group, group)
        return secs

    def check(self, out: str) -> int:
        """Failed queries."""
        failed = 0
        for name, key in self.queries:
            got = pq.read_table(os.path.join(out, name)).to_pandas()
            failed += value_hash(got) != self.oracle[key]
        return failed


class ResumeDedup(Extraction):
    """`resume_dedup`: a prose-heavy table through
    `streaming.incremental.run_checkpointed` with 16 buckets, stopped after
    half of them and resumed to completion, then the near-dup queries."""

    name = "resume_dedup"
    min_jobs = 1  # a job is two checkpointed passes and three queries
    payload_fraction = 0.002
    size = {"min_turns": 25_000}
    warm_size = {"min_turns": 600, "min_payload_turns": 3}

    def __init__(self, cache_dir: str, seed: int):
        super().__init__(cache_dir, seed)
        self.near_dup = NearDup(os.path.join(cache_dir, "near_dup"))
        self.sizing = dict(self.sizing, near_dup=self.near_dup.sizing)

    @property
    def units(self) -> int:
        """All turns of one job: the checkpointed passes carry every turn
        through scan, filter and bucketing, and the few payload turns vary
        too much from seed to seed to count work by. The job's near-dup
        queries are in the `turns_per_s` denominator too: timed alone, the
        passes of a single job spread too much for the bound."""
        return self.sizing["turns"]

    @property
    def check_units(self) -> int:
        return self.sizing["payload_turns"] + N_BUCKETS + len(NearDup.queries)

    @staticmethod
    def dirs(out: str) -> tuple[str, str]:
        return os.path.join(out, "docs"), os.path.join(out, "manifest")

    def job(self, spark, out: str, warm: bool = False) -> dict:
        """Seconds of the two checkpointed passes and of each near-dup
        query."""
        from doctr_spark.io.sources import read_transcripts
        from doctr_spark.streaming.incremental import run_checkpointed

        docs_dir, manifest_dir = self.dirs(out)
        t0 = time.perf_counter()
        if warm:
            # one pass over a few buckets: a pass costs seconds even on a
            # small input, and the resume pass runs the same code
            transcripts = read_transcripts(spark, self.warm_sizing["transcripts"])
            run_checkpointed(spark, transcripts, docs_dir, manifest_dir, WARM_BUCKETS)
        else:
            n = N_BUCKETS
            transcripts = read_transcripts(spark, self.sizing["transcripts"])
            first = run_checkpointed(spark, transcripts, docs_dir, manifest_dir, n, fail_after=n // 2)
            rest = run_checkpointed(spark, transcripts, docs_dir, manifest_dir, n)
            if (first, rest) != (n // 2, n - n // 2):
                raise RuntimeError(f"passes processed {first} + {rest} buckets")
        extract_s = time.perf_counter() - t0
        # the warm-up runs the same queries too: the sf0.1 tables are small
        secs = self.near_dup.run(spark, os.path.join(out, "near_dup"))
        return dict(secs, **{"incremental.extract": extract_s})

    def check(self, out: str) -> tuple[int, int]:
        docs_dir, manifest_dir = self.dirs(out)
        docs = _read(docs_dir, ["conv_id", "turn_idx", "extracted_text", "bucket"])
        attempted, failed = check_turns(docs, self.gt())
        failed += check_manifest(docs, _read(manifest_dir, ["bucket", "status", "n_turns"]))
        failed += self.near_dup.check(os.path.join(out, "near_dup"))
        attempted += N_BUCKETS + len(NearDup.queries)
        return attempted, min(attempted, failed)


WORKLOADS = {w.name: w for w in (Extraction, ResumeDedup)}


if __name__ == "__main__":
    # python3 perfbench/workloads.py <workload> <cache dir> <seed>: generate
    # (or find cached) the inputs and reference of one workload and seed
    WORKLOADS[sys.argv[1]](sys.argv[2], int(sys.argv[3]))
