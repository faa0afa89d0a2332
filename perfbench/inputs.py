"""Seeded benchmark inputs, generated once per (workload, seed) and cached.

Transcript tables come from `fixtures.transcripts.gen_conversation`, run in
a small forked process pool and written as several parquet files
with microsecond timestamps (Spark 4 rejects pandas' default nanosecond
INT64 timestamps with PARQUET_TYPE_ILLEGAL). The ground truth (`gt_text`
per payload turn) is written beside them.

A cache entry is complete once its `sizing.json` exists; that file is
written last, so an interrupted generation is redone on the next run.
"""

from __future__ import annotations

import json
import multiprocessing
import os
import shutil
from concurrent.futures import ProcessPoolExecutor

import pyarrow as pa
import pyarrow.parquet as pq

CHUNK_CONVS = 40  # conversations per generator task (one parquet file each)
TRANSCRIPT_COLS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
GT_COLS = ["conv_id", "turn_idx", "gt_text"]


def _gen_chunk(seed: int, first: int, n: int, payload_fraction: float) -> list[tuple[list, list]]:
    """(turn rows, ground-truth rows) of conversations first .. first+n-1."""
    from doctr_spark.fixtures.transcripts import gen_conversation

    out = []
    for conv_no in range(first, first + n):
        rows, gts, _ = gen_conversation(conv_no, seed=seed, payload_fraction=payload_fraction)
        out.append((rows, [{k: g[k] for k in GT_COLS} for g in gts]))
    return out


def _write(rows: list[dict], cols: list[str], path: str) -> int:
    table = pa.Table.from_pylist([{c: r[c] for c in cols} for r in rows])
    if "ts" in cols:
        table = table.set_column(
            table.schema.get_field_index("ts"), "ts", table.column("ts").cast(pa.timestamp("us"))
        )
    pq.write_table(table, path, coerce_timestamps="us")
    return os.path.getsize(path)


def _dir_bytes(path: str) -> int:
    return sum(e.stat().st_size for e in os.scandir(path) if e.is_file())


def transcripts(
    cache_dir: str,
    seed: int,
    payload_fraction: float,
    *,
    min_payload_turns: int = 0,
    min_turns: int = 0,
    workers: int = 4,
) -> dict:
    """Generate conversations 0, 1, ... of ``seed`` until the table holds
    ``min_payload_turns`` payload turns and ``min_turns`` turns; the target
    reached last is met exactly.
    Returns the cached sizing record, which names the two parquet dirs."""
    sizing_path = os.path.join(cache_dir, "sizing.json")
    if os.path.exists(sizing_path):
        with open(sizing_path) as f:
            return json.load(f)
    shutil.rmtree(cache_dir, ignore_errors=True)
    tdir, gdir = os.path.join(cache_dir, "transcripts"), os.path.join(cache_dir, "gt")
    os.makedirs(tdir)
    os.makedirs(gdir)

    def reached() -> bool:
        return n_convs > 0 and n_turns >= min_turns and n_payload >= min_payload_turns

    # conversations are taken in order and the last one is cut at the turn
    # that reaches the target, so every seed gives the same amount of work
    n_turns = n_payload = n_convs = n_files = 0
    # forked workers inherit the imported generator; the pool forks every
    # worker at the first submit, before this process starts any thread
    import doctr_spark.fixtures.transcripts  # noqa: F401

    ctx = multiprocessing.get_context("fork")
    with ProcessPoolExecutor(max_workers=workers, mp_context=ctx) as pool:
        while not reached():
            futs = [
                pool.submit(_gen_chunk, seed, n_convs + i * CHUNK_CONVS, CHUNK_CONVS, payload_fraction)
                for i in range(workers * 2)
            ]
            for fut in futs:
                convs = fut.result()  # read every future, keep what the target needs
                rows, gts = [], []
                for conv_rows, conv_gts in convs:
                    if reached():
                        break
                    conv_gt = {g["turn_idx"]: g for g in conv_gts}
                    for row in conv_rows:
                        if reached():
                            break
                        rows.append(row)
                        n_turns += 1
                        if row["turn_idx"] in conv_gt:
                            gts.append(conv_gt[row["turn_idx"]])
                            n_payload += 1
                    n_convs += 1
                if rows:
                    part = f"part-{n_files:05d}.parquet"
                    _write(rows, TRANSCRIPT_COLS, os.path.join(tdir, part))
                    if gts:
                        _write(gts, GT_COLS, os.path.join(gdir, part))
                    n_files += 1

    sizing = {
        "seed": seed,
        "conversations": n_convs,
        "turns": n_turns,
        "payload_turns": n_payload,
        "payload_fraction": payload_fraction,
        "input_bytes": _dir_bytes(tdir),
        "transcripts": tdir,
        "gt": gdir,
    }
    with open(sizing_path, "w") as f:
        json.dump(sizing, f)
    return sizing
