"""Self-test of the benchmark's output checks and kernel driver, no Spark.

    python3 perfbench/selftest.py

Correct output must pass every check, and one corrupted, duplicated,
missing or extra row, one wrong manifest row, or one changed oracle-checked
value must make the failure count non-zero. The Spark-free kernel driver
must reproduce the ground truth on a few generated payload turns.
"""

from __future__ import annotations

import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))


def _expect(label: str, got, want) -> int:
    ok = got == want
    print(f"{'ok  ' if ok else 'FAIL'} {label}: {got} (want {want})")
    return 0 if ok else 1


def main() -> int:
    import pandas as pd

    import kernel
    from doctr_spark.fixtures.transcripts import gen_conversation
    from tools.check_oracles import value_hash
    from workloads import N_BUCKETS, check_manifest, check_turns

    rows, gts = [], []
    for conv_no in range(6):
        r, g, _ = gen_conversation(conv_no, seed=3)
        rows += r
        gts += g
    gt = pd.DataFrame(gts)[["conv_id", "turn_idx", "gt_text"]]
    docs = gt.rename(columns={"gt_text": "extracted_text"})
    n = len(gt)
    bad = 0

    bad += _expect("correct output", check_turns(docs, gt), (n, 0))
    wrong = docs.copy()
    wrong.loc[0, "extracted_text"] += "x"
    bad += _expect("one corrupted row", check_turns(wrong, gt), (n, 1))
    bad += _expect("one duplicated row", check_turns(pd.concat([docs, docs.iloc[:1]]), gt), (n, 1))
    bad += _expect("one missing row", check_turns(docs.iloc[1:], gt), (n, 1))
    extra = pd.DataFrame([{"conv_id": "nope", "turn_idx": 0, "extracted_text": ""}])
    bad += _expect("one extra row", check_turns(pd.concat([docs, extra]), gt), (n, 1))

    bucketed = docs.assign(bucket=[i % N_BUCKETS for i in range(n)])
    counts = bucketed["bucket"].value_counts()
    manifest = pd.DataFrame(
        [{"bucket": b, "status": "done", "n_turns": int(counts.get(b, 0))} for b in range(N_BUCKETS)]
    )
    bad += _expect("correct manifest", check_manifest(bucketed, manifest), 0)
    bad += _expect("one duplicated manifest row", check_manifest(bucketed, pd.concat([manifest, manifest.iloc[:1]])), 1)
    miscount = manifest.copy()
    miscount.loc[3, "n_turns"] += 1
    bad += _expect("one miscounted bucket", check_manifest(bucketed, miscount), 1)

    pairs = pd.DataFrame({"doc_a": [1, 2, 5], "doc_b": [4, 3, 9]})
    bad += _expect("hash ignores row order", value_hash(pairs.iloc[::-1]) == value_hash(pairs), True)
    changed = pairs.copy()
    changed.loc[1, "doc_b"] = 7
    bad += _expect("hash sees one changed value", value_hash(changed) == value_hash(pairs), False)

    turns = [(r["conv_id"], r["turn_idx"], r["text"]) for r in rows if "<doc:" in r["text"]]
    _, texts = kernel.run(turns, batch_turns=4)
    want = dict(zip(zip(gt["conv_id"], gt["turn_idx"]), gt["gt_text"]))
    bad += _expect("kernel driver turns equal to reference", sum(texts.get(k) == v for k, v in want.items()), n)
    print("selftest", "FAILED" if bad else "passed")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
