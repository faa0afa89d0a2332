"""`dedup.band_pairs`: the LSH bucket-size cap is inclusive at both ends,
and ids sharing several buckets give one pair."""

from itertools import combinations

from doctr_spark.operators.dedup import MAX_BUCKET, band_pairs


def _bucket(band, key, ids):
    return [(i, band, key) for i in ids]


def test_bucket_bounds_are_inclusive(spark):
    two = [10, 11]
    full = range(1000, 1000 + MAX_BUCKET)
    rows = (
        _bucket(0, "one", [1])
        + _bucket(0, "two", two)
        + _bucket(1, "two", two)  # the same ids share a second band
        + _bucket(0, "full", full)
        + _bucket(0, "over", range(5000, 5000 + MAX_BUCKET + 1))
    )
    bands = spark.createDataFrame(rows, "doc_id long, band int, band_key string")
    pairs = band_pairs(bands, "doc_id", "band_key")
    assert pairs.columns == ["doc_a", "doc_b"]
    got = [(r.doc_a, r.doc_b) for r in pairs.collect()]
    assert len(got) == len(set(got))
    assert set(got) == {(10, 11), *combinations(full, 2)}
    # the self-join ran on the window's exchange: one band shuffle, reused
    plan = pairs._jdf.queryExecution().executedPlan().toString()
    assert "ReusedExchange" in plan and "BroadcastExchange" not in plan
