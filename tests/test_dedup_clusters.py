"""Connected-components (large-star/small-star) unit tests.

The round bound is the point: a chain-shaped duplicate component must
converge in O(log n) rounds, not O(diameter) — the failure mode of naive
min-label propagation.
"""

import math

from pyspark.sql import functions as F

from doctr_spark.operators.dedup import connected_components


def _pairs(spark, edges):
    return spark.createDataFrame(edges, "doc_a long, doc_b long")


def _labels(df):
    return {r["doc_id"]: r["cluster_id"] for r in df.collect()}


def test_path_graph_converges_logarithmically(spark):
    n = 50
    pairs = _pairs(spark, [(i, i + 1) for i in range(n - 1)])
    labels, rounds = connected_components(pairs)
    assert _labels(labels) == {i: 0 for i in range(n)}
    assert rounds <= math.ceil(math.log2(n)) + 1  # 7 for n=50


def test_two_components_and_clique(spark):
    # component A: triangle {1,2,3}; component B: chain 10-11-12-13; C: pair {20,21}
    pairs = _pairs(
        spark,
        [(1, 2), (2, 3), (1, 3), (10, 11), (11, 12), (12, 13), (20, 21)],
    )
    labels, _ = connected_components(pairs)
    assert _labels(labels) == {
        1: 1, 2: 1, 3: 1,
        10: 10, 11: 10, 12: 10, 13: 10,
        20: 20, 21: 20,
    }


def test_empty_pairs(spark):
    pairs = _pairs(spark, []).where(F.lit(False))
    labels, rounds = connected_components(pairs)
    assert labels.count() == 0
    assert rounds <= 2


def test_star_already(spark):
    pairs = _pairs(spark, [(0, i) for i in range(1, 8)])
    labels, rounds = connected_components(pairs)
    assert _labels(labels) == {i: 0 for i in range(8)}
    assert rounds <= 3
