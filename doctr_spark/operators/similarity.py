"""Similarity search over the `embeddings` table (array<float> column).

* `cosine_topk` — brute-force cosine top-k per query vector: the exactness
  baseline. All math is native Spark (`zip_with` + `aggregate` fold), no
  Python; the fold is left-to-right sequential, matching DuckDB's
  `list_dot_product` evaluation so the oracle hashes agree (scores rounded
  to 6dp as belt-and-braces).
* `lsh_bucket_ann` / `embedding_near_dups` — the scale path: BANDED
  multi-probe sign LSH (`NEAR_DUP_BANDS` bands of `NEAR_DUP_BITS` sign bits
  each, covering all dimensions). A vector lands in one bucket per band;
  candidates are pairs sharing ANY band bucket — the union of b equi-joins,
  expressed as one equi-join on the exploded (band, key) table. Versus the
  round-1 single 8-bit probe this multiplies recall (1-(1-p^r)^b vs p^8)
  and splits hot buckets across bands. `dedup.band_pairs` drops buckets
  larger than `MAX_BUCKET` before pair expansion (no quadratic blow-up);
  the band table carries ids only (embeddings are re-joined after the
  DISTINCT candidate set), keeping the shuffled rows narrow at scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F  # noqa: N812

from .dedup import MAX_BUCKET, band_pairs, connected_components

N_QUERIES = 5
TOP_K = 10
NEAR_DUP_BANDS = 8  # bands ...
NEAR_DUP_BITS = 8  # ... of sign bits each: 8 x 8 covers all 64 dims
NEAR_DUP_COS = 0.4


def _emb(spark: SparkSession, sf_dir: str) -> DataFrame:
    # deliberately NOT behind io.sources.scan_parallel: the cosine/band-key
    # map side over a one-split local embeddings table is ~0.5 s, while the
    # guard's round-robin exchange adds a whole extra stage whose first-run
    # codegen costs more (interleaved A/B, q4 cold: 3.0 s guarded vs 0.9
    # unguarded; warm a wash) — and there is no aggregation key to fold the
    # exchange into (the top-k window partitions by the 5 query ids, which
    # would skew). At scale the embeddings scan splits naturally.
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    )


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a: Column) -> Column:
    return F.sqrt(_dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return F.round(_dot(a, b) / (_norm(a) * _norm(b)), 6)


def cosine_topk(spark: SparkSession, sf_dir: str, n_queries: int = N_QUERIES, k: int = TOP_K) -> DataFrame:
    """Brute-force exact top-k: broadcast the tiny query set against the
    full corpus (a classic broadcast nested-loop that AQE keeps map-side)."""
    emb = _emb(spark, sf_dir)
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    scored = (
        emb.crossJoin(F.broadcast(queries))
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cosine(F.col("q"), F.col("embedding")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def _band_keys(col: Column, bands: int = NEAR_DUP_BANDS, bits: int = NEAR_DUP_BITS) -> Column:
    """array<int> of per-band sign-bucket keys (band i over dims [i*r, (i+1)*r))."""
    keys = []
    for band in range(bands):
        k = F.lit(0)
        for d in range(bits):
            k = k + F.when(
                F.element_at(col, band * bits + d + 1) >= 0, F.shiftleft(F.lit(1), d)
            ).otherwise(0)
        keys.append(k.cast("int"))
    return F.array(*keys)


def _banded(emb: DataFrame) -> DataFrame:
    """(vec_id, band, bkey) — one row per vector per band, ids only."""
    return emb.select(
        "vec_id", F.posexplode(_band_keys(F.col("embedding"))).alias("band", "bkey")
    )


def lsh_bucket_ann(spark: SparkSession, sf_dir: str, n_queries: int = N_QUERIES, k: int = TOP_K) -> DataFrame:
    """Approximate top-k: candidates = vectors sharing >= 1 band bucket with
    the query (multi-probe union), then exact cosine rank within them."""
    emb = _emb(spark, sf_dir)
    banded = _banded(emb)
    queries = emb.where(F.col("vec_id") < n_queries)
    qbanded = _banded(queries).withColumnRenamed("vec_id", "query_id")
    cands = (
        banded.join(F.broadcast(qbanded), ["band", "bkey"])
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id")
        .distinct()
    )
    scored = (
        cands.join(emb, "vec_id")
        .join(
            F.broadcast(queries.select(F.col("vec_id").alias("query_id"), F.col("embedding").alias("q"))),
            "query_id",
        )
        .select("query_id", "vec_id", cosine(F.col("q"), F.col("embedding")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def embedding_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate vector pairs (cos >= ``NEAR_DUP_COS``) via banded
    multi-probe sign LSH: only equi-joins on (band, key); oversized buckets
    skipped (:func:`dedup.band_pairs`). A lazy plan: a caller that reads
    the pair list twice checkpoints it itself (:func:`near_dup_report`)."""
    emb = _emb(spark, sf_dir)
    pairs = band_pairs(_banded(emb), "vec_id", "bkey")
    return (
        pairs.join(emb.select(F.col("vec_id").alias("vec_a"), F.col("embedding").alias("ea")), "vec_a")
        .join(emb.select(F.col("vec_id").alias("vec_b"), F.col("embedding").alias("eb")), "vec_b")
        .select("vec_a", "vec_b", cosine(F.col("ea"), F.col("eb")).alias("cos"))
        .where(F.col("cos") >= NEAR_DUP_COS)
    )


IVF_MOD = 40  # deterministic centroid sampling: vec_id % IVF_MOD == IVF_OFFSET
IVF_OFFSET = 7
NPROBE = 4
# above this many centroids the constant-folded literal stops being the
# right plan (codegen expression size grows linearly with k); the argmax
# moves into an Arrow-batched kernel over an sc.broadcast matrix instead
IVF_LITERAL_MAX = 256


def _assign_lists_broadcast(emb: DataFrame, cent_rows) -> DataFrame:
    """Large-k list assignment: Arrow-batched argmax over an ``sc.broadcast``
    centroid matrix — still map-side (no shuffle, no row multiplication),
    one BLAS matmul per batch. Bit-compatible with the literal path: the
    cosine rounds to 6dp before the argmax and ties break to the smallest
    centroid_id (centroids are kept in ascending-id order, so numpy's
    first-max argmax applies the same tie-break)."""
    import numpy as np
    import pandas as pd

    rows = sorted(cent_rows, key=lambda r: int(r["centroid_id"]))
    cids = np.asarray([int(r["centroid_id"]) for r in rows], dtype=np.int64)
    mat = np.asarray([list(r["cvec"]) for r in rows], dtype=np.float64)
    mat_n = mat / np.linalg.norm(mat, axis=1, keepdims=True)
    bc = emb.sparkSession.sparkContext.broadcast((cids, mat_n))

    def fn(batches):
        b_cids, b_mat = bc.value
        for pdf in batches:
            if len(pdf) == 0:
                continue
            v = np.asarray(pdf["embedding"].tolist(), dtype=np.float64)
            vn = v / np.linalg.norm(v, axis=1, keepdims=True)
            cos = np.round(vn @ b_mat.T, 6)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "embedding": pdf["embedding"],
                    "list_id": b_cids[cos.argmax(axis=1)],
                }
            )

    return emb.mapInPandas(fn, "vec_id bigint, embedding array<double>, list_id bigint")


def ivf_ann(
    spark: SparkSession,
    sf_dir: str,
    n_queries: int = N_QUERIES,
    k: int = TOP_K,
    nprobe: int = NPROBE,
    assign_mode: str = "auto",
) -> DataFrame:
    """IVF-Flat approximate nearest neighbors: the corpus is partitioned
    into inverted lists by nearest centroid; queries probe only their
    ``nprobe`` closest lists, then rank candidates by exact cosine.

    The centroid set is a deterministic sample of the corpus (every
    ``IVF_MOD``-th vector) — the train-free IVF variant; a k-means pass
    would only move the centroids, not the plan shape. At 100 TB the
    centroid table stays broadcast-small (k ~ sqrt(n) lists). List
    assignment is a pure MAP-SIDE argmax: the centroids are collected to
    the driver (tiny by construction) and folded into one constant array
    literal, so each corpus row computes ``array_max`` over
    ``transform(centroids, c -> (cos, -cid))`` in a single projection —
    zero shuffle, zero row multiplication, no window. (If k ever outgrew a
    constant-folded literal, the same argmax moves into a ``mapInPandas``
    over an ``sc.broadcast`` numpy matrix — still map-side.) The probe is
    an equi-join on list_id — no all-pairs stage anywhere.

    ``assign_mode`` selects the list-assignment kernel: ``"literal"`` is
    the constant-folded centroid literal (right for k up to a few hundred),
    ``"broadcast"`` the Arrow-batched argmax over an ``sc.broadcast``
    matrix (:func:`_assign_lists_broadcast`, right for large k);
    ``"auto"`` switches at ``IVF_LITERAL_MAX``. Both are map-side and
    produce identical assignments (unit-tested against each other).
    """
    emb = _emb(spark, sf_dir)
    cents = emb.where(F.pmod(F.col("vec_id"), F.lit(IVF_MOD)) == IVF_OFFSET).select(
        F.col("vec_id").alias("centroid_id"), F.col("embedding").alias("cvec")
    )
    # Driver-side collect of the (broadcast-small) centroid table; Catalyst
    # constant-folds the nested CreateArray into ONE array literal.
    cent_rows = cents.collect()
    if assign_mode == "broadcast" or (assign_mode == "auto" and len(cent_rows) > IVF_LITERAL_MAX):
        assign = _assign_lists_broadcast(emb, cent_rows)
    else:
        cent_lit = F.array(
            *[
                F.struct(
                    F.lit(int(r["centroid_id"])).alias("cid"),
                    F.array(*[F.lit(float(v)) for v in r["cvec"]]).alias("cvec"),
                )
                for r in cent_rows
            ]
        )
        # Lexicographic struct max == (max cos, then min centroid_id) — the
        # same tie-break as the oracle's ORDER BY cos DESC, centroid_id ASC.
        best = F.array_max(
            F.transform(
                cent_lit,
                lambda c: F.struct(
                    cosine(F.col("embedding"), c["cvec"]).alias("ccos"),
                    (-c["cid"]).alias("ncid"),
                ),
            )
        )
        assign = emb.select("vec_id", "embedding", (-best["ncid"]).alias("list_id"))
    queries = emb.where(F.col("vec_id") < n_queries).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("q")
    )
    w_probe = Window.partitionBy("query_id").orderBy(F.desc("qcos"), F.asc("centroid_id"))
    probes = (
        queries.crossJoin(F.broadcast(cents))
        .select("query_id", "q", "centroid_id", cosine(F.col("q"), F.col("cvec")).alias("qcos"))
        .withColumn("r", F.row_number().over(w_probe))
        .where(F.col("r") <= nprobe)
        .select("query_id", "q", F.col("centroid_id").alias("list_id"))
    )
    scored = (
        assign.join(F.broadcast(probes), "list_id")
        .where(F.col("vec_id") != F.col("query_id"))
        .select("query_id", "vec_id", cosine(F.col("q"), F.col("embedding")).alias("cos"))
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), F.asc("vec_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
        .select("query_id", "vec_id", "cos", "rank")
    )


def _band_keys_sql(col: str, bands: int = NEAR_DUP_BANDS, bits: int = NEAR_DUP_BITS) -> str:
    """DuckDB CTE body: (vec_id, band, bkey) rows matching `_banded`."""
    terms = " + ".join(
        f"(CASE WHEN {col}[band * {bits} + {d + 1}] >= 0 THEN {1 << d} ELSE 0 END)"
        for d in range(bits)
    )
    return (
        f"SELECT vec_id, band::INT AS band, ({terms})::INT AS bkey "
        f"FROM e, UNNEST(range({bands})) AS t(band)"
    )


_COS = "round(list_dot_product({a}, {b}) / (sqrt(list_dot_product({a}, {a})) * sqrt(list_dot_product({b}, {b}))), 6)"


ORACLES: dict[str, str] = {
    "similarity_cosine_topk": f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < {N_QUERIES}),
    scored AS (
        SELECT query_id, vec_id, {_COS.format(a="qv", b="embedding")} AS cos
        FROM e CROSS JOIN q WHERE vec_id != query_id
    ), ranked AS (
        SELECT query_id, vec_id, cos,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, cos, rank::INT AS rank FROM ranked WHERE rank <= {TOP_K}
    """,
    "similarity_lsh_ann": f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
    banded AS ({_band_keys_sql("embedding")}),
    qb AS (SELECT vec_id AS query_id, band, bkey FROM banded WHERE vec_id < {N_QUERIES}),
    cands AS (
        SELECT DISTINCT qb.query_id, banded.vec_id
        FROM banded JOIN qb USING (band, bkey)
        WHERE banded.vec_id != qb.query_id
    ),
    scored AS (
        SELECT c.query_id, c.vec_id, {_COS.format(a="q.embedding", b="v.embedding")} AS cos
        FROM cands c
        JOIN e q ON q.vec_id = c.query_id
        JOIN e v ON v.vec_id = c.vec_id
    ), ranked AS (
        SELECT query_id, vec_id, cos,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, cos, rank::INT AS rank FROM ranked WHERE rank <= {TOP_K}
    """,
    "similarity_ivf_ann": f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
    cents AS (
        SELECT vec_id AS centroid_id, embedding AS cvec FROM e WHERE vec_id % {IVF_MOD} = {IVF_OFFSET}
    ),
    assign AS (
        SELECT vec_id, embedding, centroid_id AS list_id,
               row_number() OVER (
                   PARTITION BY vec_id
                   ORDER BY {_COS.format(a="embedding", b="cvec")} DESC, centroid_id ASC
               ) AS r
        FROM e CROSS JOIN cents QUALIFY r = 1
    ),
    q AS (SELECT vec_id AS query_id, embedding AS qv FROM e WHERE vec_id < {N_QUERIES}),
    probes AS (
        SELECT query_id, qv, centroid_id AS list_id,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY {_COS.format(a="qv", b="cvec")} DESC, centroid_id ASC
               ) AS r
        FROM q CROSS JOIN cents QUALIFY r <= {NPROBE}
    ),
    scored AS (
        SELECT p.query_id, a.vec_id, {_COS.format(a="p.qv", b="a.embedding")} AS cos
        FROM assign a JOIN probes p USING (list_id)
        WHERE a.vec_id != p.query_id
    ), ranked AS (
        SELECT query_id, vec_id, cos,
               row_number() OVER (PARTITION BY query_id ORDER BY cos DESC, vec_id ASC) AS rank
        FROM scored
    )
    SELECT query_id, vec_id, cos, rank::INT AS rank FROM ranked WHERE rank <= {TOP_K}
    """,
    "similarity_near_dups": f"""
    WITH e AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
    banded AS ({_band_keys_sql("embedding")}),
    eligible AS (
        SELECT band, bkey FROM banded
        GROUP BY band, bkey HAVING count(*) BETWEEN 2 AND {MAX_BUCKET}
    ),
    cand AS (SELECT banded.* FROM banded JOIN eligible USING (band, bkey)),
    pairs AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
        FROM cand a JOIN cand b ON a.band = b.band AND a.bkey = b.bkey
        WHERE a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, {_COS.format(a="ea.embedding", b="eb.embedding")} AS cos
    FROM pairs
    JOIN e ea ON ea.vec_id = vec_a
    JOIN e eb ON eb.vec_id = vec_b
    WHERE {_COS.format(a="ea.embedding", b="eb.embedding")} >= {NEAR_DUP_COS}
    """,
}


def near_dup_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup pairs AND their connected-component clusters in one driver
    slot (the driver caps correctness rows at 50 queries): the LSH-bucketed
    cosine pair list (:func:`embedding_near_dups`) is computed ONCE, then
    both the pair rows and the large-star/small-star component labels
    derived from it are union-tagged into a common (kind, id_a, id_b, cos)
    schema. The pair list feeds both, so it is checkpointed here, once."""
    pairs = embedding_near_dups(spark, sf_dir).localCheckpoint()
    edges = pairs.select(F.col("vec_a").alias("doc_a"), F.col("vec_b").alias("doc_b"))
    labels, _ = connected_components(edges)
    p = pairs.select(
        F.lit("pair").alias("kind"),
        F.col("vec_a").alias("id_a"),
        F.col("vec_b").alias("id_b"),
        "cos",
    )
    c = labels.select(
        F.lit("cluster").alias("kind"),
        F.col("doc_id").alias("id_a"),
        F.col("cluster_id").alias("id_b"),
        F.lit(None).cast("double").alias("cos"),
    )
    return p.unionByName(c)


ORACLES["similarity_dedup_clusters"] = f"""
WITH RECURSIVE e AS (SELECT vec_id, embedding::DOUBLE[] AS embedding FROM embeddings),
banded AS ({_band_keys_sql("embedding")}),
eligible AS (
    SELECT band, bkey FROM banded
    GROUP BY band, bkey HAVING count(*) BETWEEN 2 AND {MAX_BUCKET}
),
cand AS (SELECT banded.* FROM banded JOIN eligible USING (band, bkey)),
cpairs AS (
    SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
    FROM cand a JOIN cand b ON a.band = b.band AND a.bkey = b.bkey
    WHERE a.vec_id < b.vec_id
),
pairs AS (
    SELECT vec_a, vec_b FROM cpairs
    JOIN e ea ON ea.vec_id = vec_a
    JOIN e eb ON eb.vec_id = vec_b
    WHERE {_COS.format(a="ea.embedding", b="eb.embedding")} >= {NEAR_DUP_COS}
),
edges AS (
    SELECT vec_a AS s, vec_b AS d FROM pairs
    UNION ALL
    SELECT vec_b AS s, vec_a AS d FROM pairs
),
reach AS (
    SELECT s AS node, d AS root FROM edges
    UNION
    SELECT r.node, ed.d AS root FROM reach r JOIN edges ed ON ed.s = r.root
)
SELECT node::BIGINT AS vec_id, least(node, min(root))::BIGINT AS cluster_id
FROM reach GROUP BY node
"""

# the driver records correctness rows for at most 50 queries, so the pair
# list and its clustering share one union-tagged slot; the standalone SQL
# is reused verbatim as subqueries
_NEAR_DUPS_SQL = ORACLES.pop("similarity_near_dups")
_CLUSTERS_SQL = ORACLES.pop("similarity_dedup_clusters")

ORACLES["similarity_near_dup_clusters"] = f"""
SELECT 'pair' AS kind, vec_a AS id_a, vec_b AS id_b, cos
FROM ({_NEAR_DUPS_SQL})
UNION ALL
SELECT 'cluster', vec_id, cluster_id, NULL::DOUBLE
FROM ({_CLUSTERS_SQL})
"""
