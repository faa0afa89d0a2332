"""Deduplication operators over the `documents` table.

Training-data-pipeline primitives, each expressed as native Spark SQL
expressions (no Python UDFs) so Catalyst keeps everything in whole-stage
codegen, with an ANSI-SQL oracle twin (the `ORACLES` dict) that DuckDB runs
on the same parquet for the correctness gate.

Hashing strategy: both engines compute identical lowercase-hex `md5`, so
minhash signatures use the lexicographic minimum of seeded md5 hex strings
— a valid minhash family that is bit-identical across engines. SimHash
derives 16 bit-weights from the leading md5 nibbles via hex->int.

Scale notes (100 TB): every operator here is a shingle-explode followed by
a key-partitioned aggregation — linear shuffles on (doc, seed) or
(shingle) keys with map-side partial aggregation; the LSH band join
replaces the O(n^2) pair scan with an equi-join on band keys, which is the
standard web-scale near-dup design (MinHashLSH as in Spark MLlib, built
here from first principles). The pair lists are lazy plans: the bucket and
stop-shingle caps are ``count(*)`` windows whose exchange the following
self-join reuses, so nothing is cached or collected to the driver before
the caller's one action.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F  # noqa: N812

N_MINHASH = 8  # seeds
LSH_BANDS = 4  # bands of 2 seeds each
SHINGLE = 3  # word-shingle width
# Hot-key guards (mirrored in the DuckDB oracles so results stay identical):
# LSH buckets holding more than MAX_BUCKET docs are skipped — a boilerplate
# band key with 10^6 members means O(n^2) pairs nobody wants and one executor
# OOMing; likewise shingles appearing in more than SHINGLE_DF_CAP documents
# ("of the and") are excluded from Jaccard candidate generation.
MAX_BUCKET = 256
SHINGLE_DF_CAP = 1000


def _docs(spark: SparkSession, sf_dir: str, *part_keys) -> DataFrame:
    """documents scan behind the small-input parallelism guard; pass the
    downstream aggregation key (e.g. ``"doc_id"``) so the guard's
    repartition is the SAME exchange the groupBy needs — heavy per-doc
    compute (shingle md5s, token votes) then parallelizes for free."""
    from ..io.sources import scan_parallel

    return scan_parallel(spark.read.parquet(f"{sf_dir}/documents.parquet"), *part_keys)


def _shingles(docs: DataFrame) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    sh = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (SHINGLE - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, SHINGLE)),
    )
    return docs.where(F.size(toks) >= SHINGLE).select("doc_id", F.explode(sh).alias("shingle"))


def exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact duplicate groups: hash-groupBy on full text."""
    return (
        _docs(spark, sf_dir)
        .groupBy(F.md5(F.col("text")).alias("text_hash"))
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count("*").cast("long").alias("group_size"),
        )
    )


def _doc_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide per-doc minhash row (doc_id, m0..m7): ONE map-side-combinable
    aggregation keyed on doc_id. The naive form (cross-join 8 seeds, then
    groupBy (doc, seed)) shuffles 8x the shingle rows; folding the seeds
    into parallel agg expressions keeps the shuffle at 1x and the md5 work
    identical. The doc_id-keyed scan guard means the shingle explode + md5
    work runs AFTER (and partitioned by) the one exchange the groupBy
    needs — on a one-split local input nothing serializes through a single
    map task, and at scale the guard is the identity."""
    sh = _shingles(_docs(spark, sf_dir, "doc_id"))
    return sh.groupBy("doc_id").agg(
        *[
            F.min(F.md5(F.concat_ws("|", F.lit(str(s)), F.col("shingle")))).alias(f"m{s}")
            for s in range(N_MINHASH)
        ]
    )


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(doc, seed) minhash over word shingles."""
    wide = _doc_signatures(spark, sf_dir)
    return wide.select(
        "doc_id",
        F.posexplode(F.array(*[f"m{s}" for s in range(N_MINHASH)])).alias("seed", "minhash"),
    )


def band_pairs(bands: DataFrame, id_col: str, key_col: str) -> DataFrame:
    """LSH candidate pairs off a ``(id_col, band, key_col)`` band table: the
    ids sharing a ``(band, key_col)`` bucket of 2..``MAX_BUCKET`` members,
    as ``(<stem>_a, <stem>_b)`` with ``a < b`` and no repeats (``stem`` is
    ``id_col`` without ``_id``: ``doc_id`` gives ``doc_a, doc_b``).

    The bucket size is a ``count(*)`` window over ``(band, key_col)``, so
    the cap (SparkER's block purging) is a filter inside the plan, and the
    self-join on the same keys reuses the window's exchange: the band
    table's subtree runs once, with no cache and no driver-side key set.
    The ``merge`` hint keeps the join on the window's partitioning and
    order; a small size estimate would otherwise broadcast a whole side.
    """
    stem = id_col.removesuffix("_id")
    n = F.count("*").over(Window.partitionBy("band", key_col))
    cand = bands.withColumn("n", n).where(F.col("n").between(2, MAX_BUCKET))
    a = cand.select("band", key_col, F.col(id_col).alias(f"{stem}_a"))
    b = cand.select("band", key_col, F.col(id_col).alias(f"{stem}_b"))
    return (
        a.hint("merge").join(b, ["band", key_col])
        .where(F.col(f"{stem}_a") < F.col(f"{stem}_b"))
        .select(f"{stem}_a", f"{stem}_b")
        .distinct()
    )


def minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Candidate near-dup pairs: docs agreeing on all signatures in a band.

    band id = seed div (N_MINHASH / LSH_BANDS); band key = concatenated
    signature values, sliced straight off the wide signature row (no
    second shuffle to assemble bands). :func:`band_pairs` drops singleton
    and larger-than-``MAX_BUCKET`` buckets before pair expansion, so no
    task expands a boilerplate cluster's O(n^2) pairs, and returns a lazy
    plan that runs in the caller's one action.

    Skew: the bucket count is a window, so all rows of a hot bucket reach
    one task, where a spillable count drops them (linear work). A
    map-side-combined count with a broadcast eligible-key set would spread
    that count, but costs two eager jobs and a driver-held key set; see
    "CPU and GPU Hash Joins on Skewed Data" (ICDE 2024) for the skewed
    band self-join.
    """
    wide = _doc_signatures(spark, sf_dir)
    per_seed = N_MINHASH // LSH_BANDS
    band_keys = [
        F.concat_ws(",", F.array_sort(F.array(*[f"m{b * per_seed + i}" for i in range(per_seed)])))
        for b in range(LSH_BANDS)
    ]
    bands = wide.select("doc_id", F.posexplode(F.array(*band_keys)).alias("band", "band_key"))
    return band_pairs(bands, "doc_id", "band_key")


def connected_components(pairs: DataFrame, max_iters: int = 30) -> tuple[DataFrame, int]:
    """Connected components over an undirected pair list (``doc_a < doc_b``)
    via alternating LARGE-STAR / SMALL-STAR rounds (Kiveris et al.,
    "Connected Components in MapReduce and Beyond", SoCC'14 — public).

    * large-star: every node hangs its LARGER neighbors off the minimum of
      its closed neighborhood — long chains halve each round.
    * small-star: every node and its SMALLER neighbors re-attach to that
      minimum — stars flatten.

    Both steps are a groupBy-min plus an equi-join back to the edge list —
    no ``collect_list`` of neighbor arrays, so a 10^6-member component
    never lands in one task. Rounds needed are O(log n) for ANY component
    shape (a chain degrades the naive min-label propagation to O(diameter)
    rounds). Convergence is one aggregate checksum action per round
    (count + sum of edge hashes), not a label self-join.

    Each round ends in ``localCheckpoint(eager=True)``: an iterative plan
    references the previous round's plan several times, so WITHOUT lineage
    truncation the logical plan grows exponentially with rounds (observed:
    JVM heap OOM formatting the plan string by round 3). On a real cluster
    swap in a reliable ``checkpoint()`` (HDFS dir) for executor-loss
    tolerance; the plan shape is identical.

    Returns ``(labels, rounds)``: every node that appears in a pair, labeled
    with its component-minimum id, and the number of rounds executed.
    ``labels`` is a lazy join of the first and last edge checkpoints.
    """
    # canonical orientation u > v (small-star's input invariant); the first
    # checkpoint also computes a lazy pair list exactly once
    edges = pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v")).localCheckpoint()
    nodes = edges.select(F.col("u").alias("doc_id")).union(edges.select("v")).distinct()
    prev_sum: tuple | None = None
    rounds = 0
    for _ in range(max_iters):
        rounds += 1
        # -- large-star: m(u) = min(u, N(u)); emit (bigger neighbor -> m) --
        sym = edges.union(edges.select(F.col("v").alias("u"), F.col("u").alias("v")))
        mins = sym.groupBy("u").agg(F.min("v").alias("mv")).select(
            "u", F.least(F.col("u"), F.col("mv")).alias("m")
        )
        ls = (
            sym.where(F.col("v") > F.col("u"))
            .join(mins, "u")
            .select(F.col("v").alias("u"), F.col("m").alias("v"))
            .where(F.col("u") != F.col("v"))
            .distinct()
        )
        # -- small-star: edges all point downward now; m(u) = min(N(u)) --
        mins2 = ls.groupBy("u").agg(F.min("v").alias("m"))
        ss = (
            ls.join(mins2, "u")
            .select(F.col("v").alias("a"), F.col("m").alias("b"))
            .union(mins2.select(F.col("u").alias("a"), F.col("m").alias("b")))
            .where(F.col("a") != F.col("b"))
            .select(F.greatest("a", "b").alias("u"), F.least("a", "b").alias("v"))
            .distinct()
            .localCheckpoint()  # eager: materializes + truncates lineage
        )
        checksum = tuple(
            ss.agg(F.count("*").alias("c"), F.sum(F.hash("u", "v")).alias("h")).first()
        )
        edges = ss
        if checksum == prev_sum:
            break
        prev_sum = checksum
    # at convergence the edge set is a union of min-rooted stars
    labels = nodes.join(
        edges.select(F.col("u").alias("doc_id"), F.col("v").alias("root")), "doc_id", "left"
    ).select(
        F.col("doc_id").cast("long").alias("doc_id"),
        F.coalesce(F.col("root"), F.col("doc_id")).cast("long").alias("cluster_id"),
    )
    return labels, rounds


def dedup_clusters(spark: SparkSession, sf_dir: str, max_iters: int = 30) -> DataFrame:
    """Duplicate CLUSTERS (not just pairs): connected components over the
    LSH candidate-pair graph, labeling every member with the component's
    minimum doc_id as ``cluster_id`` — the keep-one-canonical structure a
    real dedup pass acts on. See :func:`connected_components` for the
    O(log n)-round star algorithm.
    """
    labels, _ = connected_components(minhash_lsh_pairs(spark, sf_dir), max_iters=max_iters)
    return labels


def simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash over tokens: bit b set iff the signed token-vote sum
    for bit b is non-negative.

    Plan shape (100 TB): the 16 per-bit vote sums are parallel conditional
    aggregates in ONE ``groupBy(doc_id)`` — the same wide-agg fold the
    minhash seeds use (:func:`_doc_signatures`). The earlier form
    cross-joined the exploded token table against a 16-row bit table, which
    multiplied the shuffle input 16x for zero information; this computes
    identical votes with a single 1x shuffle, then folds the 16 votes into
    the hash word projection-side (no second aggregation). The doc_id-keyed
    scan guard puts the token md5 + vote work downstream of that one
    exchange, so it parallelizes even off a one-split local input."""
    docs = _docs(spark, sf_dir, "doc_id")
    toks = docs.select("doc_id", F.explode(F.split("text", " ")).alias("tok"))
    h16 = F.conv(F.substring(F.md5(F.col("tok")), 1, 4), 16, 10).cast("long")
    votes = toks.withColumn("h", h16).groupBy("doc_id").agg(
        *[
            F.sum(
                F.when(F.expr(f"(shiftright(h, {b}) & 1) = 1"), 1).otherwise(-1)
            ).alias(f"v{b}")
            for b in range(16)
        ]
    )
    word = None
    for b in range(16):
        term = F.when(F.col(f"v{b}") >= 0, F.lit(1 << b)).otherwise(F.lit(0))
        word = term if word is None else word + term
    return votes.select("doc_id", word.cast("long").alias("simhash"))


def ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram Jaccard >= 0.5 pairs, candidate-generated through the
    shared-shingle equi-join (set semantics on distinct shingles).

    Stop-shingles (document frequency > ``SHINGLE_DF_CAP``) are excluded:
    at web scale a shingle like "of the and" fans the equi-join out
    quadratically. The metric is exact Jaccard over the non-stop shingle
    space (both the intersection and the set sizes use the capped sets),
    so the number is self-consistent and both engines agree; stop-shingles
    carry no near-duplicate signal to begin with.

    The document frequency is a ``count(*)`` window over ``shingle``, so
    the shingle self-join (a merge join, as in :func:`band_pairs`) reuses
    the window's exchange and the shingle subtree runs once in the
    caller's one action, with no cache. The scan guard is keyed on
    ``doc_id``: its exchange already satisfies the ``(doc_id, shingle)``
    distinct, so a one-split input pays no extra round-robin shuffle.
    """
    sh = _shingles(_docs(spark, sf_dir, "doc_id")).distinct()
    df = F.count("*").over(Window.partitionBy("shingle"))
    keyed = sh.withColumn("df", df).where(F.col("df") <= SHINGLE_DF_CAP).select("doc_id", "shingle")
    sizes = keyed.groupBy("doc_id").agg(F.count("*").alias("n"))
    a, b = keyed.alias("a"), keyed.alias("b")
    inter = (
        a.hint("merge").join(b, F.col("a.shingle") == F.col("b.shingle"))
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .groupBy(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
        .agg(F.count("*").alias("inter"))
    )
    # `sizes` is one row PER DOCUMENT. Only the 16 MB
    # autoBroadcastJoinThreshold (`session.get_spark`) keeps it off the
    # broadcast side at corpus scale; on small inputs (sf0.1) the planner
    # does broadcast it on both size joins, which is cheap there. `inter` is
    # tiny post-candidate-generation, so either join direction is cheap.
    return (
        inter.join(sizes.withColumnRenamed("doc_id", "doc_a").withColumnRenamed("n", "na"), "doc_a")
        .join(sizes.withColumnRenamed("doc_id", "doc_b").withColumnRenamed("n", "nb"), "doc_b")
        .withColumn("jaccard", F.round(F.col("inter") / (F.col("na") + F.col("nb") - F.col("inter")), 6))
        .where(F.col("jaccard") >= 0.5)
        .select("doc_a", "doc_b", "jaccard")
    )


_SHINGLE_CTE = """
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), sh AS (
    SELECT doc_id, ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2] AS shingle
    FROM toks, UNNEST(range(1, len(ts) - 1)) AS t(i)
    WHERE len(ts) >= 3
)
"""

ORACLES: dict[str, str] = {
    "dedup_exact": (
        "SELECT md5(text) AS text_hash, min(doc_id) AS canonical_doc_id,"
        " count(*)::BIGINT AS group_size FROM documents GROUP BY 1"
    ),
    "dedup_minhash": _SHINGLE_CTE
    + """
    SELECT doc_id, seed, min(md5(seed::VARCHAR || '|' || shingle)) AS minhash
    FROM sh, UNNEST([0,1,2,3,4,5,6,7]) AS s(seed)
    GROUP BY doc_id, seed
    """,
    "dedup_minhash_lsh_pairs": _SHINGLE_CTE
    + f"""
    , sig AS (
        SELECT doc_id, seed, min(md5(seed::VARCHAR || '|' || shingle)) AS minhash
        FROM sh, UNNEST([0,1,2,3,4,5,6,7]) AS s(seed)
        GROUP BY doc_id, seed
    ), bands AS (
        SELECT doc_id, seed // 2 AS band,
               string_agg(minhash, ',' ORDER BY minhash) AS band_key
        FROM sig GROUP BY doc_id, band
    ), eligible AS (
        SELECT band, band_key FROM bands
        GROUP BY band, band_key
        HAVING count(*) BETWEEN 2 AND {MAX_BUCKET}
    ), cand AS (
        SELECT b.* FROM bands b JOIN eligible e USING (band, band_key)
    )
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
    FROM cand a JOIN cand b ON a.band = b.band AND a.band_key = b.band_key
    WHERE a.doc_id < b.doc_id
    """,
    # connected components as a recursive CTE: reach(node, root) closes the
    # edge relation transitively; cluster id = min over node + reachable set
    "dedup_clusters": f"""
    WITH RECURSIVE {_SHINGLE_CTE.replace("WITH", "", 1)}
    , sig AS (
        SELECT doc_id, seed, min(md5(seed::VARCHAR || '|' || shingle)) AS minhash
        FROM sh, UNNEST([0,1,2,3,4,5,6,7]) AS s(seed)
        GROUP BY doc_id, seed
    ), bands AS (
        SELECT doc_id, seed // 2 AS band,
               string_agg(minhash, ',' ORDER BY minhash) AS band_key
        FROM sig GROUP BY doc_id, band
    ), eligible AS (
        SELECT band, band_key FROM bands
        GROUP BY band, band_key
        HAVING count(*) BETWEEN 2 AND {MAX_BUCKET}
    ), cand AS (
        SELECT b.* FROM bands b JOIN eligible e USING (band, band_key)
    ), pairs AS (
        SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM cand a JOIN cand b ON a.band = b.band AND a.band_key = b.band_key
        WHERE a.doc_id < b.doc_id
    ), edges AS (
        SELECT doc_a AS s, doc_b AS d FROM pairs
        UNION ALL
        SELECT doc_b AS s, doc_a AS d FROM pairs
    ), reach AS (
        SELECT s AS node, d AS root FROM edges
        UNION
        SELECT r.node, e.d AS root FROM reach r JOIN edges e ON e.s = r.root
    )
    SELECT node::BIGINT AS doc_id, least(node, min(root))::BIGINT AS cluster_id
    FROM reach GROUP BY node
    """,
    "dedup_simhash": """
    WITH toks AS (
        SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents
    ), votes AS (
        SELECT doc_id, bit,
               sum(CASE WHEN (('0x' || substr(md5(tok), 1, 4))::BIGINT >> bit) & 1 = 1
                        THEN 1 ELSE -1 END) AS vote
        FROM toks, UNNEST(range(16)) AS b(bit)
        GROUP BY doc_id, bit
    )
    SELECT doc_id,
           sum(CASE WHEN vote >= 0 THEN (1::BIGINT << bit) ELSE 0 END)::BIGINT AS simhash
    FROM votes GROUP BY doc_id
    """,
    "dedup_ngram_jaccard": _SHINGLE_CTE
    + f"""
    , dsh AS (SELECT DISTINCT doc_id, shingle FROM sh),
    rare AS (
        SELECT shingle FROM dsh GROUP BY shingle HAVING count(*) <= {SHINGLE_DF_CAP}
    ),
    keyed AS (SELECT dsh.* FROM dsh JOIN rare USING (shingle)),
    sizes AS (SELECT doc_id, count(*) AS n FROM keyed GROUP BY doc_id),
    inter AS (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS inter
        FROM keyed a JOIN keyed b ON a.shingle = b.shingle
        WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    )
    SELECT doc_a, doc_b,
           round(inter / (sa.n + sb.n - inter), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON sa.doc_id = doc_a
    JOIN sizes sb ON sb.doc_id = doc_b
    WHERE round(inter / (sa.n + sb.n - inter), 6) >= 0.5
    """,
}


# ---------------------------------------------------------------------------
# repeated-span mining + benchmark decontamination
# ---------------------------------------------------------------------------

SPAN_K = 8  # tokens per span (the 8-gram of substring-dedup literature)
SPAN_MIN_OCC = 3  # a span is "repeated" from this many occurrences
SPAN_TOP = 100  # report the heaviest spans
EVAL_MOD = 97  # doc_id % EVAL_MOD == 0 marks the held-out "benchmark" slice


def _span_shingles(docs: DataFrame) -> DataFrame:
    toks = F.split(F.col("text"), " ")
    sh = F.transform(
        F.sequence(F.lit(1), F.size(toks) - (SPAN_K - 1)),
        lambda i: F.concat_ws(" ", F.slice(toks, i, SPAN_K)),
    )
    return docs.where(F.size(toks) >= SPAN_K).select("doc_id", F.explode(sh).alias("span"))


def substring_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-span mining (substring-level dedup, Lee et al. 2022
    "Deduplicating Training Data Makes Language Models Better"): the
    corpus's most-repeated 8-token spans with occurrence and document
    counts. One explode + one hash aggregation — linear in corpus tokens,
    map-side combinable; the top-N boundary is made deterministic by the
    (count, span) total order."""
    sh = _span_shingles(_docs(spark, sf_dir))
    return (
        sh.groupBy("span")
        .agg(
            F.count("*").cast("long").alias("n_occurrences"),
            F.countDistinct("doc_id").cast("long").alias("n_docs"),
        )
        .where(F.col("n_occurrences") >= SPAN_MIN_OCC)
        .orderBy(F.col("n_occurrences").desc(), F.col("span"))
        .limit(SPAN_TOP)
    )


def decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    8-token span with a held-out "benchmark" slice (doc_id % 97 == 0 —
    deterministic stand-in for an eval-set table). The eval span set is
    tiny and broadcast; the corpus side is one explode + broadcast
    semi-count, so a 100 TB corpus never shuffles on span."""
    docs = _docs(spark, sf_dir)
    eval_spans = (
        _span_shingles(docs.where(F.col("doc_id") % EVAL_MOD == 0)).select("span").distinct()
    )
    train = docs.where(F.col("doc_id") % EVAL_MOD != 0)
    hits = (
        _span_shingles(train)
        .join(F.broadcast(eval_spans), "span")
        .groupBy("doc_id")
        .agg(F.count("*").cast("long").alias("n_hits"))
    )
    return train.join(hits, "doc_id", "left").select(
        "doc_id",
        F.coalesce("n_hits", F.lit(0)).cast("long").alias("n_hits"),
        (F.coalesce("n_hits", F.lit(0)) > 0).alias("contaminated"),
    )


_SPAN_CTE = f"""
WITH toks AS (
    SELECT doc_id, string_split(text, ' ') AS ts FROM documents
), sp AS (
    SELECT doc_id, array_to_string(ts[i:i+{SPAN_K - 1}], ' ') AS span
    FROM toks, UNNEST(range(1, len(ts) - {SPAN_K - 2})) AS t(i)
    WHERE len(ts) >= {SPAN_K}
)
"""

ORACLES["dedup_substring_spans"] = _SPAN_CTE + f"""
SELECT span, count(*)::BIGINT AS n_occurrences,
       count(DISTINCT doc_id)::BIGINT AS n_docs
FROM sp GROUP BY span HAVING count(*) >= {SPAN_MIN_OCC}
ORDER BY n_occurrences DESC, span LIMIT {SPAN_TOP}
"""

ORACLES["dedup_decontaminate"] = _SPAN_CTE + f"""
, ev AS (SELECT DISTINCT span FROM sp WHERE doc_id % {EVAL_MOD} = 0),
hits AS (
    SELECT sp.doc_id, count(*)::BIGINT AS n_hits
    FROM sp JOIN ev USING (span)
    WHERE sp.doc_id % {EVAL_MOD} != 0
    GROUP BY sp.doc_id
)
SELECT d.doc_id, coalesce(h.n_hits, 0)::BIGINT AS n_hits,
       coalesce(h.n_hits, 0) > 0 AS contaminated
FROM documents d LEFT JOIN hits h USING (doc_id)
WHERE d.doc_id % {EVAL_MOD} != 0
"""
