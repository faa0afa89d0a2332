"""Text-analysis operators over the `documents` table.

All native Spark column expressions (JVM-side, codegen'd) with DuckDB
oracle twins: quality scoring, language-ID heuristic, BPE-ish token
counting, rolling-hash fingerprinting, and the TextMatch-style match-rate
aggregation (reference `doctr/utils/metrics.py:46-124` computes raw /
caseless / unicase match rates; anyascii folding is skipped — no anyascii
in this container and no non-ASCII in the corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F  # noqa: N812

from ..session import local_frame

# language-ID heuristic: marker-token hit counts per language
_LANG_MARKERS = {
    "en": ["the", "and", "with", "for"],
    "fr": ["le", "la", "les", "et"],
    "de": ["der", "die", "und", "das"],
    "es": ["el", "los", "las", "para"],
    "nl": ["de", "het", "een", "van"],
    "pl": ["nie", "jest", "się", "oraz"],
    "query": ["query", "scan", "join", "filter"],
    "data": ["data", "row", "table", "batch"],
}

# BPE-ish tokenization: letter runs, digit runs, or single non-space symbols
_BPE_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def _docs(spark: SparkSession, sf_dir: str, *part_keys) -> DataFrame:
    from ..io.sources import scan_parallel

    return scan_parallel(spark.read.parquet(f"{sf_dir}/documents.parquet"), *part_keys)


def text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-scoring features: lengths, token stats, stopword ratio."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    stop_hits = F.size(F.filter(toks, lambda t: t.isin("the", "a", "and", "of")))
    return d.select(
        "doc_id",
        F.length("text").cast("long").alias("n_chars_actual"),
        F.size(toks).cast("long").alias("n_tokens"),
        F.round(F.length("text") / F.size(toks), 4).alias("avg_token_len"),
        F.round(stop_hits / F.size(toks), 4).alias("stopword_ratio"),
    )


def lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """n-gram/marker-token language-ID heuristic (stand-in for the
    reference's langdetect call, `doctr/models/_utils.py:202-218`):
    predicted class = argmax of marker hits, ties broken lexicographically."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    scores = [
        F.struct(
            F.size(F.filter(toks, lambda t: t.isin(*words))).alias("hits"),
            F.lit(lang).alias("lang"),
        )
        for lang, words in sorted(_LANG_MARKERS.items())
    ]
    # argmax by (hits, lang): array_max on structs compares fields in order;
    # invert lang ordering is unnecessary — ties pick the max lang name, so
    # mirror exactly in SQL
    best = F.array_max(F.array(*scores))
    return d.select(
        "doc_id",
        best["lang"].alias("pred_lang"),
        best["hits"].cast("long").alias("marker_hits"),
    )


def token_count_bpe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting with a BPE-ish regex (letter runs / digit runs /
    symbols) plus whitespace token count."""
    d = _docs(spark, sf_dir)
    return d.select(
        "doc_id",
        F.size(F.split(F.col("text"), " ")).cast("long").alias("ws_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(_BPE_RE), 0)).cast("long").alias("bpe_tokens"),
    )


def fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: minimum rolling (shingle) hash — the
    winnowing-style content signature used for fuzzy identity."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    sh = F.transform(
        F.sequence(F.lit(1), F.greatest(F.size(toks) - 2, F.lit(1))),
        lambda i: F.concat_ws(" ", F.slice(toks, i, 3)),
    )
    return d.select(
        "doc_id",
        F.array_min(F.transform(sh, F.md5)).alias("fingerprint"),
    )


# deterministic accent mutation for the anyascii-mode check: vowels of even
# docs become Latin-1 accented vowels, so raw match fails but the NFD
# diacritic fold (reference string_match's anyascii mode,
# doctr/utils/metrics.py:25-43) restores equality.
ACCENT_MUT_SRC = "aeiou"
ACCENT_MUT_DST = "àéîôù"


def match_rates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextMatch-style aggregation: raw + caseless + anyascii exact-match
    rates between text and deterministically mutated variants (upper-cased
    / accent-mutated for even doc_ids), grouped by source."""
    from ..kernels.vocab import ascii_fold_pairs

    fold_src, fold_dst = ascii_fold_pairs()
    d = _docs(spark, sf_dir)
    even = F.col("doc_id") % 2 == 0
    variant = F.when(even, F.upper(F.col("text"))).otherwise(F.col("text"))
    accented = F.when(
        even, F.translate(F.col("text"), ACCENT_MUT_SRC, ACCENT_MUT_DST)
    ).otherwise(F.col("text"))
    return (
        d.withColumn("variant", variant)
        .withColumn("accented", accented)
        .groupBy("source")
        .agg(
            F.round(F.avg((F.col("text") == F.col("variant")).cast("int")), 6).alias("raw_rate"),
            F.round(
                F.avg((F.lower(F.col("text")) == F.lower(F.col("variant"))).cast("int")), 6
            ).alias("caseless_rate"),
            F.round(F.avg((F.col("text") == F.col("accented")).cast("int")), 6).alias(
                "accent_raw_rate"
            ),
            F.round(
                F.avg(
                    (F.translate(F.col("accented"), fold_src, fold_dst) == F.col("text")).cast("int")
                ),
                6,
            ).alias("anyascii_rate"),
            F.count("*").cast("long").alias("n"),
        )
    )


# Gopher/C4-style quality gate thresholds (Rae et al. 2021 "Scaling
# Language Models", §A1.1 — public repetition/format heuristics, adapted
# to this corpus's scale)
QF_MIN_WORDS = 10
QF_MEAN_LEN_LO = 3.0
QF_MEAN_LEN_HI = 12.0
QF_MAX_DIGIT_FRAC = 0.3
QF_MAX_SYMBOL_FRAC = 0.1
QF_MAX_TOP_WORD_FRAC = 0.2


def quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style document quality gate as ONE codegen'd projection: word
    count, mean word length, digit-word fraction, symbol fraction, and
    most-frequent-word fraction (the repetition signal), each rounded to
    6dp BEFORE thresholding so both engines gate identically. At 100 TB
    this is a pure map — no shuffle, no Python."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)
    mean_len = F.round(
        F.aggregate(toks, F.lit(0), lambda acc, t: acc + F.length(t)) / n, 6
    )
    digit_frac = F.round(F.size(F.filter(toks, lambda t: t.rlike("^[0-9]+$"))) / n, 6)
    symbol_frac = F.round(
        (F.length("text") - F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z0-9 ]", "")))
        / F.length("text"),
        6,
    )
    # repetition: frequency of the most common token / n (mode via
    # sort + aggregate run-length, pure array expressions)
    sorted_toks = F.array_sort(toks)
    top_runs = F.aggregate(
        sorted_toks,
        F.struct(F.lit("").alias("prev"), F.lit(0).alias("run"), F.lit(0).alias("best")),
        lambda acc, t: F.struct(
            t.alias("prev"),
            F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"], F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
            ).alias("best"),
        ),
        lambda acc: acc["best"],
    )
    top_word_frac = F.round(top_runs / n, 6)
    out = d.select(
        "doc_id",
        n.cast("long").alias("n_words"),
        mean_len.alias("mean_word_len"),
        digit_frac.alias("digit_word_frac"),
        symbol_frac.alias("symbol_frac"),
        top_word_frac.alias("top_word_frac"),
    )
    passes = (
        (F.col("n_words") >= QF_MIN_WORDS)
        & F.col("mean_word_len").between(QF_MEAN_LEN_LO, QF_MEAN_LEN_HI)
        & (F.col("digit_word_frac") <= QF_MAX_DIGIT_FRAC)
        & (F.col("symbol_frac") <= QF_MAX_SYMBOL_FRAC)
        & (F.col("top_word_frac") <= QF_MAX_TOP_WORD_FRAC)
    )
    return out.withColumn("passes", passes)


# Gopher-style repetition gates (Rae et al. 2021, table A1): documents
# dominated by one repeated 2-gram, by duplicated 3-grams, or by duplicated
# lines are boilerplate/spam for LLM training purposes
REP_MAX_TOP_BIGRAM_FRAC = 0.2
REP_MAX_DUP_TRIGRAM_FRAC = 0.3
REP_MAX_DUP_LINE_FRAC = 0.3


def _word_grams(toks, n, k: int):
    """Word k-grams of a token array as strings (empty array below k)."""
    return F.when(
        n >= k,
        F.transform(
            F.sequence(F.lit(1), n - (k - 1)),
            lambda i: F.concat_ws(" ", *[F.element_at(toks, i + j) for j in range(k)]),
        ),
    ).otherwise(F.array().cast("array<string>"))


def _run_stats(arr):
    """(best, dup) of a string array via sorted-run walk: ``best`` is the
    highest multiplicity of any value, ``dup`` the number of elements whose
    value occurs more than once — computed inside ONE array expression (no
    explode, no shuffle), the same mode-via-run-length trick as
    :func:`quality_filter`'s top-word signal."""
    walked = F.aggregate(
        F.array_sort(arr),
        F.struct(
            F.lit(None).cast("string").alias("prev"),
            F.lit(0).alias("run"),
            F.lit(0).alias("best"),
            F.lit(0).alias("dup"),
        ),
        lambda acc, t: F.struct(
            t.alias("prev"),
            F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1)).alias("run"),
            F.greatest(
                acc["best"], F.when(t == acc["prev"], acc["run"] + 1).otherwise(F.lit(1))
            ).alias("best"),
            (
                acc["dup"]
                + F.when(t == acc["prev"], F.when(acc["run"] == 1, 2).otherwise(1)).otherwise(0)
            ).alias("dup"),
        ),
        lambda acc: F.struct(acc["best"].alias("best"), acc["dup"].alias("dup")),
    )
    return walked


def repetition_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals per document: most-frequent-2-gram
    fraction, duplicated-3-gram fraction, and duplicated-line fraction,
    plus the combined pass gate. 100 TB design: every signal is computed
    by sorted-run walks INSIDE one codegen'd projection — zero shuffles,
    zero Python, linear in corpus tokens (per-row cost O(k log k) on the
    token count, bounded by document length)."""
    d = _docs(spark, sf_dir)
    toks = F.split(F.col("text"), " ")
    n = F.size(toks)

    def frac(stats_field, total):
        return F.when(total > 0, F.round(stats_field / total, 6)).otherwise(F.lit(0.0))

    bi = _run_stats(_word_grams(toks, n, 2))
    tri = _run_stats(_word_grams(toks, n, 3))
    lines = F.split(F.col("text"), "\n")
    ln = _run_stats(lines)

    out = d.select(
        "doc_id",
        frac(bi["best"], F.greatest(n - 1, F.lit(0))).alias("top_bigram_frac"),
        frac(tri["dup"], F.greatest(n - 2, F.lit(0))).alias("dup_trigram_frac"),
        frac(ln["dup"], F.size(lines)).alias("dup_line_frac"),
    )
    passes = (
        (F.col("top_bigram_frac") <= REP_MAX_TOP_BIGRAM_FRAC)
        & (F.col("dup_trigram_frac") <= REP_MAX_DUP_TRIGRAM_FRAC)
        & (F.col("dup_line_frac") <= REP_MAX_DUP_LINE_FRAC)
    )
    return out.withColumn("passes", passes)


def _marker_sql(words: list[str]) -> str:
    lst = ", ".join(f"'{w}'" for w in words)
    return f"len(list_filter(string_split(text, ' '), t -> t IN ({lst})))"


_LANG_STRUCTS = ", ".join(
    "{'hits': " + _marker_sql(words) + f", 'lang': '{lang}'" + "}"
    for lang, words in sorted(_LANG_MARKERS.items())
)

ORACLES: dict[str, str] = {
    "text_quality_filter": f"""
    WITH base AS (
        SELECT doc_id, string_split(text, ' ') AS ts, text FROM documents
    ),
    freq AS (
        SELECT doc_id, max(cnt) AS top FROM (
            SELECT doc_id, tok, count(*) AS cnt
            FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS tok FROM documents)
            GROUP BY doc_id, tok
        ) GROUP BY doc_id
    ),
    s AS (
        SELECT doc_id,
               len(ts)::BIGINT AS n_words,
               round(list_sum(list_transform(ts, t -> len(t)))::DOUBLE / len(ts), 6) AS mean_word_len,
               round(len(list_filter(ts, t -> regexp_full_match(t, '[0-9]+')))::DOUBLE / len(ts), 6) AS digit_word_frac,
               round((len(text) - len(regexp_replace(text, '[^a-zA-Z0-9 ]', '', 'g')))::DOUBLE / len(text), 6) AS symbol_frac
        FROM base
    )
    SELECT s.doc_id, n_words, mean_word_len, digit_word_frac, symbol_frac,
           round(f.top::DOUBLE / n_words, 6) AS top_word_frac,
           (n_words >= {QF_MIN_WORDS}
            AND mean_word_len BETWEEN {QF_MEAN_LEN_LO} AND {QF_MEAN_LEN_HI}
            AND digit_word_frac <= {QF_MAX_DIGIT_FRAC}
            AND symbol_frac <= {QF_MAX_SYMBOL_FRAC}
            AND round(f.top::DOUBLE / n_words, 6) <= {QF_MAX_TOP_WORD_FRAC}) AS passes
    FROM s JOIN freq f USING (doc_id)
    """,

    "text_repetition": f"""
    WITH t AS (
        SELECT doc_id, string_split(text, ' ') AS ts, string_split(text, chr(10)) AS ls
        FROM documents
    ),
    g2 AS (
        SELECT doc_id, unnest(list_transform(range(1, len(ts)), i -> ts[i] || ' ' || ts[i+1])) AS g
        FROM t WHERE len(ts) >= 2
    ),
    a2 AS (
        SELECT doc_id, max(c) AS best, sum(c) AS total
        FROM (SELECT doc_id, g, count(*) AS c FROM g2 GROUP BY doc_id, g) GROUP BY doc_id
    ),
    g3 AS (
        SELECT doc_id, unnest(list_transform(range(1, len(ts) - 1),
                              i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
        FROM t WHERE len(ts) >= 3
    ),
    a3 AS (
        SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup, sum(c) AS total
        FROM (SELECT doc_id, g, count(*) AS c FROM g3 GROUP BY doc_id, g) GROUP BY doc_id
    ),
    al AS (
        SELECT doc_id, sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS dup, sum(c) AS total
        FROM (SELECT doc_id, l, count(*) AS c
              FROM (SELECT doc_id, unnest(ls) AS l FROM t) GROUP BY doc_id, l)
        GROUP BY doc_id
    ),
    s AS (
        SELECT t.doc_id,
               coalesce(round(a2.best::DOUBLE / a2.total, 6), 0.0) AS top_bigram_frac,
               coalesce(round(a3.dup::DOUBLE / a3.total, 6), 0.0) AS dup_trigram_frac,
               coalesce(round(al.dup::DOUBLE / al.total, 6), 0.0) AS dup_line_frac
        FROM t LEFT JOIN a2 USING (doc_id) LEFT JOIN a3 USING (doc_id) LEFT JOIN al USING (doc_id)
    )
    SELECT doc_id, top_bigram_frac, dup_trigram_frac, dup_line_frac,
           (top_bigram_frac <= {REP_MAX_TOP_BIGRAM_FRAC}
            AND dup_trigram_frac <= {REP_MAX_DUP_TRIGRAM_FRAC}
            AND dup_line_frac <= {REP_MAX_DUP_LINE_FRAC}) AS passes
    FROM s
    """,

    "text_stats": """
    SELECT doc_id,
           len(text)::BIGINT AS n_chars_actual,
           len(string_split(text, ' '))::BIGINT AS n_tokens,
           round(len(text) / len(string_split(text, ' ')), 4) AS avg_token_len,
           round(len(list_filter(string_split(text, ' '), t -> t IN ('the','a','and','of')))
                 / len(string_split(text, ' ')), 4) AS stopword_ratio
    FROM documents
    """,
    "text_lang_id": f"""
    WITH scored AS (
        SELECT doc_id, list_max([{_LANG_STRUCTS}]) AS best FROM documents
    )
    SELECT doc_id, best.lang AS pred_lang, best.hits::BIGINT AS marker_hits FROM scored
    """,
    "text_token_count": f"""
    SELECT doc_id,
           len(string_split(text, ' '))::BIGINT AS ws_tokens,
           len(regexp_extract_all(text, '{_BPE_RE}'))::BIGINT AS bpe_tokens
    FROM documents
    """,
    "text_fingerprint": """
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ts FROM documents)
    SELECT doc_id,
           list_min(list_transform(range(1, greatest(len(ts) - 2, 1) + 1),
                    i -> md5(ts[i] || CASE WHEN ts[i+1] IS NULL THEN '' ELSE ' ' || ts[i+1] END
                             || CASE WHEN ts[i+2] IS NULL THEN '' ELSE ' ' || ts[i+2] END))) AS fingerprint
    FROM toks
    """,
    "text_match_rates": None,  # built lazily below (needs the fold pairs)
}


def _match_rates_oracle() -> str:
    from ..kernels.vocab import ascii_fold_pairs

    fold_src, fold_dst = ascii_fold_pairs()
    return f"""
    WITH v AS (
        SELECT source, text,
               CASE WHEN doc_id % 2 = 0 THEN upper(text) ELSE text END AS variant,
               CASE WHEN doc_id % 2 = 0
                    THEN translate(text, '{ACCENT_MUT_SRC}', '{ACCENT_MUT_DST}')
                    ELSE text END AS accented
        FROM documents
    )
    SELECT source,
           round(avg((text = variant)::INT), 6) AS raw_rate,
           round(avg((lower(text) = lower(variant))::INT), 6) AS caseless_rate,
           round(avg((text = accented)::INT), 6) AS accent_raw_rate,
           round(avg((translate(accented, '{fold_src}', '{fold_dst}') = text)::INT), 6)
               AS anyascii_rate,
           count(*)::BIGINT AS n
    FROM v GROUP BY source
    """


ORACLES["text_match_rates"] = _match_rates_oracle()


# ---------------------------------------------------------------------------
# PII scrubbing
# ---------------------------------------------------------------------------

# the corpus is pre-cleaned tokens, so deterministic contact strings are
# appended per document to exercise the scrubber on both engines identically
_EMAIL_RE = r"[a-z0-9.]+@[a-z0-9.-]+\.[a-z]{2,}"
_PHONE_RE = r"\+1-555-[0-9]{4}"


def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrubbing: count and redact emails/phone numbers with native
    regexp expressions (one codegen'd projection — pure map, no shuffle,
    the shape a 100 TB scrub pass needs). The redacted text is exposed as
    an md5 so the driver's row canonicalization stays cheap."""
    d = _docs(spark, sf_dir)
    synth = F.concat(
        F.col("text"),
        F.lit(" contact doc"),
        F.col("doc_id").cast("string"),
        F.lit("@corp.example.com or +1-555-"),
        F.lpad((F.col("doc_id") % 10000).cast("string"), 4, "0"),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(synth, _EMAIL_RE, "[EMAIL]"), _PHONE_RE, "[PHONE]"
    )
    return d.select(
        "doc_id",
        F.size(F.regexp_extract_all(synth, F.lit(_EMAIL_RE), 0)).cast("long").alias("n_emails"),
        F.size(F.regexp_extract_all(synth, F.lit(_PHONE_RE), 0)).cast("long").alias("n_phones"),
        F.md5(redacted).alias("redacted_md5"),
    )


ORACLES["text_pii_scrub"] = f"""
WITH synth AS (
    SELECT doc_id,
           text || ' contact doc' || doc_id || '@corp.example.com or +1-555-' ||
           lpad((doc_id % 10000)::VARCHAR, 4, '0') AS s
    FROM documents
)
SELECT doc_id,
       len(regexp_extract_all(s, '{_EMAIL_RE}'))::BIGINT AS n_emails,
       len(regexp_extract_all(s, '{_PHONE_RE}'))::BIGINT AS n_phones,
       md5(regexp_replace(regexp_replace(s, '{_EMAIL_RE}', '[EMAIL]', 'g'),
                          '{_PHONE_RE}', '[PHONE]', 'g')) AS redacted_md5
FROM synth
"""


# ---------------------------------------------------------------------------
# deterministic stratified sampling (data mixing)
# ---------------------------------------------------------------------------

# per-source keep thresholds as one hex byte (lexicographic compare on the
# md5 prefix == numeric compare for fixed-width lowercase hex): '80' keeps
# ~50%, '40' ~25%, 'ff'+1 everything. Sources not listed keep ~50%.
MIX_THRESHOLDS = {"src0": "ff", "src1": "40", "src2": "20", "src3": "c0"}
MIX_DEFAULT = "80"


def mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic stratified sampling for corpus mixing: each document
    keeps iff the first md5 byte of its (doc_id, source) key falls under
    its source's threshold — a pure codegen'd filter (no shuffle, no RNG
    state), reproducible across engines and runs, the property a 100 TB
    mixing pass needs for resumability. Rates are per-source (data-mixing
    weights); the md5 key decorrelates the sample from doc_id order."""
    d = _docs(spark, sf_dir)
    key = F.substring(F.md5(F.concat_ws(":", F.col("doc_id").cast("string"), "source")), 1, 2)
    thr = F.col("source")
    expr = F.lit(MIX_DEFAULT)
    for src, t in sorted(MIX_THRESHOLDS.items()):
        expr = F.when(thr == src, F.lit(t)).otherwise(expr)
    return d.where(key < expr).select("doc_id", "source", key.alias("sample_key"))


def _mix_case() -> str:
    arms = " ".join(
        f"WHEN '{s}' THEN '{t}'" for s, t in sorted(MIX_THRESHOLDS.items())
    )
    return f"CASE source {arms} ELSE '{MIX_DEFAULT}' END"


ORACLES["text_mix_sample"] = f"""
SELECT doc_id, source,
       substr(md5(doc_id || ':' || source), 1, 2) AS sample_key
FROM documents
WHERE substr(md5(doc_id || ':' || source), 1, 2) < {_mix_case()}
"""


def source_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source corpus curation profile: the aggregates a data-mixing
    decision needs (document count, token mass, length distribution,
    language spread, exact-dup rate within the source). One hash groupBy
    with map-side partial aggregation — scale-safe at any corpus size."""
    docs = _docs(spark, sf_dir)
    toks = F.when(F.col("text") == "", 0).otherwise(F.size(F.split("text", " ")))
    return (
        docs.groupBy("source")
        .agg(
            F.count("*").cast("long").alias("n_docs"),
            F.sum(toks).cast("long").alias("n_tokens"),
            F.round(F.avg(F.length("text")), 6).alias("avg_chars"),
            F.countDistinct("lang").cast("long").alias("n_langs"),
            F.countDistinct(F.md5("text")).cast("long").alias("n_unique_texts"),
        )
        .withColumn(
            "dup_rate",
            F.round(1.0 - F.col("n_unique_texts") / F.col("n_docs"), 6),
        )
    )


ORACLES["text_source_stats"] = """
SELECT source,
       count(*)::BIGINT AS n_docs,
       sum(CASE WHEN text = '' THEN 0 ELSE len(string_split(text, ' ')) END)::BIGINT AS n_tokens,
       round(avg(length(text)), 6) AS avg_chars,
       count(DISTINCT lang)::BIGINT AS n_langs,
       count(DISTINCT md5(text))::BIGINT AS n_unique_texts,
       round(1.0 - count(DISTINCT md5(text)) / count(*), 6) AS dup_rate
FROM documents GROUP BY source
"""


def char_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document Shannon character entropy (bits) — the classic cheap
    gibberish/boilerplate signal (low entropy = repeated filler, high =
    random noise; used alongside the Gopher-style gates). Shape: one
    explode to (doc, char) with map-side combinable counting, then one
    per-doc fold — linear in corpus characters, no wide rows. The
    doc_id-keyed scan guard makes BOTH groupBys reuse its exchange
    (hash(doc_id) satisfies the (doc_id, ch) clustered distribution), so
    the whole query runs on one shuffle with parallel explode."""
    docs = _docs(spark, sf_dir, "doc_id")
    # split on the empty pattern, NOT '(?!^)': the lookahead splits between
    # UTF-16 code units and would shear astral-plane characters into
    # surrogate halves, while '' (like DuckDB's string_split_regex) yields
    # whole codepoints (ADVICE r4)
    chars = docs.where(F.length("text") > 0).select(
        "doc_id", F.explode(F.split("text", "")).alias("ch")
    ).where(F.col("ch") != "")
    counts = chars.groupBy("doc_id", "ch").agg(F.count("*").alias("n"))
    return (
        counts.groupBy("doc_id")
        .agg(
            F.sum("n").alias("total"),
            F.sum(F.col("n") * F.log2("n")).alias("nlogn"),
        )
        .select(
            "doc_id",
            F.round(F.log2("total") - F.col("nlogn") / F.col("total"), 6).alias("entropy_bits"),
        )
    )


ORACLES["text_char_entropy"] = """
WITH chars AS (
    SELECT doc_id, unnest(string_split_regex(text, '')) AS ch
    FROM documents WHERE length(text) > 0
), counts AS (
    SELECT doc_id, ch, count(*)::DOUBLE AS n
    FROM chars WHERE ch != '' GROUP BY doc_id, ch
)
SELECT doc_id,
       round(log2(sum(n)) - sum(n * log2(n)) / sum(n), 6) AS entropy_bits
FROM counts GROUP BY doc_id
"""


PACK_CONTEXT = 512


def pack_sequences(spark: SparkSession, sf_dir: str, context: int = PACK_CONTEXT) -> DataFrame:
    """GPT-style sequence packing: concatenate the corpus token stream in
    deterministic doc_id order and split it at fixed ``context``
    boundaries; each document reports which training sequences it spans
    and its offset inside the first one.

    100 TB design — the global running offset is a DISTRIBUTED prefix
    sum, not a single-partition window: range-repartition on the order
    key, per-partition token totals (one tiny driver-side list, one row
    per partition), broadcast the partition base offsets back, and take
    the within-partition cumulative sum under
    ``Window.partitionBy(partition)``. A bare ``Window.orderBy`` with no
    partition key would funnel the entire corpus through one task; this
    shape keeps every stage parallel, and the result is independent of
    where the (sampled) range boundaries fall.

    Returns a PERSISTED (eagerly materialized) DataFrame — callers keeping
    the session alive should ``unpersist()`` after consumption; the
    oracle/bench harnesses clear the cache between queries."""
    from pyspark.sql.window import Window

    d = _docs(spark, sf_dir).select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n_tokens")
    )
    parts = d.repartitionByRange(max(spark.sparkContext.defaultParallelism, 8), "doc_id")
    # persist BEFORE the totals collect: RangePartitioner samples its
    # boundaries, so re-executing the lineage in the final job could place
    # boundary rows in a different partition than the one whose total was
    # collected — part_base + cum would then be silently wrong. Pinning the
    # materialized partitioning makes both jobs read the same placement.
    parts = parts.withColumn("part", F.spark_partition_id()).persist()
    totals = parts.groupBy("part").agg(F.sum("n_tokens").alias("part_total")).collect()
    base = {int(r["part"]): 0 for r in totals}
    acc = 0
    for r in sorted(totals, key=lambda r: r["part"]):
        base[int(r["part"])] = acc
        acc += int(r["part_total"])
    base_df = local_frame(spark, list(base.items()), "part int, part_base long")
    w = Window.partitionBy("part").orderBy("doc_id")
    packed = (
        parts.join(F.broadcast(base_df), "part")
        .withColumn("cum", F.sum("n_tokens").over(w))
        .withColumn("start_offset", F.col("part_base") + F.col("cum") - F.col("n_tokens"))
    )
    out = packed.select(
        "doc_id",
        "n_tokens",
        "start_offset",
        F.floor(F.col("start_offset") / context).cast("long").alias("seq_first"),
        F.floor((F.col("start_offset") + F.col("n_tokens") - 1) / context)
        .cast("long")
        .alias("seq_last"),
        (F.col("start_offset") % context).cast("long").alias("offset_in_seq"),
    ).persist()
    out.count()  # eager: free the wide parts cache, keep only the result
    parts.unpersist()
    return out


ORACLES["text_pack_sequences"] = f"""
WITH d AS (
    SELECT doc_id, len(string_split(text, ' '))::BIGINT AS n_tokens
    FROM documents
),
c AS (
    SELECT doc_id, n_tokens,
           (sum(n_tokens) OVER (ORDER BY doc_id ROWS UNBOUNDED PRECEDING)
            - n_tokens)::BIGINT AS start_offset
    FROM d
)
SELECT doc_id, n_tokens, start_offset,
       (start_offset // {PACK_CONTEXT})::BIGINT AS seq_first,
       ((start_offset + n_tokens - 1) // {PACK_CONTEXT})::BIGINT AS seq_last,
       (start_offset % {PACK_CONTEXT})::BIGINT AS offset_in_seq
FROM c
"""
