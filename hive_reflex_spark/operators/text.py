"""Text-analysis operators over the ``documents`` table: tokenization,
quality scoring, language-ID heuristics, document fingerprinting.

These are the text half of a large-scale training-data pipeline
(the engine's first-class extension beyond the reference's §2A surface).
Everything here is pure column expressions + window functions — no Python
UDFs — so the hot path stays in whole-stage codegen at 100 TB.

Scale notes:
- tokenization is explode(split()) — linear, partition-local, no shuffle;
- per-doc aggregates shuffle on doc_id only (bounded rows per doc);
- fingerprints/shingles are the input to dedup.py's LSH, which replaces
  the O(n²) all-pairs comparison at scale.
"""

from __future__ import annotations

import pandas as pd

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_reflex_spark.functions import duck_exact_sum, duck_unit_sum
from hive_reflex_spark.io import (
    chain_checkpoint,
    corpus_checkpoint,
    read_table,
    tracked_persist,
)
from hive_reflex_spark.registry import query

# Tiny fixed vocab of the synthetic corpus; used as stopword/marker lists.
STOPWORDS = ("the", "a")
LANG_MARKERS = {  # deterministic language-ID heuristic profiles
    "de": ("join", "merge"),
    "en": ("the", "a"),
    "es": ("data", "row"),
    "fr": ("filter", "window"),
    "zh": ("spark", "query"),
}


def doc_words(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (doc_id, lang, source, pos, w): one row per token."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        "source",
        F.posexplode(F.split("text", " ")).alias("pos", "w"),
    )


DUCK_WORDS = """(
    SELECT doc_id, lang, source,
           CAST(pos AS INTEGER) AS pos, w
    FROM (SELECT doc_id, lang, source,
                 unnest(range(len(string_split(text, ' ')))) AS pos,
                 unnest(string_split(text, ' ')) AS w
          FROM documents))"""


def word_shingles(docs: DataFrame, n: int) -> DataFrame:
    """(doc_id, shingle) for every n-word window of ``docs.text``:
    array-slide via transform over the token array — a pure scan-side
    projection (no window, no shuffle, no sort), then explode. At 100 TB
    this keeps shingling embarrassingly parallel; the first shuffle in
    the dedup pipeline is the signature/collision join itself."""
    # Materialize the token array once per row (a lambda referencing
    # split(...) directly re-splits per element: O(len^2) per doc).
    with_tokens = docs.select("doc_id", F.split("text", " ").alias("ws"))
    words = ", ".join(["ws[i]"] + [f"ws[i+{k}]" for k in range(1, n)])
    shingles = F.expr(
        f"CASE WHEN size(ws) >= {n} THEN "
        f"transform(sequence(0, size(ws) - {n}), "
        f"i -> concat_ws(' ', {words})) "
        "ELSE array() END"
    )
    return with_tokens.select("doc_id", F.explode(shingles).alias("shingle"))


def doc_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-word shingles per document (the dedup unit): (doc_id, shingle)."""
    return word_shingles(read_table(spark, sf_dir, "documents"), 3)


DUCK_SHINGLES = f"""(
    SELECT doc_id, w || ' ' || w1 || ' ' || w2 AS shingle
    FROM (SELECT doc_id, w,
                 lead(w, 1) OVER win AS w1, lead(w, 2) OVER win AS w2
          FROM {DUCK_WORDS} words
          WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
    WHERE w2 IS NOT NULL)"""


# ---------------------------------------------------------------------------
# Token statistics
# ---------------------------------------------------------------------------


@query(
    "q42_token_stats",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
               AS total_tokens,
           CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
               * 1.0 / COUNT(*) AS avg_tokens,
           MIN(len(string_split(text, ' '))) AS min_tokens,
           MAX(len(string_split(text, ' '))) AS max_tokens,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(CASE WHEN len(text) = n_chars THEN 1 ELSE 0 END) AS BIGINT)
               AS n_chars_consistent
    FROM documents
    GROUP BY source
    """,
)
def q42_token_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Whitespace token counting per source + an n_chars integrity check —
    the token-budget accounting every training-data pipeline starts with."""
    docs = read_table(spark, sf_dir, "documents")
    ntok = F.size(F.split("text", " "))
    return docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(ntok.cast("long")).alias("total_tokens"),
        (F.sum(ntok.cast("long")) * 1.0 / F.count("*")).alias("avg_tokens"),
        F.min(ntok.cast("long")).alias("min_tokens"),
        F.max(ntok.cast("long")).alias("max_tokens"),
        F.sum("n_chars").alias("total_chars"),
        F.sum(
            F.when(F.length("text") == F.col("n_chars"), 1).otherwise(0)
        ).alias("n_chars_consistent"),
    )


# ---------------------------------------------------------------------------
# Quality scoring
# ---------------------------------------------------------------------------


@query(
    "q43_quality_score",
    oracle=f"""
    SELECT doc_id, n_tokens,
           ROUND((n_chars_txt - (n_tokens - 1)) * 1.0 / n_tokens, 6)
               AS avg_token_len,
           ROUND(n_stop * 1.0 / n_tokens, 6) AS stopword_ratio,
           ROUND(ln(n_tokens) * (1 - n_stop * 1.0 / n_tokens), 6)
               AS quality_score
    FROM (SELECT doc_id,
                 COUNT(*) AS n_tokens,
                 CAST(SUM(CASE WHEN w IN {STOPWORDS} THEN 1 ELSE 0 END)
                     AS BIGINT) AS n_stop,
                 SUM(len(w)) + COUNT(*) - 1 AS n_chars_txt
          FROM {DUCK_WORDS} words
          GROUP BY doc_id)
    """,
)
def q43_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document quality features: token count, mean token length,
    stopword ratio, and a combined score — the filter stage of a corpus
    cleaning pipeline (length/punct/stopword heuristics)."""
    words = doc_words(spark, sf_dir)
    per_doc = words.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.sum(F.when(F.col("w").isin(*STOPWORDS), 1).otherwise(0)).alias(
            "n_stop"
        ),
        (F.sum(F.length("w")) + F.count("*") - 1).alias("n_chars_txt"),
    )
    stop_ratio = F.col("n_stop") * 1.0 / F.col("n_tokens")
    return per_doc.select(
        "doc_id",
        "n_tokens",
        F.round(
            (F.col("n_chars_txt") - (F.col("n_tokens") - 1))
            * 1.0
            / F.col("n_tokens"),
            6,
        ).alias("avg_token_len"),
        F.round(stop_ratio, 6).alias("stopword_ratio"),
        F.round(F.log(F.col("n_tokens")) * (1 - stop_ratio), 6).alias(
            "quality_score"
        ),
    )


_ENTROPY_TAU = 0.94  # low-entropy flag: norm below the fixture's ~5% tail


@query(
    "q271_token_entropy",
    oracle=f"""
    WITH c AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS c
               FROM {DUCK_WORDS} words GROUP BY doc_id, w),
         d AS (SELECT doc_id,
                      CAST(SUM(c) AS BIGINT) AS n_tokens,
                      CAST(COUNT(*) AS BIGINT) AS n_types,
                      CAST(MAX(c) AS BIGINT) AS max_count,
                      {duck_exact_sum("c * ln(c)", 9)} AS s
               FROM c GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_types,
           ROUND(max_count * 1.0 / n_tokens, 6) AS top_share,
           ROUND((ln(n_tokens) - s / n_tokens) / ln(2), 6) AS entropy_bits,
           CASE WHEN n_types > 1
                THEN ROUND((ln(n_tokens) - s / n_tokens) / ln(n_types), 6)
           END AS norm_entropy,
           CASE WHEN n_types > 1
                THEN (ln(n_tokens) - s / n_tokens) / ln(n_types)
                     < {_ENTROPY_TAU}
                ELSE TRUE
           END AS is_low_entropy
    FROM d
    """,
)
def q271_token_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token-distribution entropy — the quality filter that
    catches repetitive/templated/spammy text that length and stopword
    heuristics (q43) and Gopher's repeated-line ratios (q91) both miss:
    Shannon entropy of the word-frequency distribution, H = log2(n) -
    (1/n)·Σ c·log2(c), plus the normalized form H / log2(n_types)
    (evenness: 1.0 = perfectly uniform usage, → 0 = one token dominates)
    and the top-token share. Docs below the evenness tail
    ({_ENTROPY_TAU}) are flagged; single-type docs are degenerate
    repetition and flag unconditionally.

    Exactness: each c·ln(c) term freezes to integer 1e-9 units before
    the per-doc sum (order-independent; identical integer c gives the
    identical double ln in both engines — the q223/q95 discipline), and
    the closed form needs only ONE log beyond the frozen sum, so no
    cross-engine accumulation drift. Scale: one grouped count and one
    per-doc rollup — two scan-shaped aggregates keyed on doc_id, no
    joins, no windows; entropy of a 100 TB corpus is embarrassingly
    parallel.

    Reference anchor: the activation-distribution entropy probes in
    `analysis/activation_stats.py` (SURVEY A1) — the same statistic,
    over token counts instead of activation histograms."""
    words = doc_words(spark, sf_dir)
    c = words.groupBy("doc_id", "w").agg(F.count("*").alias("c"))
    d = c.groupBy("doc_id").agg(
        F.sum("c").cast("long").alias("n_tokens"),
        F.count("*").alias("n_types"),
        F.max("c").cast("long").alias("max_count"),
        (
            F.sum(
                F.round(F.col("c") * F.log(F.col("c")) * 1e9).cast("long")
            ).cast("long")
            / 1e9
        ).alias("s"),
    )
    h_nats = F.log(F.col("n_tokens")) - F.col("s") / F.col("n_tokens")
    norm = h_nats / F.log(F.col("n_types"))
    return d.select(
        "doc_id",
        "n_tokens",
        "n_types",
        F.round(F.col("max_count") * 1.0 / F.col("n_tokens"), 6).alias(
            "top_share"
        ),
        F.round(h_nats / F.log(F.lit(2.0)), 6).alias("entropy_bits"),
        F.when(F.col("n_types") > 1, F.round(norm, 6)).alias("norm_entropy"),
        F.when(F.col("n_types") > 1, norm < _ENTROPY_TAU)
        .otherwise(F.lit(True))
        .alias("is_low_entropy"),
    )


# ---------------------------------------------------------------------------
# Language ID (n-gram/marker heuristic)
# ---------------------------------------------------------------------------


def _duck_langid_scores() -> str:
    score_cols = ",\n".join(
        f"CAST(SUM(CASE WHEN w IN {m} THEN 1 ELSE 0 END) AS BIGINT) AS s_{g}"
        for g, m in LANG_MARKERS.items()
    )
    return f"""(
        SELECT doc_id, lang, {score_cols}
        FROM {DUCK_WORDS} words
        GROUP BY doc_id, lang)"""


@query(
    "q44_lang_id",
    oracle=f"""
    SELECT lang, predicted_lang, COUNT(*) AS n_docs
    FROM (SELECT lang,
                 CASE WHEN s_de = m THEN 'de'
                      WHEN s_en = m THEN 'en'
                      WHEN s_es = m THEN 'es'
                      WHEN s_fr = m THEN 'fr'
                      ELSE 'zh' END AS predicted_lang
          FROM (SELECT lang, s_de, s_en, s_es, s_fr, s_zh,
                       greatest(s_de, s_en, s_es, s_fr, s_zh) AS m
                FROM {_duck_langid_scores()} scores))
    GROUP BY lang, predicted_lang
    """,
)
def q44_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Marker-word language-ID heuristic: score each language by hits on a
    fixed marker profile, argmax with alphabetical tie-break, confusion
    matrix against the labeled lang. (On this synthetic corpus the labels
    are random — the judged artifact is the operator shape: per-doc
    profile scores + deterministic argmax, one pass, no UDF.)"""
    words = doc_words(spark, sf_dir)
    scores = words.groupBy("doc_id", "lang").agg(
        *[
            F.sum(F.when(F.col("w").isin(*m), 1).otherwise(0))
            .cast("long")
            .alias(f"s_{g}")
            for g, m in LANG_MARKERS.items()
        ]
    )
    m = F.greatest(*[F.col(f"s_{g}") for g in LANG_MARKERS])
    pred = (
        F.when(F.col("s_de") == m, "de")
        .when(F.col("s_en") == m, "en")
        .when(F.col("s_es") == m, "es")
        .when(F.col("s_fr") == m, "fr")
        .otherwise("zh")
    )
    return (
        scores.select("lang", pred.alias("predicted_lang"))
        .groupBy("lang", "predicted_lang")
        .agg(F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# Document fingerprinting (rolling-hash min-sketch)
# ---------------------------------------------------------------------------


@query(
    "q45_fingerprint",
    oracle="""
    SELECT doc_id, MIN(md5(substr(text, CAST(pos AS INTEGER), 8))) AS fingerprint
    FROM (SELECT doc_id, text, unnest(range(1, len(text) - 6)) AS pos
          FROM documents)
    GROUP BY doc_id
    """,
)
def q45_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling character-8-gram fingerprint: lexicographic-min md5 over all
    shingles — a 1-permutation MinHash; two docs sharing a fingerprint are
    near-dup candidates. Lexicographic min over md5 strings is engine-
    portable (no integer-hash parity issues)."""
    docs = read_table(spark, sf_dir, "documents")
    # guard: for len(text) < 8, sequence(1, len-7) would auto-step -1 and
    # emit bogus positions while the oracle's range() is empty — emit no grams
    positions = F.when(
        F.length("text") >= 8, F.sequence(F.lit(1), F.length("text") - 7)
    ).otherwise(F.array().cast("array<int>"))
    grams = docs.select(
        "doc_id",
        F.posexplode(positions).alias("_i", "pos"),
        "text",
    ).select("doc_id", F.expr("substring(text, pos, 8)").alias("gram"))
    return grams.groupBy("doc_id").agg(
        F.min(F.md5(F.col("gram"))).alias("fingerprint")
    )


WINNOW_K = 8  # character k-gram length (same gram unit as q45)
WINNOW_W = 4  # winnowing window: guarantee = any shared substring of
# length >= W+K-1 (11 chars) yields a shared fingerprint


@query(
    "q272_winnowing_fingerprint",
    oracle=f"""
    WITH grams AS (SELECT doc_id,
                          CAST(pos AS INTEGER) AS pos,
                          md5(substr(text, CAST(pos AS INTEGER), {WINNOW_K}))
                              AS h
                   FROM (SELECT doc_id, text,
                                unnest(range(1, len(text) - {WINNOW_K - 2}))
                                    AS pos
                         FROM documents)),
         sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_grams
                   FROM grams GROUP BY doc_id),
         wins AS (SELECT doc_id, CAST(i AS INTEGER) AS i
                  FROM (SELECT doc_id,
                               unnest(range(1, n_grams - {WINNOW_W - 2}))
                                   AS i
                        FROM sizes WHERE n_grams >= {WINNOW_W})),
         sel AS (SELECT doc_id, pos, h FROM (
                     SELECT w.doc_id, g.pos, g.h,
                            ROW_NUMBER() OVER (
                                PARTITION BY w.doc_id, w.i
                                ORDER BY g.h, g.pos DESC) AS rn
                     FROM wins w JOIN grams g
                       ON g.doc_id = w.doc_id
                      AND g.pos >= w.i AND g.pos < w.i + {WINNOW_W})
                 WHERE rn = 1
                 GROUP BY doc_id, pos, h),
         perdoc AS (SELECT doc_id,
                           CAST(COUNT(*) AS BIGINT) AS n_fp
                    FROM sel GROUP BY doc_id),
         hashes AS (SELECT doc_id, h FROM sel GROUP BY doc_id, h),
         docs_per_hash AS (SELECT h, CAST(COUNT(*) AS BIGINT) AS n_docs
                           FROM hashes GROUP BY h),
         shared AS (SELECT hashes.doc_id,
                           CAST(SUM(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END)
                                AS BIGINT) AS n_shared_fp
                    FROM hashes JOIN docs_per_hash USING (h)
                    GROUP BY hashes.doc_id)
    SELECT s.doc_id, s.n_grams, p.n_fp,
           ROUND(p.n_fp * 1.0 / s.n_grams, 6) AS density,
           COALESCE(sh.n_shared_fp, 0) AS n_shared_fp
    FROM sizes s
    JOIN perdoc p ON p.doc_id = s.doc_id
    LEFT JOIN shared sh ON sh.doc_id = s.doc_id
    WHERE s.n_grams >= {WINNOW_W}
    """,
)
def q272_winnowing_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken 2003 —
    the MOSS algorithm): in every window of {WINNOW_W} consecutive
    character-{WINNOW_K}-gram hashes, select the minimum (rightmost on
    ties); the distinct selected positions are the fingerprint set.
    Unlike q45's 1-permutation MinHash (one hash per doc, probabilistic)
    winnowing GUARANTEES any shared substring of length >= w+k-1
    ({WINNOW_W + WINNOW_K - 1} chars) produces a shared fingerprint, at
    expected density 2/(w+1) — the local-similarity detector used for
    plagiarism/license-scan/boilerplate audits where misses are not
    acceptable. Per-doc report: gram count, fingerprints kept, realized
    density, and how many of the doc's fingerprints also appear in some
    OTHER doc (the cross-corpus overlap signal).

    Scale: the whole selection runs as ARRAY expressions inside one
    projection — a document fits in memory by definition, so windows
    never explode into join rows on the Spark side (the oracle's
    window×gram join is the semantic spec, not the plan). The min-fold
    uses `h <= acc` so the RIGHTMOST minimal gram wins, matching the
    oracle's ORDER BY h, pos DESC; md5-hex compares lexicographically
    the same in both engines (the q48 MinHash convention). The only
    shuffles are the per-doc rollup and the fingerprint-sharing count
    (one grouped count on the slim (doc, hash) stream).

    Reference anchor: q45's rolling fingerprint family
    (`tools/dataset_tools.py` content hashing), upgraded from
    one-hash-per-doc to the guaranteed positional scheme."""
    docs = read_table(spark, sf_dir, "documents")
    # the md5+window selection is CPU-bound scan-side work: spread it
    # across the cluster BEFORE the heavy projection — a single parquet
    # file otherwise caps it at the scan's split count (measured 223 s
    # on ~2 tasks vs ~20 s spread at the 10x fixture)
    base = docs.select("doc_id", "text").repartition(
        F.col("doc_id")
    ).withColumn(
        "harr",
        F.when(
            F.length("text") >= WINNOW_K,
            F.expr(
                f"transform(sequence(1, length(text) - {WINNOW_K - 1}), "
                f"p -> md5(substring(text, p, {WINNOW_K})))"
            ),
        ).otherwise(F.expr("CAST(array() AS array<string>)")),
    )
    # per-window min (the selected HASH), then the rightmost position of
    # that min via reverse+array_position; the (pos, h) pair array is
    # fully built BEFORE the explode — indexing harr after a Generate
    # would let CollapseProject inline the whole md5 transform into
    # every exploded row (measured 350 s vs 4 s on sf0.01)
    sel = (
        base.filter(F.size("harr") >= WINNOW_W)
        .withColumn(
            "warr",
            F.expr(
                f"transform(sequence(1, size(harr) - {WINNOW_W - 1}), "
                f"i -> array_min(slice(harr, i, {WINNOW_W})))"
            ),
        )
        .withColumn(
            "fp_pairs",
            F.expr(
                f"""array_distinct(transform(
                    sequence(1, size(warr)),
                    i -> struct(
                        i + {WINNOW_W} - array_position(
                            reverse(slice(harr, i, {WINNOW_W})),
                            warr[i - 1]) AS pos,
                        warr[i - 1] AS h)))"""
            ),
        )
    )
    # explode_OUTER: a plain explode makes Catalyst infer a
    # size(fp_pairs) > 0 constraint and push it to the scan filter with
    # the whole nested HOF chain INLINED (warr inlines harr per window —
    # a cubic md5 blowup measured at >300 s; outer generates no
    # constraint, and fp_pairs is never empty after the >= W gate)
    fp = sel.select(
        "doc_id",
        F.size("harr").cast("long").alias("n_grams"),
        F.explode_outer("fp_pairs").alias("fp"),
    ).select("doc_id", "n_grams", F.col("fp.pos").alias("pos"),
             F.col("fp.h").alias("h"))
    # three consumers (per-doc rollup, hash cardinality, sharing join)
    # would re-run the HOF selection 3x — persist the slim fingerprint
    # stream once (the capped_postings build-once convention);
    # FIFO-tracked (r13) so repeated cold builds release old storage
    fp = tracked_persist(fp)
    perdoc = fp.groupBy("doc_id", "n_grams").agg(
        F.count("*").alias("n_fp")
    )
    hashes = fp.select("doc_id", "h").distinct()
    docs_per_hash = hashes.groupBy("h").agg(F.count("*").alias("n_docs"))
    shared = (
        hashes.join(docs_per_hash, "h")
        .groupBy("doc_id")
        .agg(
            F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
            .cast("long")
            .alias("n_shared_fp")
        )
    )
    return perdoc.join(shared, "doc_id", "left").select(
        "doc_id",
        "n_grams",
        "n_fp",
        F.round(F.col("n_fp") * 1.0 / F.col("n_grams"), 6).alias("density"),
        F.coalesce("n_shared_fp", F.lit(0)).cast("long")
        .alias("n_shared_fp"),
    )


# ---------------------------------------------------------------------------
# BPE-ish regex token counting
# ---------------------------------------------------------------------------

TOKEN_RE = "[a-z]+|[0-9]+|[^a-z0-9 ]"


@query(
    "q42a_bpe_token_count",
    oracle=f"""
    SELECT source,
           CAST(SUM(CAST(len(regexp_extract_all(text, '{TOKEN_RE}'))
               AS BIGINT)) AS BIGINT) AS total_subword_tokens,
           CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
               AS total_ws_tokens,
           CAST(SUM(CAST(len(regexp_extract_all(text, '{TOKEN_RE}'))
               AS BIGINT)) AS BIGINT) * 1.0
               / CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
                      AS BIGINT) AS subword_per_word
    FROM documents
    GROUP BY source
    """,
)
def q42a_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE-ish token accounting: alpha-runs / digit-runs / punctuation as
    separate tokens (the regex stand-in for a subword tokenizer), next to
    whitespace tokens — the tokens-per-word ratio every training-data
    budget is priced in. Pure regexp expressions, scan-side."""
    docs = read_table(spark, sf_dir, "documents")
    subword = F.size(F.regexp_extract_all("text", F.lit(TOKEN_RE), 0)).cast("long")
    ws = F.size(F.split("text", " ")).cast("long")
    return docs.groupBy("source").agg(
        F.sum(subword).alias("total_subword_tokens"),
        F.sum(ws).alias("total_ws_tokens"),
        (F.sum(subword) * 1.0 / F.sum(ws)).alias("subword_per_word"),
    )


# ---------------------------------------------------------------------------
# Repetition metrics (Gopher-style quality filter signals)
# ---------------------------------------------------------------------------


@query(
    "q91_repetition_metrics",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') AS ws,
                         CAST(len(string_split(text, ' ')) AS BIGINT)
                             AS n_tokens,
                         CAST(len(list_distinct(string_split(text, ' ')))
                             AS BIGINT) AS n_distinct
                  FROM documents),
    bigr AS (SELECT doc_id,
                    ws[i + 1] || ' ' || ws[i + 2] AS bigram
             FROM (SELECT doc_id, ws, unnest(range(len(ws) - 1)) AS i
                   FROM toks)),
    bc AS (SELECT doc_id, bigram, COUNT(*) AS c
           FROM bigr GROUP BY doc_id, bigram),
    bagg AS (SELECT doc_id,
                    MAX(c) AS top_c,
                    CAST(SUM(CASE WHEN c >= 2 THEN c ELSE 0 END) AS BIGINT)
                        AS dup_bi,
                    CAST(SUM(c) AS BIGINT) AS n_bi
             FROM bc GROUP BY doc_id)
    SELECT t.doc_id, t.n_tokens,
           ROUND(1 - t.n_distinct * 1.0 / t.n_tokens, 6) AS dup_token_frac,
           ROUND(COALESCE(b.top_c, 0) * 1.0
                 / GREATEST(t.n_tokens - 1, 1), 6) AS top_bigram_frac,
           ROUND(COALESCE(b.dup_bi, 0) * 1.0
                 / GREATEST(t.n_tokens - 1, 1), 6) AS dup_bigram_frac
    FROM toks t LEFT JOIN bagg b ON t.doc_id = b.doc_id
    """,
)
def q91_repetition_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document repetition signals used as boilerplate/spam filters in
    corpus curation (the Gopher rules re-expressed relationally):
    duplicate-token fraction (1 - distinct/total), most-frequent-bigram
    mass, and the fraction of bigram instances whose bigram repeats.

    Scale shape: token and distinct-token counts are pure scan-side array
    expressions (split / array_distinct — no shuffle, no UDF); bigrams are
    generated scan-side by an index transform over the token array (same
    pattern as doc_shingles), so the only shuffle is the
    (doc_id, bigram) count — partial-aggregated map-side, keyed by doc_id,
    bounded rows per doc. At 100 TB every stage is embarrassingly parallel
    with one bounded-fanout aggregation."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.split("text", " ").alias("ws"),
    ).select(
        "doc_id",
        "ws",
        F.size("ws").cast("long").alias("n_tokens"),
        F.size(F.array_distinct("ws")).cast("long").alias("n_distinct"),
    )
    bigrams = F.expr(
        "CASE WHEN size(ws) >= 2 THEN "
        "transform(sequence(0, size(ws) - 2), "
        "i -> concat_ws(' ', ws[i], ws[i+1])) "
        "ELSE array() END"
    )
    bc = (
        toks.select("doc_id", F.explode(bigrams).alias("bigram"))
        .groupBy("doc_id", "bigram")
        .agg(F.count("*").alias("c"))
    )
    bagg = bc.groupBy("doc_id").agg(
        F.max("c").alias("top_c"),
        F.sum(F.when(F.col("c") >= 2, F.col("c")).otherwise(0)).alias(
            "dup_bi"
        ),
    )
    denom = F.greatest(F.col("n_tokens") - 1, F.lit(1))
    return (
        toks.drop("ws")
        .join(bagg, "doc_id", "left")
        .select(
            "doc_id",
            "n_tokens",
            F.round(
                1 - F.col("n_distinct") * 1.0 / F.col("n_tokens"), 6
            ).alias("dup_token_frac"),
            F.round(
                F.coalesce(F.col("top_c"), F.lit(0)) * 1.0 / denom, 6
            ).alias("top_bigram_frac"),
            F.round(
                F.coalesce(F.col("dup_bi"), F.lit(0)) * 1.0 / denom, 6
            ).alias("dup_bigram_frac"),
        )
    )


# ---------------------------------------------------------------------------
# BPE tokenizer training: greedy pair-merge steps over the vocab table
# ---------------------------------------------------------------------------

N_BPE_MERGES = 3

_DUCK_CHARSEQ = (
    "array_to_string(list_transform(range(1, len(w) + 1), i -> w[i]), ' ')"
)


def _duck_bpe_prefix() -> str:
    """Unrolled N_BPE_MERGES greedy merge iterations as chained CTEs
    (shared by the q92 training oracle and the q98 apply oracle)."""
    parts = [
        f"""w0 AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq
               FROM {DUCK_WORDS} words GROUP BY w),
        s0 AS (SELECT w, freq, {_DUCK_CHARSEQ} AS seq FROM w0)"""
    ]
    for k in range(1, N_BPE_MERGES + 1):
        prev = f"s{k - 1}"
        parts.append(
            f"""p{k} AS (SELECT ts[i + 1] || ' ' || ts[i + 2] AS pair,
                          CAST(SUM(freq) AS BIGINT) AS cnt
                   FROM (SELECT freq, string_split(seq, ' ') AS ts,
                                unnest(range(len(string_split(seq, ' ')) - 1))
                                    AS i
                         FROM {prev})
                   GROUP BY pair),
        b{k} AS (SELECT pair, cnt FROM p{k}
                 ORDER BY cnt DESC, pair LIMIT 1),
        s{k} AS (SELECT w, freq,
                        trim(replace(' ' || seq || ' ',
                                     ' ' || (SELECT pair FROM b{k}) || ' ',
                                     ' ' || replace((SELECT pair FROM b{k}),
                                                    ' ', '') || ' ')) AS seq
                 FROM {prev})"""
        )
    return ", ".join(parts)


def _duck_bpe_cte() -> str:
    selects = " UNION ALL ".join(
        f"""SELECT {k} AS step, pair, cnt AS pair_count,
               (SELECT CAST(SUM(len(string_split(seq, ' ')) * freq) AS BIGINT)
                FROM s{k}) AS corpus_tokens_after
        FROM b{k}"""
        for k in range(1, N_BPE_MERGES + 1)
    )
    return f"WITH {_duck_bpe_prefix()} {selects}"


@query("q92_bpe_merges", oracle=_duck_bpe_cte())
def q92_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer training, the first N_BPE_MERGES greedy merges:
    corpus -> word-frequency table -> char-symbol sequences -> repeat
    {count adjacent symbol pairs weighted by word freq; merge the most
    frequent pair (ties: lexicographic)}. Emits each step's chosen pair,
    its count, and the corpus token count after applying it — the
    compression trajectory a tokenizer build monitors.

    This is how production BPE training actually scales: the one pass
    over the corpus is the word-frequency groupBy (100 TB -> |vocab|
    rows); every merge iteration then runs on the tiny vocab table, so
    iteration cost is independent of corpus size. The argmax feeds back
    into the plan via a broadcast of the 1-row winner, never a driver
    collect. Pair application uses first-match-left replace semantics,
    identical in both engines (on runs of >= 4 identical symbols it
    merges every other occurrence — canonical BPE re-scans; the
    difference cannot affect which pair wins this round since winners
    are re-counted from the rewritten sequences each step)."""
    steps, _final = _bpe_chain(spark, sf_dir)
    out = steps[0]
    for extra in steps[1:]:
        out = out.unionAll(extra)
    return out


def _bpe_chain(
    spark: SparkSession, sf_dir: str
) -> tuple[list[DataFrame], DataFrame]:
    """The shared N_BPE_MERGES merge loop: returns (per-step 1-row
    summary DataFrames, the final vocab table (w, freq, seq)).

    The vocab table and each step's 1-row winner are chain-tier
    checkpointed (r12; r13: reliable checkpoint when a dir is
    configured): every iteration's plan otherwise embeds the whole prior
    iteration (pairs aggregate + broadcast winner + rewrite), so step k
    re-evaluated the corpus-scale word-frequency groupBy O(2^k) times —
    the classic iterative-lineage explosion (guide §3.3/§5). With the
    checkpoints the corpus is read once and every merge iteration runs
    on the materialized |vocab|-row table, which is the scale story the
    docstrings already claimed."""
    words = doc_words(spark, sf_dir).groupBy("w").agg(
        F.count("*").cast("long").alias("freq")
    )
    # chain tier (r13): each merge iteration references the previous
    # vocab 3x — truncation is structural (3^k plan growth otherwise);
    # reliable checkpoint when a dir is configured, else localCheckpoint
    s = words.select(
        "w",
        "freq",
        F.concat_ws(" ", F.split("w", r"(?!^)(?=.)")).alias("seq"),
    ).transform(chain_checkpoint)
    steps = []
    for k in range(1, N_BPE_MERGES + 1):
        pairs = (
            s.select("freq", F.split("seq", " ").alias("ts"))
            .select(
                "freq",
                F.explode(
                    F.expr(
                        "CASE WHEN size(ts) >= 2 THEN "
                        "transform(sequence(0, size(ts) - 2), "
                        "i -> concat_ws(' ', ts[i], ts[i+1])) "
                        "ELSE array() END"
                    )
                ).alias("pair"),
            )
            .groupBy("pair")
            .agg(F.sum("freq").alias("cnt"))
        )
        # 1-row winner + rewritten vocab, both materialized: `best` is
        # referenced twice (merge + step summary) and `s` three times
        # (pairs, rewrite, corpus-token count) per iteration
        best = pairs.orderBy(F.desc("cnt"), F.asc("pair")).limit(
            1
        ).transform(chain_checkpoint)
        s = s.crossJoin(
            F.broadcast(best.select(F.col("pair").alias("bp")))
        ).select(
            "w",
            "freq",
            F.trim(
                F.expr(
                    "replace(' ' || seq || ' ', ' ' || bp || ' ', "
                    "' ' || replace(bp, ' ', '') || ' ')"
                )
            ).alias("seq"),
        ).transform(chain_checkpoint)
        toks_after = s.agg(
            F.sum(F.size(F.split("seq", " ")) * F.col("freq"))
            .cast("long")
            .alias("corpus_tokens_after")
        )
        steps.append(
            best.select(
                F.lit(k).alias("step"),
                "pair",
                F.col("cnt").alias("pair_count"),
            ).crossJoin(F.broadcast(toks_after))
        )
    return steps, s


@query(
    "q98_bpe_tokenize",
    oracle=f"""
    WITH {_duck_bpe_prefix()}
    SELECT source,
           CAST(SUM(len(w)) AS BIGINT) AS total_chars,
           CAST(SUM(len(string_split(seq, ' '))) AS BIGINT)
               AS total_subwords,
           ROUND(SUM(len(string_split(seq, ' '))) * 1.0 / SUM(len(w)), 6)
               AS subwords_per_char
    FROM {DUCK_WORDS} words JOIN s{N_BPE_MERGES} USING (w)
    GROUP BY source
    """,
)
def q98_bpe_tokenize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer APPLY at corpus scale: run the q92-trained merge table
    over every word occurrence and report per-source subword counts and
    the chars→subwords compression — the budget number an actual
    pretraining run prices data in.

    Scale shape: tokenization is a BROADCAST join of the corpus token
    stream against the vocab-sized (w → final symbol sequence) table —
    the corpus side never shuffles for it; training cost was already
    amortized into the tiny vocab table by _bpe_chain. This is exactly
    how production tokenizers run on clusters: train small, apply as a
    map-side lookup."""
    _steps, final_vocab = _bpe_chain(spark, sf_dir)
    lut = final_vocab.select(
        "w", F.size(F.split("seq", " ")).cast("long").alias("n_sub")
    )
    return (
        doc_words(spark, sf_dir)
        .join(F.broadcast(lut), "w")
        .groupBy("source")
        .agg(
            F.sum(F.length("w").cast("long")).alias("total_chars"),
            F.sum("n_sub").alias("total_subwords"),
            F.round(
                F.sum("n_sub") * 1.0 / F.sum(F.length("w").cast("long")), 6
            ).alias("subwords_per_char"),
        )
    )


# ---------------------------------------------------------------------------
# Perplexity-style quality filter (CCNet shape): unigram LM + ntile buckets
# ---------------------------------------------------------------------------

N_PPL_BUCKETS = 3  # CCNet's head / middle / tail


@query(
    "q95_perplexity_filter",
    oracle=f"""
    WITH words AS (SELECT * FROM {DUCK_WORDS} w),
    freqs AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM words
              GROUP BY w),
    tot AS (SELECT CAST(SUM(freq) AS BIGINT) AS t FROM freqs),
    scored AS (SELECT doc_id, source,
                      ROUND(SUM(CAST(ROUND(-ln(freq * 1.0 / t) * 1e9)
                                AS BIGINT)) * 1.0 / (COUNT(*) * 1e9), 6)
                          AS nll
               FROM words JOIN freqs USING (w), tot
               GROUP BY doc_id, source),
    bucketed AS (SELECT source, nll,
                        ntile({N_PPL_BUCKETS}) OVER (
                            PARTITION BY source ORDER BY nll, doc_id
                        ) AS bucket
                 FROM scored)
    SELECT source, bucket,
           COUNT(*) AS n_docs,
           ROUND(SUM(CAST(ROUND(nll * 1e6) AS BIGINT)) * 1.0
                 / (COUNT(*) * 1e6), 6) AS mean_nll,
           MIN(nll) AS min_nll, MAX(nll) AS max_nll
    FROM bucketed GROUP BY source, bucket
    """,
)
def q95_perplexity_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style perplexity filtering: score every document by mean
    negative log-likelihood under a unigram LM trained on the corpus
    itself, then split each source into head/middle/tail terciles —
    the standard keep-the-head quality gate for web-scale corpora
    (a unigram LM stands in for the KenLM 5-gram; the pipeline shape is
    identical).

    Determinism: per-word -ln p(w) is rounded to 1e-9 units and summed
    as integers, so doc scores hash identically across engines; buckets
    come from ntile over (score, doc_id) — an order, not a float
    threshold, so no boundary flakes. Scale shape: the LM is a
    vocab-sized table (BROADCAST into the scoring join); scoring is one
    partial-aggregated groupBy(doc_id); the tercile window partitions by
    source (production swaps exact ntile for broadcast approx-quantile
    thresholds when a single source outgrows a partition — same output
    contract)."""
    words = doc_words(spark, sf_dir)
    freqs = words.groupBy("w").agg(F.count("*").cast("long").alias("freq"))
    tot = freqs.agg(F.sum("freq").alias("t"))
    scored = (
        words.join(F.broadcast(freqs), "w")
        .crossJoin(F.broadcast(tot))
        .groupBy("doc_id", "source")
        .agg(
            F.round(
                F.sum(
                    F.round(-F.log(F.col("freq") * 1.0 / F.col("t")) * 1e9)
                    .cast("long")
                )
                * 1.0
                / (F.count("*") * 1e9),
                6,
            ).alias("nll")
        )
    )
    w_src = Window.partitionBy("source").orderBy("nll", "doc_id")
    bucketed = scored.select(
        "source",
        "nll",
        F.ntile(N_PPL_BUCKETS).over(w_src).cast("long").alias("bucket"),
    )
    return bucketed.groupBy("source", "bucket").agg(
        F.count("*").alias("n_docs"),
        F.round(
            F.sum(F.round(F.col("nll") * 1e6).cast("long"))
            * 1.0
            / (F.count("*") * 1e6),
            6,
        ).alias("mean_nll"),
        F.min("nll").alias("min_nll"),
        F.max("nll").alias("max_nll"),
    )


# ---------------------------------------------------------------------------
# U1 extensibility tier: a real Python UDTF (table function), driver-checked.
# The module docstring's no-Python-UDF rule is for hot paths; this op is the
# registered demonstration that the engine's UDF/UDTF surface (SURVEY §2A
# U1/U5) is the stock Spark one — users plug in `@udtf` classes and call
# them from SQL with LATERAL, no engine-specific shim. Chunking specifically
# is also a real training-data op: sliding word windows sized to a model
# context (stride < width → overlapping chunks, the standard LM pretrain
# slicing), distinct from q89's greedy bin packing of whole documents.
# ---------------------------------------------------------------------------

CHUNK_WIDTH = 32  # words per chunk ≈ a toy context window
CHUNK_STRIDE = 16  # 50% overlap


class _ChunkDocs:
    """Python UDTF: text → (chunk_idx, chunk_text, n_words) sliding
    word-window chunks. Runs per-row in the Python worker — the
    extensibility tier, not the codegen hot path (q16's explode(split())
    is the built-in equivalent for simple token explosion)."""

    def eval(self, text: str):  # noqa: D102 — Spark UDTF contract
        words = (text or "").split(" ")
        for k, start in enumerate(range(0, len(words), CHUNK_STRIDE)):
            chunk = words[start : start + CHUNK_WIDTH]
            yield k, " ".join(chunk), len(chunk)


def chunk_udtf():
    """The `_ChunkDocs` UDTF wrapped for registration (built lazily so
    importing this module never requires an active session)."""
    from pyspark.sql.functions import udtf

    return udtf(
        _ChunkDocs, returnType="chunk_idx int, chunk_text string, n_words int"
    )


@query(
    "q100_chunk_udtf",
    oracle="""
    WITH d AS (SELECT doc_id, string_split(text, ' ') AS words
               FROM documents),
    s AS (SELECT doc_id, words, len(words) AS nw,
                 unnest(range(0, len(words), 16)) AS st
          FROM d)
    SELECT doc_id,
           CAST(st // 16 AS INT) AS chunk_idx,
           array_to_string(
               words[CAST(st + 1 AS INT):CAST(least(st + 32, nw) AS INT)],
               ' ') AS chunk_text,
           CAST(least(st + 32, nw) - st AS INT) AS n_words
    FROM s
    """,
)
def q100_chunk_udtf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Context-window chunking via the registered Python UDTF, applied
    with SQL LATERAL — the engine's user-defined-table-function surface
    end to end (register → plan → per-row generate)."""
    docs = read_table(spark, sf_dir, "documents")
    spark.udtf.register("hrs_chunk_docs", chunk_udtf())
    docs.createOrReplaceTempView("hrs_chunk_src")
    return spark.sql(
        """
        SELECT d.doc_id, c.chunk_idx, c.chunk_text, c.n_words
        FROM hrs_chunk_src d, LATERAL hrs_chunk_docs(d.text) c
        """
    )


@query(
    "q105_pii_scrub",
    oracle="""
    WITH lines AS (
        SELECT event_type,
               'uid=' || CAST(user_id AS VARCHAR) || ' v=' ||
               CAST(CAST(ROUND(value * 100) AS INTEGER) AS VARCHAR) ||
               ' ' || props AS line
        FROM events)
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           CAST(SUM(len(regexp_extract_all(line, '[0-9]+'))) AS BIGINT)
               AS total_redactions,
           CAST(SUM(length(regexp_replace(line, '[^0-9]', '', 'g')))
               AS BIGINT) AS masked_chars,
           CAST(COUNT(DISTINCT regexp_replace(line, '[0-9]+', '<NUM>', 'g'))
               AS BIGINT) AS n_masked_forms
    FROM lines GROUP BY event_type
    """,
)
def q105_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII-style redaction audit — the scrub stage of a training-data
    pipeline: mask every digit run in a composed log line (numeric
    identifiers being the stand-in for phone/account numbers in the
    synthetic corpus) and report per-type row counts, redaction counts,
    total masked characters, and distinct post-mask templates.

    Pure column expressions (regexp_count / regexp_replace) — the scrub
    runs scan-side in whole-stage codegen, no Python, no shuffle beyond
    the final small groupBy. Regex class [0-9]+ evaluates identically in
    Spark (Java regex) and DuckDB (RE2), which the oracle hash pins."""
    ev = read_table(spark, sf_dir, "events")
    line = F.concat(
        F.lit("uid="), F.col("user_id").cast("string"),
        F.lit(" v="),
        F.round(F.col("value") * 100).cast("int").cast("string"),
        F.lit(" "), F.col("props"),
    )
    masked = F.regexp_replace(line, "[0-9]+", "<NUM>")
    return ev.select(
        "event_type",
        F.regexp_count(line, F.lit("[0-9]+")).alias("runs"),
        F.length(F.regexp_replace(line, "[^0-9]", "")).alias("digits"),
        masked.alias("masked"),
    ).groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("runs").alias("total_redactions"),
        F.sum("digits").alias("masked_chars"),
        F.countDistinct("masked").alias("n_masked_forms"),
    )


# ---------------------------------------------------------------------------
# Count-min sketch heavy hitters
# ---------------------------------------------------------------------------

CMS_DEPTH = 4  # independent hash rows
CMS_WIDTH = 16  # buckets per row (one hex digit)
HEAVY_TOP_K = 10

_CMS_BUCKET = (
    "instr('0123456789abcdef', substr(md5({j} || ':' || w), 1, 1)) - 1"
)


@query(
    "q114_countmin_heavy_hitters",
    oracle=f"""
    WITH words AS (SELECT doc_id, w FROM {DUCK_WORDS} words),
         rows_ AS (SELECT unnest(range({CMS_DEPTH})) AS j),
         cells AS (SELECT j, {_CMS_BUCKET.format(j="j")} AS bucket,
                          CAST(COUNT(*) AS BIGINT) AS cell
                   FROM words, rows_ GROUP BY j, bucket),
         vocab AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS true_cnt
                   FROM words GROUP BY w),
         est AS (SELECT vocab.w, vocab.true_cnt,
                        CAST(MIN(cells.cell) AS BIGINT) AS est_cnt
                 FROM vocab JOIN rows_ ON TRUE
                      JOIN cells ON cells.j = rows_.j
                        AND cells.bucket = {_CMS_BUCKET.format(j="rows_.j")}
                 GROUP BY vocab.w, vocab.true_cnt)
    SELECT w, true_cnt, est_cnt, est_cnt - true_cnt AS overcount
    FROM est
    ORDER BY true_cnt DESC, w LIMIT {HEAVY_TOP_K}
    """,
)
def q114_countmin_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min sketch (Cormode & Muthukrishnan) heavy hitters: a
    4x16 counter grid built as ONE grouped aggregate
    (token stream x depth literals), then every vocab word estimated as
    min over its 4 cells. The grid is depth*width = 64
    rows regardless of corpus size — the mergeable, fixed-memory
    frequency summary used when the true vocab doesn't fit anywhere —
    and the md5 bucket hashes make the sketch bit-identical on any
    engine. Output pins the CMS guarantee: est_cnt >= true_cnt always
    (overcount >= 0), with the top-k checked against exact counts."""
    words = doc_words(spark, sf_dir).select("w")
    depth = spark.range(CMS_DEPTH).select(F.col("id").cast("int").alias("j"))
    cells = (
        words.join(F.broadcast(depth))
        .select(
            "j",
            F.expr(_CMS_BUCKET.format(j="j")).alias("bucket"),
        )
        .groupBy("j", "bucket")
        .agg(F.count("*").alias("cell"))
    )
    vocab = words.groupBy("w").agg(F.count("*").alias("true_cnt"))
    est = (
        vocab.join(F.broadcast(depth))
        .withColumn("bucket", F.expr(_CMS_BUCKET.format(j="j")))
        .join(F.broadcast(cells), ["j", "bucket"])
        .groupBy("w", "true_cnt")
        .agg(F.min("cell").alias("est_cnt"))
    )
    return (
        est.select(
            "w",
            "true_cnt",
            "est_cnt",
            (F.col("est_cnt") - F.col("true_cnt")).alias("overcount"),
        )
        .orderBy(F.desc("true_cnt"), "w")
        .limit(HEAVY_TOP_K)
    )


# ---------------------------------------------------------------------------
# Distributed top-k with deterministic bounds (TPUT)
# ---------------------------------------------------------------------------

TPUT_P = 32  # partitions ("nodes"); scales with the cluster, not the data
TPUT_M = 20  # local top-m shipped per partition
TPUT_K = 10  # global top-k reported

# bucket = (first two md5 hex digits as 0..255) mod P — portable + uniform
_TPUT_BUCKET = (
    "((instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) - 1) * 16 "
    "+ instr('0123456789abcdef', substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)) - 1) "
    f"% {TPUT_P}"
)


@query(
    "q266_tput_topk_bounds",
    oracle=f"""
    WITH words AS (SELECT doc_id, w FROM {DUCK_WORDS} words),
         cnts AS (SELECT {_TPUT_BUCKET} AS b, w,
                         CAST(COUNT(*) AS BIGINT) AS c
                  FROM words GROUP BY {_TPUT_BUCKET}, w),
         ranked AS (SELECT b, w, c,
                           ROW_NUMBER() OVER (PARTITION BY b
                                              ORDER BY c DESC, w) AS rn
                    FROM cnts),
         locals_ AS (SELECT b, w, c FROM ranked WHERE rn <= {TPUT_M}),
         taus AS (SELECT nodes.b,
                         COALESCE(t.tau, 0) AS tau
                  FROM (SELECT unnest(range({TPUT_P})) AS b) nodes
                  LEFT JOIN (SELECT b,
                                    CASE WHEN COUNT(*) = {TPUT_M}
                                         THEN MIN(c) ELSE 0 END AS tau
                             FROM locals_ GROUP BY b) t
                    ON t.b = nodes.b),
         cands AS (SELECT DISTINCT w FROM locals_),
         bounds AS (SELECT g.w,
                           CAST(SUM(COALESCE(l.c, 0)) AS BIGINT) AS lb,
                           CAST(SUM(COALESCE(l.c, g.tau)) AS BIGINT) AS ub
                    FROM (SELECT c.w, t.b, t.tau
                          FROM cands c CROSS JOIN taus t) g
                    LEFT JOIN locals_ l ON l.b = g.b AND l.w = g.w
                    GROUP BY g.w),
         truth AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS true_cnt
                   FROM words GROUP BY w)
    SELECT bounds.w, bounds.lb, bounds.ub, truth.true_cnt,
           CAST(truth.true_cnt BETWEEN bounds.lb AND bounds.ub
                AS INTEGER) AS in_bounds
    FROM bounds JOIN truth ON truth.w = bounds.w
    ORDER BY bounds.lb DESC, bounds.w LIMIT {TPUT_K}
    """,
)
def q266_tput_topk_bounds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed top-k with DETERMINISTIC error bounds (the TPUT /
    threshold-algorithm shape, Cao & Wang 2004): the corpus is split
    into TPUT_P=32 deterministic md5 buckets (the "nodes"), each node
    ships only its local top-m (TPUT_M=20) words plus its threshold tau
    (its m-th count; 0 if it holds fewer than m words). For every shipped
    candidate the coordinator derives
      lb = sum of counts from nodes that reported it,
      ub = lb + sum of tau over nodes that did NOT report it
    (a word a node does not report has local count <= that node's tau).
    The true count provably sits in [lb, ub] — pinned per row by the
    in_bounds column — which is what CMS (q114) cannot give: CMS bounds
    hold only in expectation over hash draws; TPUT's are worst-case.

    Scale: the only corpus-wide shuffle is the (bucket, word) count;
    the local-top window partitions by bucket — bucket count tracks the
    CLUSTER size (one per node/executor slice), so each window sorts a
    |vocab|/P slice, and everything after it operates on at most
    P*m shipped rows plus the P-row broadcast tau table."""
    words = doc_words(spark, sf_dir).select("doc_id", "w")
    bexpr = F.expr(_TPUT_BUCKET.replace("VARCHAR", "STRING"))
    cnts = (
        words.select(bexpr.alias("b"), "w")
        .groupBy("b", "w")
        .agg(F.count("*").alias("c"))
    )
    win = Window.partitionBy("b").orderBy(F.desc("c"), "w")
    ranked = cnts.withColumn("rn", F.row_number().over(win))
    locals_ = ranked.filter(F.col("rn") <= TPUT_M).select("b", "w", "c")
    nodes = spark.range(TPUT_P).select(F.col("id").cast("long").alias("b"))
    taus = (
        nodes.join(
            locals_.groupBy("b").agg(
                F.when(F.count("*") == TPUT_M, F.min("c"))
                .otherwise(F.lit(0))
                .alias("tau")
            ),
            "b",
            "left",
        )
        .select("b", F.coalesce("tau", F.lit(0)).alias("tau"))
    )
    cands = locals_.select("w").distinct()
    grid = cands.crossJoin(F.broadcast(taus))
    bounds = (
        grid.join(F.broadcast(locals_), ["b", "w"], "left")
        .groupBy("w")
        .agg(
            F.sum(F.coalesce("c", F.lit(0))).alias("lb"),
            F.sum(F.coalesce("c", F.col("tau"))).alias("ub"),
        )
    )
    truth = words.groupBy("w").agg(F.count("*").alias("true_cnt"))
    return (
        bounds.join(truth, "w")
        .select(
            "w",
            "lb",
            "ub",
            "true_cnt",
            F.col("true_cnt")
            .between(F.col("lb"), F.col("ub"))
            .cast("int")
            .alias("in_bounds"),
        )
        .orderBy(F.desc("lb"), "w")
        .limit(TPUT_K)
    )


# ---------------------------------------------------------------------------
# PMI collocations
# ---------------------------------------------------------------------------

PMI_MIN_SUPPORT = 5
PMI_TOP_K = 20


@query(
    "q126_pmi_collocations",
    oracle=f"""
    WITH words AS (SELECT doc_id, pos, w FROM {DUCK_WORDS} words),
         uni AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
                 FROM words GROUP BY w),
         n_uni AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM uni),
         bi AS (SELECT w AS w1, w2, CAST(COUNT(*) AS BIGINT) AS cnt
                FROM (SELECT doc_id, pos, w,
                             lead(w) OVER (PARTITION BY doc_id ORDER BY pos)
                                 AS w2
                      FROM words)
                WHERE w2 IS NOT NULL GROUP BY w, w2),
         n_bi AS (SELECT CAST(SUM(cnt) AS BIGINT) AS n FROM bi)
    SELECT bi.w1, bi.w2, bi.cnt,
           ROUND(ln((bi.cnt * 1.0 / n_bi.n)
                    / ((a.cnt * 1.0 / n_uni.n) * (b.cnt * 1.0 / n_uni.n))),
                 6) AS pmi
    FROM bi JOIN uni a ON bi.w1 = a.w
            JOIN uni b ON bi.w2 = b.w, n_uni, n_bi
    WHERE bi.cnt >= {PMI_MIN_SUPPORT}
    ORDER BY pmi DESC, bi.w1, bi.w2 LIMIT {PMI_TOP_K}
    """,
)
def q126_pmi_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PMI collocation mining (Church & Hanks): rank adjacent word pairs
    by pointwise mutual information ln(p(ab) / p(a)p(b)) — the phrase
    extractor that feeds tokenizer vocab curation (multi-word units that
    behave as one token). All probabilities come from exact integer
    counts; only the final log ratio is floating, rounded to 6dp with a
    full lexicographic tiebreak.

    Scale: bigrams are a lag window inside each doc partition (linear);
    both the unigram LM and the two scalar totals are broadcast
    |vocab|-row / 1-row tables; the support filter prunes before the
    join; top-k is TakeOrderedAndProject."""
    words = doc_words(spark, sf_dir).select("doc_id", "pos", "w")
    win = Window.partitionBy("doc_id").orderBy("pos")
    uni = words.groupBy("w").agg(F.count("*").alias("cnt"))
    n_uni = uni.agg(F.sum("cnt").alias("n_u"))
    bi = (
        words.withColumn("w2", F.lead("w").over(win))
        .filter(F.col("w2").isNotNull())
        .groupBy(F.col("w").alias("w1"), "w2")
        .agg(F.count("*").alias("cnt"))
    )
    n_bi = bi.agg(F.sum("cnt").alias("n_b"))
    a = uni.select(F.col("w").alias("w1"), F.col("cnt").alias("ca"))
    b = uni.select(F.col("w").alias("w2"), F.col("cnt").alias("cb"))
    return (
        bi.filter(F.col("cnt") >= PMI_MIN_SUPPORT)
        .join(F.broadcast(a), "w1")
        .join(F.broadcast(b), "w2")
        .join(F.broadcast(n_uni))
        .join(F.broadcast(n_bi))
        .select(
            "w1",
            "w2",
            "cnt",
            F.round(
                F.log(
                    (F.col("cnt") * 1.0 / F.col("n_b"))
                    / (
                        (F.col("ca") * 1.0 / F.col("n_u"))
                        * (F.col("cb") * 1.0 / F.col("n_u"))
                    )
                ),
                6,
            ).alias("pmi"),
        )
        .orderBy(F.desc("pmi"), "w1", "w2")
        .limit(PMI_TOP_K)
    )


# ---------------------------------------------------------------------------
# Grouped-aggregate pandas UDAF (U1's third leg, next to the scalar
# pandas-UDF tier and the q100 UDTF)
# ---------------------------------------------------------------------------


def _doc_udafs():
    """Custom Arrow-batched aggregates (GROUPED_AGG pandas UDFs — the
    Series→scalar type hints select the eval type): exact int64 count,
    Σx and Σx². Built lazily because the decorator parses its return
    type against the active session; Spark disallows mixing grouped-agg
    pandas UDFs with JVM aggregates in one agg(), so the whole
    aggregation list is custom-tier."""

    @F.pandas_udf("long")
    def ucount(v: pd.Series) -> int:
        return int(len(v))

    @F.pandas_udf("long")
    def usum(v: pd.Series) -> int:
        return int(v.astype("int64").sum())

    @F.pandas_udf("long")
    def usumsq(v: pd.Series) -> int:
        a = v.astype("int64")
        return int((a * a).sum())

    return ucount, usum, usumsq


@query(
    "q141_grouped_udaf",
    oracle="""
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(SUM(n_chars * n_chars) AS BIGINT) AS sumsq_chars,
           CAST(COUNT(*) * SUM(n_chars * n_chars)
                - SUM(n_chars) * SUM(n_chars) AS BIGINT) AS nsq_var
    FROM documents
    GROUP BY source
    """,
)
def q141_grouped_udaf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom aggregation via a GROUPED_AGG pandas UDF (U1 extensibility,
    the UDAF leg): per source, Σx² of document lengths computed by an
    Arrow-batched user aggregate, then the exact integer second-moment
    identity n·Σx² − (Σx)² — all bigint, so the custom-tier result
    hash-matches plain SQL.

    Scale note: grouped-agg pandas UDFs ship each group's raw column to
    one Arrow batch (no partial aggregation) — the price of the custom
    tier. The discipline at 100 TB: keep UDAF groups bounded (here
    |source| groups of document lengths), and when the reduction IS
    expressible in built-ins — as this Σx² deliberately is, for the
    oracle — prefer the JVM aggregate with map-side combine."""
    docs = read_table(spark, sf_dir, "documents")
    ucount, usum, usumsq = _doc_udafs()
    n = ucount("n_chars")
    tot = usum("n_chars")
    ss = usumsq("n_chars")
    return docs.groupBy("source").agg(
        n.alias("n_docs"),
        tot.alias("total_chars"),
        ss.alias("sumsq_chars"),
        (n * ss - tot * tot).cast("long").alias("nsq_var"),
    )

_HEAPS_DECILES = 10


@query(
    "q181_vocab_growth",
    oracle=f"""
    WITH words AS (SELECT doc_id, w FROM {DUCK_WORDS} words),
    nmax AS (SELECT MAX(doc_id) + 1 AS n FROM documents),
    firsts AS (
        SELECT w, MIN(doc_id) AS first_doc FROM words GROUP BY w),
    toks AS (
        SELECT CAST(FLOOR(doc_id * {_HEAPS_DECILES} * 1.0 / n) AS INT)
                   AS decile,
               COUNT(*) AS n_tokens
        FROM words, nmax GROUP BY 1),
    vocab AS (
        SELECT CAST(FLOOR(first_doc * {_HEAPS_DECILES} * 1.0 / n) AS INT)
                   AS decile,
               COUNT(*) AS n_new_types
        FROM firsts, nmax GROUP BY 1)
    SELECT t.decile,
           CAST(t.n_tokens AS BIGINT) AS n_tokens,
           CAST(SUM(t.n_tokens) OVER (ORDER BY t.decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_tokens,
           CAST(COALESCE(v.n_new_types, 0) AS BIGINT) AS n_new_types,
           CAST(SUM(COALESCE(v.n_new_types, 0)) OVER (ORDER BY t.decile
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS BIGINT)
               AS cum_vocab
    FROM toks t LEFT JOIN vocab v ON t.decile = v.decile
    """,
)
def q181_vocab_growth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary growth curve (Heaps' law QA): cumulative distinct word
    types vs cumulative tokens over corpus prefixes (doc-id deciles). A
    healthy natural corpus grows ~n^0.5-0.8; a flat curve means
    boilerplate/duplication, a linear one means noise — the
    corpus-health read every tokenizer-training run checks first.
    Single-scan shape: each type contributes ONE row at its
    first-occurrence doc (min(doc_id) per word), so the curve needs no
    per-prefix rescans; cumulative sums run over the 10-row decile
    rollup."""
    words = doc_words(spark, sf_dir).select("doc_id", "w")
    docs = read_table(spark, sf_dir, "documents")
    nmax = docs.agg((F.max("doc_id") + 1).alias("n"))
    decile_of = lambda c: (  # noqa: E731
        F.floor(F.col(c) * float(_HEAPS_DECILES) / F.col("n")).cast("int")
    )
    toks = (
        words.join(F.broadcast(nmax))
        .groupBy(decile_of("doc_id").alias("decile"))
        .agg(F.count("*").alias("n_tokens"))
    )
    vocab = (
        words.groupBy("w")
        .agg(F.min("doc_id").alias("first_doc"))
        .join(F.broadcast(nmax))
        .groupBy(decile_of("first_doc").alias("decile"))
        .agg(F.count("*").alias("n_new_types"))
    )
    j = toks.join(vocab, "decile", "left").select(
        "decile",
        "n_tokens",
        F.coalesce("n_new_types", F.lit(0)).alias("n_new_types"),
    )
    w = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    return j.select(
        "decile",
        "n_tokens",
        F.sum("n_tokens").over(w).alias("cum_tokens"),
        "n_new_types",
        F.sum("n_new_types").over(w).alias("cum_vocab"),
    )

_COV_VOCAB = 512


def _cov_split_sql() -> str:
    from hive_reflex_spark.operators.sampling import _SPLIT_SQL

    return _SPLIT_SQL


_COV_SPLIT_SQL = _cov_split_sql()


@query(
    "q182_vocab_coverage",
    oracle=f"""
    WITH words AS (SELECT doc_id, w FROM {DUCK_WORDS} words),
    freqs AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS freq FROM words
              GROUP BY w),
    vocab AS (SELECT w FROM freqs
              ORDER BY freq DESC, w LIMIT {_COV_VOCAB}),
    tagged AS (
        SELECT {_COV_SPLIT_SQL} AS split,
               words.w, v.w IS NOT NULL AS in_vocab
        FROM words LEFT JOIN vocab v ON words.w = v.w)
    SELECT split, COUNT(*) AS n_tokens,
           CAST(SUM(CASE WHEN in_vocab THEN 0 ELSE 1 END) AS BIGINT)
               AS n_oov_tokens,
           ROUND(SUM(CASE WHEN in_vocab THEN 0 ELSE 1 END) * 1.0 / COUNT(*),
                 6) AS oov_rate,
           CAST(COUNT(DISTINCT CASE WHEN NOT in_vocab THEN w END) AS BIGINT)
               AS n_oov_types
    FROM tagged GROUP BY split
    """,
)
def q182_vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Closed-vocabulary coverage QA: fix the top-512-by-frequency word
    vocabulary and measure each q85 split's OOV token rate and distinct
    OOV types — the held-out-coverage check that sizes a vocabulary
    before committing a tokenizer (an OOV rate that jumps on val/test
    means the vocab memorized the head of a skewed corpus). The vocab is
    bounded by construction and broadcasts; the corpus stream takes one
    left join and one grouped aggregate."""
    from hive_reflex_spark.operators.sampling import _split_col

    words = doc_words(spark, sf_dir).select("doc_id", "w")
    vocab = (
        words.groupBy("w")
        .agg(F.count("*").cast("long").alias("freq"))
        .orderBy(F.desc("freq"), "w")
        .limit(_COV_VOCAB)
        .select("w", F.lit(1).alias("iv"))
    )
    tagged = words.join(F.broadcast(vocab), "w", "left").select(
        _split_col().alias("split"),
        "w",
        F.col("iv").isNotNull().alias("in_vocab"),
    )
    oov = F.when(F.col("in_vocab"), 0).otherwise(1)
    return tagged.groupBy("split").agg(
        F.count("*").alias("n_tokens"),
        F.sum(oov).cast("long").alias("n_oov_tokens"),
        F.round(F.sum(oov) * 1.0 / F.count("*"), 6).alias("oov_rate"),
        F.countDistinct(
            F.when(~F.col("in_vocab"), F.col("w"))
        ).alias("n_oov_types"),
    )


# ---------------------------------------------------------------------------
# Zipf slope — corpus-statistics twin of q181's Heaps-law vocab growth
# ---------------------------------------------------------------------------

_ZIPF_TOP = 1000


@query(
    "q223_zipf_slope",
    oracle=f"""
    WITH words AS {DUCK_WORDS},
    freq AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS f
             FROM words GROUP BY w
             ORDER BY f DESC, w LIMIT {_ZIPF_TOP}),
    ranked AS (
        SELECT f, ROW_NUMBER() OVER (ORDER BY f DESC, w) AS r FROM freq),
    units AS (
        SELECT CAST(ROUND(ln(r) * 1000000000) AS BIGINT) AS x,
               CAST(ROUND(ln(f) * 1000000000) AS BIGINT) AS y
        FROM ranked),
    sums AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(x) AS BIGINT) AS sx, CAST(SUM(y) AS BIGINT) AS sy,
               {duck_unit_sum("(x / 1000000000.0) * y", 0)} AS sxy,
               {duck_unit_sum("(x / 1000000000.0) * x", 0)} AS sxx,
               {duck_unit_sum("(y / 1000000000.0) * y", 0)} AS syy
        FROM units)
    SELECT n AS n_words,
           ROUND((n * sxy - sx * (sy / 1000000000.0))
                 / (n * sxx - sx * (sx / 1000000000.0)), 6) AS slope,
           ROUND((sy - sx * (n * sxy - sx * (sy / 1000000000.0))
                       / (n * sxx - sx * (sx / 1000000000.0)))
                 / (n * 1000000000.0), 6) AS intercept,
           ROUND(POWER(n * sxy - sx * (sy / 1000000000.0), 2)
                 / ((n * sxx - sx * (sx / 1000000000.0))
                    * (n * syy - sy * (sy / 1000000000.0))), 6) AS r2
    FROM sums
    """,
)
def q223_zipf_slope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf's-law fit over the corpus word-frequency distribution: OLS
    of ln(freq) on ln(rank) for the top-{_ZIPF_TOP} words — the
    power-law slope (natural text ~ -1) that, next to q181's Heaps
    curve, fingerprints whether a corpus is organic text, templated
    boilerplate (flatter head) or spam (steeper head). One
    word-frequency hash aggregate, global top-{_ZIPF_TOP} via
    TakeOrderedAndProject (per-partition heaps — the full vocabulary is
    never sorted or single-partitioned), rank + closed-form regression
    on the {_ZIPF_TOP}-row result. Log terms are rounded to exact 1e-9
    integer units before summation (the repo's exact-sum discipline) so
    the fit is order-independent and engine-portable."""
    from hive_reflex_spark.operators.text import doc_words as _dw

    freq = (
        _dw(spark, sf_dir)
        .groupBy("w")
        .agg(F.count("*").alias("f"))
        .orderBy(F.desc("f"), "w")
        .limit(_ZIPF_TOP)
    )
    ranked = freq.withColumn(
        "r", F.row_number().over(Window.orderBy(F.desc("f"), "w"))
    )
    u = 1_000_000_000
    units = ranked.select(
        F.round(F.log(F.col("r").cast("double")) * u).cast("long").alias("x"),
        F.round(F.log(F.col("f").cast("double")) * u).cast("long").alias("y"),
    )
    sums = units.agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(
            F.round((F.col("x") / (u * 1.0)) * F.col("y")).cast("long")
        ).alias("sxy"),
        F.sum(
            F.round((F.col("x") / (u * 1.0)) * F.col("x")).cast("long")
        ).alias("sxx"),
        F.sum(
            F.round((F.col("y") / (u * 1.0)) * F.col("y")).cast("long")
        ).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * (
        F.col("sy") / (u * 1.0)
    )
    den = F.col("n") * F.col("sxx") - F.col("sx") * (
        F.col("sx") / (u * 1.0)
    )
    deny = F.col("n") * F.col("syy") - F.col("sy") * (
        F.col("sy") / (u * 1.0)
    )
    return sums.select(
        F.col("n").alias("n_words"),
        F.round(num / den, 6).alias("slope"),
        F.round(
            (F.col("sy") - F.col("sx") * (num / den)) / (F.col("n") * u * 1.0),
            6,
        ).alias("intercept"),
        F.round(F.pow(num, 2) / (den * deny), 6).alias("r2"),
    )


# ---------------------------------------------------------------------------
# N-gram novelty (memorization / derivative-content audit)
# ---------------------------------------------------------------------------


@query(
    "q250_ngram_novelty",
    oracle=f"""
    WITH dsh AS (SELECT DISTINCT doc_id, shingle FROM {DUCK_SHINGLES} sh),
         first_seen AS (SELECT shingle, MIN(doc_id) AS first_doc
                        FROM dsh GROUP BY shingle),
         per_doc AS (SELECT d.doc_id,
                            CAST(COUNT(*) AS BIGINT) AS n_shingles,
                            CAST(SUM(CASE WHEN f.first_doc = d.doc_id
                                          THEN 1 ELSE 0 END) AS BIGINT)
                                AS n_novel
                     FROM dsh d JOIN first_seen f USING (shingle)
                     GROUP BY d.doc_id)
    SELECT doc.source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_shingles) AS BIGINT) AS total_shingles,
           CAST(SUM(n_novel) AS BIGINT) AS total_novel,
           ROUND(SUM(n_novel) * 1.0 / SUM(n_shingles), 6) AS novelty
    FROM per_doc pd JOIN documents doc USING (doc_id)
    GROUP BY doc.source
    """,
)
def q250_ngram_novelty(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source n-gram novelty: the fraction of a source's distinct
    3-word shingles whose FIRST corpus occurrence (min doc_id — ingestion
    order) is in that source's own documents. Low novelty = the source is
    derivative of earlier-ingested data (quotes, mirrors, template spam);
    curation pipelines use this to down-weight copy-heavy sources before
    the pairwise dedup stages ever run. Docs shorter than one shingle
    (< 3 tokens) carry no signal and are excluded — mirrored by the
    oracle's inner joins.

    Scale (100 TB): ONE shuffle keyed on shingle computes first-occurrence
    (min-reduce) and the membership join rides the same partitioning
    (co-partitioned join on the groupBy key — no second exchange); the
    per-doc reduce keys on doc_id and the final rollup on source is
    ~|sources| rows. Nothing is broadcast or collected; novelty needs no
    pairwise comparisons at all, which is what makes it the cheap
    pre-filter in front of MinHash/LSH."""
    dsh = doc_shingles(spark, sf_dir).distinct()
    first_seen = dsh.groupBy("shingle").agg(F.min("doc_id").alias("first_doc"))
    per_doc = (
        dsh.join(first_seen, "shingle")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(
                F.when(F.col("first_doc") == F.col("doc_id"), 1).otherwise(0)
            ).alias("n_novel"),
        )
    )
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    return (
        per_doc.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_shingles").alias("total_shingles"),
            F.sum("n_novel").alias("total_novel"),
            F.round(
                F.sum("n_novel") * 1.0 / F.sum("n_shingles"), 6
            ).alias("novelty"),
        )
    )


# ---------------------------------------------------------------------------
# Pareto skyline (multi-criteria document selection)
# ---------------------------------------------------------------------------


@query(
    "q251_pareto_skyline",
    oracle=f"""
    WITH feats AS (SELECT doc_id,
                          CAST(COUNT(*) AS BIGINT) AS n_tokens,
                          CAST(COUNT(DISTINCT w) AS BIGINT) AS n_distinct,
                          COUNT(DISTINCT w) * 1.0 / COUNT(*) AS ttr
                   FROM {DUCK_WORDS} words GROUP BY doc_id)
    SELECT doc_id, n_tokens, n_distinct, ROUND(ttr, 6) AS ttr
    FROM feats t
    WHERE NOT EXISTS (
        SELECT 1 FROM feats d
        WHERE d.n_tokens >= t.n_tokens AND d.ttr >= t.ttr
          AND (d.n_tokens > t.n_tokens OR d.ttr > t.ttr))
    """,
)
def q251_pareto_skyline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """2-D Pareto skyline over (length, lexical diversity): the documents
    not dominated on BOTH n_tokens and type-token ratio — the multi-
    criteria selection primitive behind "pick long AND diverse" curation
    policies (no scalarized weight to tune; the skyline IS the tradeoff
    frontier). The oracle is the O(n²) NOT-EXISTS definition; the
    registered plan is the single-sweep form: group docs by n_tokens,
    keep each group's max-ttr docs, and admit a group iff its max ttr
    strictly exceeds the running max over all LONGER groups — equality
    loses because the longer doc then dominates strictly on length.
    ttr values are exact small-denominator rationals evaluated as the
    same int/int double division on both engines, so comparisons agree.

    Scale (100 TB): the sweep is a groupBy(n_tokens) reduce plus ONE
    window over the distinct-length groups (|groups| << |docs| — bounded
    by max doc length, not corpus size), then a semi-join back; vs the
    quadratic dominance test this is the difference between an O(n²)
    pair stream and two keyed exchanges. The same sweep generalizes to
    d dims by fixing d-2 and sweeping the rest (block-nested skyline)."""
    words = doc_words(spark, sf_dir)
    feats = words.groupBy("doc_id").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("w").alias("n_distinct"),
        (F.countDistinct("w") * 1.0 / F.count("*")).alias("ttr"),
    )
    groups = feats.groupBy("n_tokens").agg(F.max("ttr").alias("gmax"))
    wprev = (
        Window.orderBy(F.desc("n_tokens"))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    admitted = (
        groups.withColumn("prevmax", F.max("gmax").over(wprev))
        .filter(
            F.col("prevmax").isNull() | (F.col("gmax") > F.col("prevmax"))
        )
        .select("n_tokens", "gmax")
    )
    return (
        feats.join(F.broadcast(admitted), "n_tokens")
        .filter(F.col("ttr") == F.col("gmax"))
        .select(
            "doc_id",
            "n_tokens",
            "n_distinct",
            F.round("ttr", 6).alias("ttr"),
        )
    )


@query(
    "q284_good_turing",
    oracle="""
    WITH tri AS (SELECT unnest(list_transform(
                            range(1, len(string_split(text, ' ')) - 1),
                            i -> string_split(text, ' ')[i] || ' '
                                 || string_split(text, ' ')[i+1] || ' '
                                 || string_split(text, ' ')[i+2])) AS g
                 FROM documents),
         freq AS (SELECT g, CAST(COUNT(*) AS BIGINT) AS r
                  FROM tri GROUP BY g),
         fof AS (SELECT r, CAST(COUNT(*) AS BIGINT) AS n_r
                 FROM freq GROUP BY r),
         tot AS (SELECT CAST(SUM(r * n_r) AS BIGINT) AS n_tokens,
                        CAST(SUM(n_r) AS BIGINT) AS vocab,
                        CAST(MAX(CASE WHEN r = 1 THEN n_r ELSE 0 END)
                             AS BIGINT) AS n1
                 FROM fof),
         head AS (SELECT r, n_r,
                         ROW_NUMBER() OVER (ORDER BY r) AS rk
                  FROM fof)
    SELECT f.r, f.n_r,
           CAST(ROUND(1e6 * ((f.r + 1) * 1.0 * nx.n_r / f.n_r))
                AS BIGINT) AS r_star_units,
           t.n_tokens, t.vocab,
           ROUND(t.n1 * 1.0 / t.n_tokens, 6) AS missing_mass
    FROM head f
    LEFT JOIN fof nx ON nx.r = f.r + 1
    CROSS JOIN tot t
    WHERE f.rk <= 20
    """,
)
def q284_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing vocabulary-mass estimate over corpus word TRIGRAMS:
    the frequency-of-frequencies table N_r (how many trigrams occur
    exactly r times), the Turing-smoothed count
    r* = (r+1)*N_{r+1}/N_r in 1e-6 units (NULL where N_{r+1} is empty
    — classic GT is undefined there; SGT regression is the usual
    patch), and the missing mass P0 = N_1/N — the probability the
    NEXT trigram drawn from the stream is novel. The corpus-growth
    planning number next to q181's vocab-growth curve and q223's Zipf
    slope: it says how much tail phrase-vocabulary MORE data would
    still buy. Trigrams (not unigrams) because the synthetic corpus
    has a closed ~30-word vocabulary — its unigram tail is empty at
    every SF, while the trigram space is open.

    Exactness: N_r, N, V, N_1 are exact BIGINT counts; r* is one
    identical integer-ratio double frozen to 1e-6 units; P0 is an
    exact-integer ratio rounded at 6dp. The report keeps the 20
    SMALLEST occupied r (where GT smoothing is actually used) — an
    adaptive cut that never empties, unlike a fixed r <= K.

    Scale: trigram construction is one array transform per doc
    (partition-local, no shuffle — the q272 explode_outer discipline),
    then word-count + histogram shuffles on already-reduced keys; the
    3-value totals row broadcasts back onto 20 rows."""
    docs = read_table(spark, sf_dir, "documents")
    tri = (
        docs.select(F.split("text", " ").alias("ws"))
        .select(
            F.explode_outer(
                F.expr(
                    "CASE WHEN size(ws) >= 3 THEN "
                    "transform(sequence(0, size(ws) - 3), "
                    "i -> concat(ws[i], ' ', ws[i+1], ' ', ws[i+2])) "
                    "ELSE array() END"
                )
            ).alias("g")
        )
        .filter(F.col("g").isNotNull())
    )
    freq = tri.groupBy("g").agg(F.count("*").cast("long").alias("r"))
    fof = freq.groupBy("r").agg(F.count("*").cast("long").alias("n_r"))
    tot = fof.agg(
        F.sum(F.col("r") * F.col("n_r")).cast("long").alias("n_tokens"),
        F.sum("n_r").cast("long").alias("vocab"),
        F.max(F.when(F.col("r") == 1, F.col("n_r")).otherwise(0))
        .cast("long")
        .alias("n1"),
    )
    head = fof.withColumn(
        "rk", F.row_number().over(Window.orderBy("r"))
    ).filter(F.col("rk") <= 20)
    nx = fof.select(
        (F.col("r") - 1).alias("r"), F.col("n_r").alias("n_next")
    )
    return (
        head.join(nx, "r", "left")
        .join(F.broadcast(tot))
        .select(
            "r",
            "n_r",
            F.round(
                F.lit(1e6)
                * ((F.col("r") + 1) * 1.0 * F.col("n_next") / F.col("n_r"))
            )
            .cast("long")
            .alias("r_star_units"),
            "n_tokens",
            "vocab",
            F.round(F.col("n1") * 1.0 / F.col("n_tokens"), 6).alias(
                "missing_mass"
            ),
        )
    )


@query(
    "q292_source_divergence",
    oracle=f"""
    WITH words AS (SELECT source, unnest(string_split(text, ' ')) AS w
                   FROM documents),
         cnt AS (SELECT source, w, CAST(COUNT(*) AS BIGINT) AS c
                 FROM words GROUP BY source, w),
         vocab AS (SELECT DISTINCT w FROM cnt),
         vsz AS (SELECT CAST(COUNT(*) AS BIGINT) AS v FROM vocab),
         srcs AS (SELECT source, CAST(SUM(c) AS BIGINT) AS n
                  FROM cnt GROUP BY source),
         grid AS (SELECT s.source, s.n, vb.w,
                         CAST(COALESCE(cnt.c, 0) AS BIGINT) AS c
                  FROM srcs s CROSS JOIN vocab vb
                  LEFT JOIN cnt ON cnt.source = s.source
                                AND cnt.w = vb.w),
         p AS (SELECT source, w,
                      (c + 1) * 1.0 / (n + vsz.v) AS pr
               FROM grid, vsz),
         pairs AS (SELECT a.source AS source_a, b.source AS source_b,
                          a.w, a.pr AS pa, b.pr AS pb
                   FROM p a JOIN p b
                     ON a.w = b.w AND a.source < b.source),
         units AS (SELECT source_a, source_b,
                          {duck_unit_sum("1e9 * pa * ln(pa / pb)", 0)}
                              AS kl_ab_units,
                          {duck_unit_sum("1e9 * pb * ln(pb / pa)", 0)}
                              AS kl_ba_units,
                          {duck_unit_sum(
                              "0.5 * pa * ln(pa / ((pa + pb) / 2))"
                              " + 0.5 * pb * ln(pb / ((pa + pb) / 2))", 9)}
                              AS js_units
                   FROM pairs GROUP BY source_a, source_b)
    SELECT source_a, source_b, kl_ab_units, kl_ba_units, js_units,
           ROUND(js_units / 1e9, 6) AS js_nats
    FROM units
    """,
)
def q292_source_divergence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise KL and Jensen-Shannon divergence between every two
    sources' add-1-smoothed unigram language models — the
    distribution-level mixture-planning signal next to q93's domain
    mixture and q225's source temperatures: JS says which sources are
    near-duplicates of each other DISTRIBUTIONALLY (merge or
    down-weight) and which add genuine diversity; the two KL
    directions expose asymmetric containment (a source whose LM is a
    subset of another's). DSIR (q112) is the per-document form of the
    same log-ratio; this is the source-by-source matrix.

    Exactness: each pairwise term p*ln(p/q) freezes to integer 1e-9
    units before the (order-independent) sum — identical integer
    counts give identical doubles and identical ln in both engines
    (the q271 c*ln(c) discipline); smoothing makes every probability
    strictly positive so no log guard is needed.

    Scale: the corpus reduces ONCE to |sources| x |vocab| counts; the
    pair expansion is dimension-scale (|sources|^2 x |vocab| rows of
    arithmetic, no corpus rescan)."""
    docs = read_table(spark, sf_dir, "documents")
    words = docs.select(
        "source", F.explode(F.split("text", " ")).alias("w")
    )
    # corpus tier (r13): |sources| x |vocab| — vocab grows with the corpus
    cnt = words.groupBy("source", "w").agg(
        F.count("*").cast("long").alias("c")
    ).transform(corpus_checkpoint)
    # vocab and totals derive from the already-reduced count table,
    # which is materialized (r12) so its three references (vocab,
    # totals, grid) re-read |sources| x |vocab| rows — the corpus is
    # exploded exactly once in the plan, as the docstring claims
    vocab = cnt.select("w").distinct()
    vsz = vocab.agg(F.count("*").cast("long").alias("v"))
    srcs = cnt.groupBy("source").agg(F.sum("c").cast("long").alias("n"))
    grid = (
        srcs.join(F.broadcast(vocab))
        .join(cnt, ["source", "w"], "left")
        .select(
            "source",
            "n",
            "w",
            F.coalesce("c", F.lit(0)).cast("long").alias("c"),
        )
    )
    # smoothed LM table, referenced by both self-join legs — materialized
    p = grid.join(F.broadcast(vsz)).select(
        "source",
        "w",
        ((F.col("c") + 1) * 1.0 / (F.col("n") + F.col("v"))).alias("pr"),
    ).transform(corpus_checkpoint)
    a = p.select(
        F.col("source").alias("source_a"), "w", F.col("pr").alias("pa")
    )
    b = p.select(
        F.col("source").alias("source_b"), "w", F.col("pr").alias("pb")
    )
    pairs = a.join(b, "w").filter(F.col("source_a") < F.col("source_b"))
    pa, pb = F.col("pa"), F.col("pb")
    m = (pa + pb) / 2
    units = pairs.groupBy("source_a", "source_b").agg(
        F.sum(F.round(F.lit(1e9) * pa * F.log(pa / pb)).cast("long"))
        .cast("long")
        .alias("kl_ab_units"),
        F.sum(F.round(F.lit(1e9) * pb * F.log(pb / pa)).cast("long"))
        .cast("long")
        .alias("kl_ba_units"),
        F.sum(
            F.round(
                F.lit(1e9)
                * (0.5 * pa * F.log(pa / m) + 0.5 * pb * F.log(pb / m))
            ).cast("long")
        )
        .cast("long")
        .alias("js_units"),
    )
    return units.select(
        "source_a",
        "source_b",
        "kl_ab_units",
        "kl_ba_units",
        "js_units",
        F.round(F.col("js_units") / F.lit(1e9), 6).alias("js_nats"),
    )


# q296's two paired keep-rules: a length gate and a token-count gate —
# deliberately simple deterministic filters; the operator's value is
# the PAIRED disagreement test, not the rules themselves.
_MCN_CHAR_MIN = 300
_MCN_TOKEN_MIN = 60


@query(
    "q296_mcnemar_filters",
    oracle=f"""
    WITH flags AS (SELECT
                       CASE WHEN n_chars >= {_MCN_CHAR_MIN}
                            THEN 1 ELSE 0 END AS ka,
                       CASE WHEN len(string_split(text, ' '))
                                 >= {_MCN_TOKEN_MIN}
                            THEN 1 ELSE 0 END AS kb
                   FROM documents),
         cells AS (SELECT
                       CAST(COUNT(*) AS BIGINT) AS n_docs,
                       CAST(SUM(ka * kb) AS BIGINT) AS keep_both,
                       CAST(SUM(ka * (1 - kb)) AS BIGINT) AS a_only,
                       CAST(SUM((1 - ka) * kb) AS BIGINT) AS b_only,
                       CAST(SUM((1 - ka) * (1 - kb)) AS BIGINT)
                           AS keep_neither
                   FROM flags)
    SELECT n_docs, keep_both, a_only, b_only, keep_neither,
           CAST(ROUND(1e9 * ((a_only - b_only) * 1.0
                             * (a_only - b_only))
                      / NULLIF(a_only + b_only, 0)) AS BIGINT)
               AS mcnemar_units,
           CAST(ROUND(1e9 * (GREATEST(ABS(a_only - b_only) - 1, 0)
                             * 1.0
                             * GREATEST(ABS(a_only - b_only) - 1, 0))
                      / NULLIF(a_only + b_only, 0)) AS BIGINT)
               AS mcnemar_cc_units,
           ROUND(keep_both * 1.0 / n_docs, 6) AS agree_keep_rate,
           ROUND((keep_both + keep_neither) * 1.0 / n_docs, 6) AS agreement
    FROM cells
    """,
)
def q296_mcnemar_filters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """McNemar's paired test between two keep-filters evaluated on the
    SAME documents (a length gate vs a token-count gate): the 2x2
    agreement cells and the chi-squared statistic (b-c)^2/(b+c) over
    the DISAGREEMENT cells only — the correct way to compare two
    curation filters, where comparing raw keep-rates ignores that the
    decisions are paired (the both/neither cells carry no evidence
    about which filter is stricter). The continuity-corrected variant
    rides alongside. Companion to q281's family-wide control: this is
    the single paired comparison, exact in the same spirit.

    Exactness: all four cells are exact BIGINTs from ONE scan; both
    statistics are exact rationals frozen to 1e-9 units with guarded
    denominators (b+c = 0 -> NULL on both engines).

    Scale: one scan, one 1-row aggregate — nothing else."""
    docs = read_table(spark, sf_dir, "documents")
    flags = docs.select(
        F.when(F.col("n_chars") >= _MCN_CHAR_MIN, 1)
        .otherwise(0)
        .alias("ka"),
        F.when(F.size(F.split("text", " ")) >= _MCN_TOKEN_MIN, 1)
        .otherwise(0)
        .alias("kb"),
    )
    ka, kb = F.col("ka"), F.col("kb")
    cells = flags.agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum(ka * kb).cast("long").alias("keep_both"),
        F.sum(ka * (1 - kb)).cast("long").alias("a_only"),
        F.sum((1 - ka) * kb).cast("long").alias("b_only"),
        F.sum((1 - ka) * (1 - kb)).cast("long").alias("keep_neither"),
    )
    b, c = F.col("a_only"), F.col("b_only")
    cc = F.greatest(F.abs(b - c) - 1, F.lit(0))
    return cells.select(
        "n_docs",
        "keep_both",
        "a_only",
        "b_only",
        "keep_neither",
        F.round(
            F.try_divide(
                F.lit(1e9) * ((b - c) * 1.0 * (b - c)),
                F.nullif(b + c, F.lit(0)),
            )
        )
        .cast("long")
        .alias("mcnemar_units"),
        F.round(
            F.try_divide(
                F.lit(1e9) * (cc * 1.0 * cc),
                F.nullif(b + c, F.lit(0)),
            )
        )
        .cast("long")
        .alias("mcnemar_cc_units"),
        F.round(F.col("keep_both") * 1.0 / F.col("n_docs"), 6).alias(
            "agree_keep_rate"
        ),
        F.round(
            (F.col("keep_both") + F.col("keep_neither")) * 1.0 / F.col("n_docs"), 6
        ).alias("agreement"),
    )
