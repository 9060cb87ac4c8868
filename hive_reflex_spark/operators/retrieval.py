"""Retrieval + model-based curation over ``documents``: BM25 keyword
search, a hashing-trick linear quality classifier, and DSIR-style
importance weighting.

These complete the text side of the training-data pipeline: text.py
filters on surface statistics (length/repetition/lang-ID), dedup.py
removes near-copies, and this module adds the *ranking* tier — retrieve
by relevance (BM25 over term-partitioned posting lists), score with a
learned linear model (hashed bag-of-words → sigmoid), and re-weight
toward a target distribution (importance log-ratio of two unigram LMs),
the selection recipe of CCNet / DSIR-style pipelines.

Everything is pure column expressions — no Python UDFs — and every
"model" is a TABLE (posting lists, bucket weights, unigram counts), so
scoring 100 TB is a broadcast join of a small model table against an
exploded token stream, never a per-row Python call.

Scale notes (100 TB):
- BM25: df/idf is |query_terms| rows, avgdl is 1 row — both broadcast;
  the corpus-side work is one filtered explode + one groupBy(doc_id),
  and the global top-k is TakeOrderedAndProject (no full sort).
- classifier: the "weights" are 16 hash buckets — a broadcast map; the
  corpus shuffles once on doc_id for the per-doc feature sum.
- DSIR: both unigram LMs are |vocab| rows (bounded by the tokenizer, not
  the corpus) — broadcast; the keep/drop decision is an exact integer
  sign test, so membership is reproducible on any engine or cluster.

Float discipline: per-term/per-word partial scores round to 9dp integer
units before the per-doc sum (order-independent bigint addition), and
only the final scalar divides back to double — the repo-wide exact_sum
convention that keeps Spark and DuckDB value-hashes identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_reflex_spark.functions import duck_exact_sum, exact_sum
from hive_reflex_spark.io import (
    corpus_checkpoint,
    maybe_local_checkpoint,
    read_table,
)
from hive_reflex_spark.operators.tensor import _duck_coords, embedding_coords
from hive_reflex_spark.operators.text import DUCK_WORDS, doc_words
from hive_reflex_spark.registry import query

# BM25 free parameters (the Robertson/Sparck-Jones defaults) and the
# fixed keyword query; terms chosen from the synthetic corpus vocab.
BM25_K1 = 1.2
BM25_B = 0.75
BM25_TOP_K = 10
QUERY_TERMS = ("spark", "merge", "window")

_TERMS_SQL = ", ".join(f"'{t}'" for t in QUERY_TERMS)

# Hex-digit decode shared by both engines: instr is 1-based, so the
# value of hex char c is instr('0123456789abcdef', c) - 1 ∈ [0, 15].
# graded-relevance judgment set for q232: the searched terms plus one
# the query does NOT search ("stream") - so a perfect BM25 score is
# not automatic and the nDCG discount interplay is actually exercised
REL_TERMS = QUERY_TERMS + ("stream",)
_REL_TERMS_SQL = ", ".join(f"'{t}'" for t in REL_TERMS)

_HEXVAL = "instr('0123456789abcdef', {c}) - 1"


@query(
    "q110_bm25_topk",
    oracle=f"""
    WITH words AS (SELECT doc_id, w FROM {DUCK_WORDS} words),
         dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
                FROM words GROUP BY doc_id),
         stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                          CAST(SUM(dl) AS BIGINT) * 1.0 / COUNT(*) AS avgdl
                   FROM dl),
         df AS (SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
                FROM words WHERE w IN ({_TERMS_SQL}) GROUP BY w),
         tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
                FROM words WHERE w IN ({_TERMS_SQL}) GROUP BY doc_id, w),
         parts AS (SELECT tf.doc_id,
                          CAST(ROUND(
                              ln(1 + (stats.n_docs - df.df + 0.5) / (df.df + 0.5))
                              * tf.tf * ({BM25_K1} + 1)
                              / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                                  + {BM25_B} * dl.dl / stats.avgdl))
                              * 1000000000) AS BIGINT) AS p
                   FROM tf JOIN df USING (w)
                           JOIN dl USING (doc_id), stats)
    SELECT doc_id,
           CAST(SUM(p) AS BIGINT) / 1000000000.0 AS bm25
    FROM parts GROUP BY doc_id
    ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOP_K}
    """,
)
def q110_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-k keyword retrieval. The classic inverted-index ranking
    (Robertson et al., Okapi BM25) expressed as joins: document
    frequency and idf live in a |query_terms|-row broadcast table, the
    corpus side is a filtered token explode + per-doc tf, and the global
    top-k compiles to TakeOrderedAndProject — no full sort, no index
    build, no driver loop."""
    return bm25_topk(spark, sf_dir)


def bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25) top-K candidates — shared by q110 and the q173
    hybrid reranker."""
    words = doc_words(spark, sf_dir).select("doc_id", "w")
    dl = words.groupBy("doc_id").agg(F.count("*").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"),
        (F.sum("dl") * F.lit(1.0) / F.count("*")).alias("avgdl"),
    )
    hits = words.filter(F.col("w").isin(*QUERY_TERMS))
    df = hits.groupBy("w").agg(F.countDistinct("doc_id").alias("df"))
    tf = hits.groupBy("doc_id", "w").agg(F.count("*").alias("tf"))
    parts = (
        tf.join(F.broadcast(df), "w")
        .join(dl, "doc_id")
        .join(F.broadcast(stats))
        .select(
            "doc_id",
            F.round(
                F.log(
                    1
                    + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
                )
                * F.col("tf")
                * (BM25_K1 + 1)
                / (
                    F.col("tf")
                    + BM25_K1
                    * (1 - BM25_B + BM25_B * F.col("dl") / F.col("avgdl"))
                )
                * 1_000_000_000
            )
            .cast("long")
            .alias("p"),
        )
    )
    return (
        parts.groupBy("doc_id")
        .agg((F.sum("p") / 1_000_000_000.0).alias("bm25"))
        .orderBy(F.desc("bm25"), "doc_id")
        .limit(BM25_TOP_K)
    )


def classifier_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, num, n_tokens): the hashed-linear classifier's exact
    integer numerator per doc. Shared by q111 and the q129 pipeline
    (keep iff num >= 0)."""
    words = doc_words(spark, sf_dir).select("doc_id", "w")
    feats = (
        words.select("doc_id", F.substring(F.md5("w"), 1, 1).alias("b"))
        .groupBy("doc_id", "b")
        .agg(F.count("*").alias("cnt"))
    )
    wtab = (
        feats.select("b")
        .distinct()
        .select(
            "b",
            (
                F.expr(_HEXVAL.format(c="substr(md5(b), 1, 1)")).cast("long") * 2
                - 15
            ).alias("num32"),
        )
    )
    return (
        feats.join(F.broadcast(wtab), "b")
        .groupBy("doc_id")
        .agg(
            F.sum(F.col("cnt") * F.col("num32")).alias("num"),
            F.sum("cnt").alias("n_tokens"),
        )
    )


@query(
    "q111_quality_classifier",
    oracle=f"""
    WITH words AS (SELECT doc_id, w FROM {DUCK_WORDS} words),
         feats AS (SELECT doc_id, substr(md5(w), 1, 1) AS b,
                          CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM words GROUP BY doc_id, b),
         wtab AS (SELECT b, CAST({_HEXVAL.format(c="substr(md5(b), 1, 1)")}
                               AS BIGINT) * 2 - 15 AS num32
                  FROM (SELECT DISTINCT b FROM feats)),
         scored AS (SELECT doc_id,
                           CAST(SUM(cnt * num32) AS BIGINT) AS num,
                           CAST(SUM(cnt) AS BIGINT) AS n_tokens
                    FROM feats JOIN wtab USING (b) GROUP BY doc_id)
    SELECT doc_id,
           ROUND(1.0 / (1.0 + exp(-(num / 32.0 / n_tokens))), 6) AS score,
           num >= 0 AS keep
    FROM scored
    """,
)
def q111_quality_classifier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hashing-trick linear quality classifier (the fastText/CCNet
    shape): unigrams hash into 16 buckets, a fixed per-bucket weight
    table is the "model", score = sigmoid(w·x / n_tokens). The weights
    here are hash-derived stand-ins for trained coefficients — the
    *plumbing* (model-as-broadcast-table, feature sum as one grouped
    aggregate, no per-row Python) is the production 100-TB path.

    The keep decision is the exact integer sign of the weight·count
    numerator (32nds), so membership never depends on float rounding."""
    scored = classifier_scores(spark, sf_dir)
    return scored.select(
        "doc_id",
        F.round(
            1.0 / (1.0 + F.exp(-(F.col("num") / 32.0 / F.col("n_tokens")))), 6
        ).alias("score"),
        (F.col("num") >= 0).alias("keep"),
    )


DSIR_TARGET_LANG = "en"


@query(
    "q112_dsir_importance",
    oracle=f"""
    WITH words AS (SELECT doc_id, lang, w FROM {DUCK_WORDS} words),
         raw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM words GROUP BY w),
         tgt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
                 FROM words WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY w),
         tot AS (SELECT CAST((SELECT SUM(cnt) FROM raw) AS BIGINT) AS t_raw,
                        CAST((SELECT SUM(cnt) FROM tgt) AS BIGINT) AS t_tgt,
                        CAST((SELECT COUNT(*) FROM raw) AS BIGINT) AS v),
         lr AS (SELECT raw.w,
                       CAST(ROUND(
                           (ln((COALESCE(tgt.cnt, 0) + 1.0) / (tot.t_tgt + tot.v))
                            - ln((raw.cnt + 1.0) / (tot.t_raw + tot.v)))
                           * 1000000000) AS BIGINT) AS lr9
                FROM raw LEFT JOIN tgt USING (w), tot)
    SELECT doc_id, lang,
           CAST(SUM(lr9) AS BIGINT) / 1000000000.0 / COUNT(*)
               AS avg_log_ratio,
           CAST(SUM(lr9) AS BIGINT) > 0 AS keep
    FROM words JOIN lr USING (w)
    GROUP BY doc_id, lang
    """,
)
def q112_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance weighting (Xie et al. 2023): score every
    document by the average unigram log-ratio between a target LM (here
    the 'en' slice) and the raw-corpus LM, add-1 smoothed. Both LMs
    are |vocab|-row broadcast tables — corpus size never enters the join
    build side — and keep/drop is the exact integer sign of the summed
    9dp log-ratio units, reproducible across engines and partitionings."""
    words = doc_words(spark, sf_dir).select("doc_id", "lang", "w")
    raw = words.groupBy("w").agg(F.count("*").alias("cnt_r"))
    tgt = (
        words.filter(F.col("lang") == DSIR_TARGET_LANG)
        .groupBy("w")
        .agg(F.count("*").alias("cnt_t"))
    )
    tot = raw.agg(
        F.sum("cnt_r").alias("t_raw"),
        F.count("*").alias("v"),
    ).join(tgt.agg(F.sum("cnt_t").alias("t_tgt")))
    lr = (
        raw.join(tgt, "w", "left")
        .join(F.broadcast(tot))
        .select(
            "w",
            F.round(
                (
                    F.log(
                        (F.coalesce(F.col("cnt_t"), F.lit(0)) + 1.0)
                        / (F.col("t_tgt") + F.col("v"))
                    )
                    - F.log((F.col("cnt_r") + 1.0) / (F.col("t_raw") + F.col("v")))
                )
                * 1_000_000_000
            )
            .cast("long")
            .alias("lr9"),
        )
    )
    return (
        words.join(F.broadcast(lr), "w")
        .groupBy("doc_id", "lang")
        .agg(
            (F.sum("lr9") / 1_000_000_000.0 / F.count("*")).alias(
                "avg_log_ratio"
            ),
            (F.sum("lr9") > 0).alias("keep"),
        )
    )


_ISO_BINS = 10  # score deciles entering the isotonic fit

# q112's doc-level scored stream as a DuckDB CTE body (shared text)
_DUCK_DSIR_DOC = f"""
    words AS (SELECT doc_id, lang, w FROM {DUCK_WORDS} words),
    raw AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt FROM words GROUP BY w),
    tgt AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM words WHERE lang = '{DSIR_TARGET_LANG}' GROUP BY w),
    tot AS (SELECT CAST((SELECT SUM(cnt) FROM raw) AS BIGINT) AS t_raw,
                   CAST((SELECT SUM(cnt) FROM tgt) AS BIGINT) AS t_tgt,
                   CAST((SELECT COUNT(*) FROM raw) AS BIGINT) AS v),
    lr AS (SELECT raw.w,
                  CAST(ROUND(
                      (ln((COALESCE(tgt.cnt, 0) + 1.0) / (tot.t_tgt + tot.v))
                       - ln((raw.cnt + 1.0) / (tot.t_raw + tot.v)))
                      * 1000000000) AS BIGINT) AS lr9
           FROM raw LEFT JOIN tgt USING (w), tot),
    scored AS (SELECT doc_id,
                      MAX(CASE WHEN lang = '{DSIR_TARGET_LANG}'
                               THEN 1 ELSE 0 END) AS y,
                      CAST(SUM(lr9) AS BIGINT) / 1000000000.0 / COUNT(*)
                          AS s
               FROM words JOIN lr USING (w)
               GROUP BY doc_id)
"""


@query(
    "q275_isotonic_calibration",
    oracle=f"""
    WITH {_DUCK_DSIR_DOC},
    binned AS (SELECT CAST(NTILE({_ISO_BINS}) OVER (ORDER BY s, doc_id)
                          AS BIGINT) AS bin, y
               FROM scored),
    bins AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(y) AS BIGINT) AS pos
             FROM binned GROUP BY bin),
    prefix AS (SELECT bin,
                      CAST(SUM(n) OVER (ORDER BY bin) AS BIGINT) AS cn,
                      CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS cp
               FROM bins
               UNION ALL SELECT CAST(0 AS BIGINT), CAST(0 AS BIGINT),
                                CAST(0 AS BIGINT)),
    mins AS (SELECT i.bin AS ibin, jm1.bin AS jbin,
                    MIN((k.cp - jm1.cp) * 1.0 / (k.cn - jm1.cn)) AS mn
             FROM bins i
             JOIN prefix jm1 ON jm1.bin < i.bin
             JOIN prefix k ON k.bin >= i.bin
             GROUP BY i.bin, jm1.bin),
    iso AS (SELECT ibin AS bin, MAX(mn) AS iso_raw FROM mins GROUP BY ibin)
    SELECT b.bin, b.n AS n_docs, b.pos AS n_target,
           ROUND(b.pos * 1.0 / b.n, 6) AS raw_rate,
           ROUND(iso.iso_raw, 6) AS iso_rate
    FROM bins b JOIN iso USING (bin)
    """,
)
def q275_isotonic_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Isotonic calibration (PAVA) of q112's DSIR importance score
    against the target-language label — the calibration step between a
    raw classifier score and a usable sampling probability, and the
    method behind every 'calibrated quality classifier' in data-
    curation pipelines (q235's ECE measures the miscalibration this
    fit removes). Scores bin into {_ISO_BINS} deciles; the isotonic
    fit uses the minimax characterization iso_i = max_(j<=i)
    min_(k>=i) mean(pos)/(n) over bin blocks j..k — a closed relational
    form (no sequential pool-adjacent loop), exact on the bins'
    integer prefix sums, so both engines produce identical doubles
    before the 6dp rounding.

    Scale: the corpus reduces to {_ISO_BINS} integer rows in one
    grouped aggregate (the decile rank is the only corpus-wide
    operation — per shard in production, q113's manifest); the
    minimax triple join is over an 11-row prefix table — dimension
    cost. Output: per-bin raw vs isotonic target rate, monotone
    nondecreasing by construction.

    Reference anchor: the reference's accuracy-eval tiers
    (`analysis/accuracy_eval.py`, SURVEY A13) report per-threshold
    rates; this is the order-preserving regression that turns those
    rates into a calibrated curve."""
    scored = (
        q112_dsir_importance(spark, sf_dir)
        .select(
            "doc_id",
            (F.col("lang") == DSIR_TARGET_LANG).cast("long").alias("y"),
            F.col("avg_log_ratio").alias("s"),
        )
    )
    w = Window.orderBy("s", "doc_id")
    binned = scored.select(
        F.ntile(_ISO_BINS).over(w).cast("long").alias("bin"), "y"
    )
    # {_ISO_BINS}-row waist below the corpus-scale DSIR pipeline,
    # referenced three times (prefix, the i leg, the final join) —
    # localCheckpointed (r12) so the q112 scoring runs once, not 3x
    bins = binned.groupBy("bin").agg(
        F.count("*").alias("n"), F.sum("y").cast("long").alias("pos")
    ).transform(maybe_local_checkpoint)
    wcum = Window.orderBy("bin")
    prefix = bins.select(
        "bin",
        F.sum("n").over(wcum).cast("long").alias("cn"),
        F.sum("pos").over(wcum).cast("long").alias("cp"),
    ).unionAll(
        spark.range(1).select(
            F.lit(0).cast("long").alias("bin"),
            F.lit(0).cast("long").alias("cn"),
            F.lit(0).cast("long").alias("cp"),
        )
    )
    i = bins.select(F.col("bin").alias("ibin"))
    jm1 = prefix.select(
        F.col("bin").alias("jbin"),
        F.col("cn").alias("jcn"),
        F.col("cp").alias("jcp"),
    )
    k = prefix.select(
        F.col("bin").alias("kbin"),
        F.col("cn").alias("kcn"),
        F.col("cp").alias("kcp"),
    )
    mins = (
        i.join(F.broadcast(jm1), F.col("jbin") < F.col("ibin"))
        .join(F.broadcast(k), F.col("kbin") >= F.col("ibin"))
        .groupBy("ibin", "jbin")
        .agg(
            F.min(
                (F.col("kcp") - F.col("jcp"))
                * 1.0
                / (F.col("kcn") - F.col("jcn"))
            ).alias("mn")
        )
    )
    iso = mins.groupBy(F.col("ibin").alias("bin")).agg(
        F.max("mn").alias("iso_raw")
    )
    return bins.join(iso, "bin").select(
        "bin",
        F.col("n").alias("n_docs"),
        F.col("pos").alias("n_target"),
        F.round(F.col("pos") * 1.0 / F.col("n"), 6).alias("raw_rate"),
        F.round("iso_raw", 6).alias("iso_rate"),
    )


TFIDF_QUERY_DOC = 7  # the "query document" for similarity search
TFIDF_TOP_K = 10


@query(
    "q122_tfidf_doc_similarity",
    oracle=f"""
    WITH words AS (SELECT doc_id, w FROM {DUCK_WORDS} words),
         n_docs AS (SELECT CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n
                    FROM words),
         tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
                FROM words GROUP BY doc_id, w),
         df AS (SELECT w, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY w),
         wt AS (SELECT tf.doc_id, tf.w,
                       CAST(ROUND((1 + ln(tf.tf))
                            * ln((n_docs.n + 1.0) / (df.df + 1.0))
                            * 1000000000) AS BIGINT) AS w9
                FROM tf JOIN df USING (w), n_docs),
         nrm AS (SELECT doc_id,
                        sqrt(SUM((w9 / 1000000000.0) * (w9 / 1000000000.0)))
                            AS nrm
                 FROM wt GROUP BY doc_id),
         qvec AS (SELECT w, w9 FROM wt WHERE doc_id = {TFIDF_QUERY_DOC}),
         dots AS (SELECT wt.doc_id,
                         {duck_exact_sum(
                             "(wt.w9 / 1000000000.0)"
                             " * (qvec.w9 / 1000000000.0)", 9)} AS dot
                  FROM wt JOIN qvec USING (w)
                  WHERE wt.doc_id != {TFIDF_QUERY_DOC}
                  GROUP BY wt.doc_id)
    SELECT dots.doc_id,
           ROUND(dots.dot / (na.nrm * nq.nrm), 6) AS tfidf_cosine
    FROM dots
    JOIN nrm na ON dots.doc_id = na.doc_id
    JOIN nrm nq ON nq.doc_id = {TFIDF_QUERY_DOC}
    ORDER BY tfidf_cosine DESC, dots.doc_id LIMIT {TFIDF_TOP_K}
    """,
)
def q122_tfidf_doc_similarity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF document similarity — the posting-list counterpart
    to the dense-embedding ANN stack: weight every (doc, term) by
    log-tf x smoothed-idf, then score the corpus against one query
    document via a sparse dot product over SHARED TERMS only (a
    term-keyed join of the corpus weights against the tiny broadcast
    query vector — no dense vectors, no all-pairs). Top-k compiles to
    TakeOrderedAndProject.

    Scale: idf is |vocab| rows; the query vector is one document's terms
    (broadcast); the corpus-side cost is one groupBy(doc, term) and one
    term join — the same inverted-index shape as q110, with per-weight
    9dp integer freezing so both engines hash identically."""
    words = doc_words(spark, sf_dir).select("doc_id", "w")
    # the (doc, term) tf table is the inverted-index waist: df, n_docs
    # and the weighted postings all derive from it, and the weighted
    # postings are themselves referenced by norms, the query vector and
    # the dot products — both materialized (r12) so the corpus
    # tokenization and the idf-weighting each run exactly once instead
    # of once per plan reference (guide §3.3/§5). Corpus tier (r13):
    # (doc, term) rows grow with the corpus — lazy persist keeps
    # lineage (fault-tolerant) and nothing executes at build time
    tf = words.groupBy("doc_id", "w").agg(
        F.count("*").alias("tf")
    ).transform(corpus_checkpoint)
    df = tf.groupBy("w").agg(F.count("*").alias("df"))
    # corpus size as a broadcast 1-row table, not an eager driver count
    nd = tf.select("doc_id").distinct().agg(F.count("*").alias("n_docs"))
    UNIT = 1_000_000_000
    wt = (
        tf.join(F.broadcast(df), "w")
        .join(F.broadcast(nd))
        .select(
            "doc_id",
            "w",
            F.round(
                (1 + F.log("tf"))
                * F.log((F.col("n_docs") + 1.0) / (F.col("df") + 1.0))
                * UNIT
            )
            .cast("long")
            .alias("w9"),
        )
    ).transform(corpus_checkpoint)
    wd = F.col("w9") / float(UNIT)
    nrm = wt.groupBy("doc_id").agg(F.sqrt(F.sum(wd * wd)).alias("nrm"))
    qvec = wt.filter(F.col("doc_id") == TFIDF_QUERY_DOC).select(
        "w", F.col("w9").alias("q9")
    )
    dots = (
        wt.filter(F.col("doc_id") != TFIDF_QUERY_DOC)
        .join(F.broadcast(qvec), "w")
        .groupBy("doc_id")
        .agg(
            (
                F.sum(
                    F.round(wd * (F.col("q9") / float(UNIT)) * UNIT).cast(
                        "long"
                    )
                )
                / float(UNIT)
            ).alias("dot")
        )
    )
    qn = nrm.filter(F.col("doc_id") == TFIDF_QUERY_DOC).select(
        F.col("nrm").alias("qnrm")
    )
    return (
        dots.join(nrm, "doc_id")
        .join(F.broadcast(qn))
        .select(
            "doc_id",
            F.round(F.col("dot") / (F.col("nrm") * F.col("qnrm")), 6).alias(
                "tfidf_cosine"
            ),
        )
        .orderBy(F.desc("tfidf_cosine"), "doc_id")
        .limit(TFIDF_TOP_K)
    )

# the BM25 candidate CTE chain, shared verbatim by q110's oracle and q173's
_DUCK_BM25 = f"""
    words AS (SELECT doc_id, w FROM {DUCK_WORDS} words),
    dl AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS dl
           FROM words GROUP BY doc_id),
    stats AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
                     CAST(SUM(dl) AS BIGINT) * 1.0 / COUNT(*) AS avgdl
              FROM dl),
    dfx AS (SELECT w, CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS df
            FROM words WHERE w IN ({_TERMS_SQL}) GROUP BY w),
    tf AS (SELECT doc_id, w, CAST(COUNT(*) AS BIGINT) AS tf
           FROM words WHERE w IN ({_TERMS_SQL}) GROUP BY doc_id, w),
    parts AS (SELECT tf.doc_id,
                     CAST(ROUND(
                         ln(1 + (stats.n_docs - dfx.df + 0.5) / (dfx.df + 0.5))
                         * tf.tf * ({BM25_K1} + 1)
                         / (tf.tf + {BM25_K1} * (1 - {BM25_B}
                             + {BM25_B} * dl.dl / stats.avgdl))
                         * 1000000000) AS BIGINT) AS p
              FROM tf JOIN dfx USING (w)
                      JOIN dl USING (doc_id), stats),
    bm AS (SELECT doc_id, CAST(SUM(p) AS BIGINT) / 1000000000.0 AS bm25
           FROM parts GROUP BY doc_id
           ORDER BY bm25 DESC, doc_id LIMIT {BM25_TOP_K})
"""


# BM25+cosine candidate scoring CTE chain (through `scored`), shared by
# q173's blended rerank and q287's reciprocal-rank fusion.
_DUCK_HYBRID_SCORED = f"""
    {_DUCK_BM25},
    mx AS (SELECT MAX(bm25) AS maxb FROM bm),
    nv AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM embeddings),
    coords AS (SELECT * FROM {_duck_coords(None)} c),
    qc AS (SELECT dim,
                  {duck_exact_sum("v", 9)} / 4 AS qv
           FROM coords WHERE vec_id < 4 GROUP BY dim),
    qn AS (SELECT sqrt({duck_exact_sum("qv * qv", 9)}) AS qnrm FROM qc),
    link AS (SELECT bm.doc_id, bm.bm25, bm.doc_id % nv.n AS vec_id
             FROM bm, nv),
    dots AS (SELECT l.doc_id,
                    {duck_exact_sum("c.v * qc.qv", 9)} AS dot
             FROM link l
             JOIN coords c ON c.vec_id = l.vec_id
             JOIN qc ON qc.dim = c.dim
             GROUP BY l.doc_id),
    nd AS (SELECT vec_id,
                  sqrt({duck_exact_sum("v * v", 9)}) AS nrm
           FROM coords GROUP BY vec_id),
    scored AS (SELECT l.doc_id, l.bm25,
                      d.dot / (nd.nrm * qn.qnrm) AS cosine,
                      0.5 * l.bm25 / mx.maxb
                      + 0.5 * d.dot / (nd.nrm * qn.qnrm) AS hybrid
               FROM link l
               JOIN dots d ON d.doc_id = l.doc_id
               JOIN nd ON nd.vec_id = l.vec_id, qn, mx)
"""


@query(
    "q173_hybrid_rerank",
    oracle=f"""
    WITH {_DUCK_HYBRID_SCORED}
    SELECT doc_id, ROUND(bm25, 6) AS bm25, ROUND(cosine, 6) AS cosine,
           ROUND(hybrid, 6) AS hybrid,
           CAST(ROW_NUMBER() OVER (ORDER BY hybrid DESC, doc_id) AS INT)
               AS rnk
    FROM scored
    """,
)
def q173_hybrid_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: BM25 keyword candidates reranked by embedding
    cosine against the query centroid — the two-stage
    lexical-recall/semantic-precision pipeline modern search and
    RAG-data curation run. Stage 1 is q110's inverted-index top-K (the
    only corpus-scale work); stage 2 touches ONLY the K candidates:
    their vectors join against a broadcast 64-row query centroid, and
    the final score blends the max-normalized BM25 with the cosine
    50/50. (doc→vector linkage is doc_id mod |embeddings| — fixture
    plumbing standing in for a real doc↔embedding key.) Every sum is
    integer-unit exact, so the blended doubles hash-match DuckDB."""
    scored = hybrid_scored(spark, sf_dir)
    w = Window.orderBy(F.desc("hybrid"), "doc_id")
    return scored.select(
        "doc_id",
        F.round("bm25", 6).alias("bm25"),
        F.round("cosine", 6).alias("cosine"),
        F.round("hybrid", 6).alias("hybrid"),
        F.row_number().over(w).cast("int").alias("rnk"),
    )


def hybrid_scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, bm25, cosine, hybrid) over the BM25 top-K candidates —
    the two-stage scoring shared by q173 (blend rerank) and q287 (RRF);
    mirrors _DUCK_HYBRID_SCORED's `scored` CTE."""
    # the K-row candidate table is the waist below the corpus-scale
    # BM25 pipeline; it is referenced by mx AND link, and link again by
    # dots AND the final scored join — localCheckpointed (r12) so BM25
    # and the |embeddings| count each run exactly once instead of the
    # plan re-deriving them per reference (guide §3.3/§5)
    cand = bm25_topk(spark, sf_dir).transform(maybe_local_checkpoint)
    emb = read_table(spark, sf_dir, "embeddings")
    nv = emb.agg(F.count("*").alias("n"))
    mx = cand.agg(F.max("bm25").alias("maxb"))
    coords = embedding_coords(spark, sf_dir)
    qc = (
        coords.filter(F.col("vec_id") < 4)
        .groupBy("dim")
        .agg((exact_sum(F.col("v"), 9) / 4).alias("qv"))
    )
    qn = qc.agg(
        F.sqrt(exact_sum(F.col("qv") * F.col("qv"), 9)).alias("qnrm")
    )
    link = cand.join(F.broadcast(nv)).select(
        "doc_id", "bm25", F.pmod(F.col("doc_id"), F.col("n")).alias("vec_id")
    ).transform(maybe_local_checkpoint)
    dots = (
        F.broadcast(link)
        .join(coords, "vec_id")
        .join(F.broadcast(qc), "dim")
        .groupBy("doc_id")
        .agg(exact_sum(F.col("v") * F.col("qv"), 9).alias("dot"))
    )
    # norms only for the K candidate vectors (the inner join against
    # link keeps only those rows anyway): semi-join prune BEFORE the
    # norm aggregate so the corpus-wide per-vector reduce never runs
    nd = (
        coords.join(F.broadcast(link.select("vec_id").distinct()), "vec_id")
        .groupBy("vec_id")
        .agg(F.sqrt(exact_sum(F.col("v") * F.col("v"), 9)).alias("nrm"))
    )
    cos = F.col("dot") / (F.col("nrm") * F.col("qnrm"))
    scored = (
        link.join(dots, "doc_id")
        .join(nd, "vec_id")
        .join(F.broadcast(qn))
        .join(F.broadcast(mx))
        .select(
            "doc_id",
            "bm25",
            cos.alias("cosine"),
            (
                F.lit(0.5) * F.col("bm25") / F.col("maxb") + F.lit(0.5) * cos
            ).alias("hybrid"),
        )
    )
    return scored


# RRF smoothing constant (Cormack et al. 2009's k=60) — large enough that
# a rank-1 hit on one list cannot drown consistent mid-rank agreement.
_RRF_K = 60


@query(
    "q287_rrf_fusion",
    oracle=f"""
    WITH {_DUCK_HYBRID_SCORED},
    ranked AS (SELECT doc_id,
                      CAST(ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id)
                           AS BIGINT) AS bm25_rank,
                      CAST(ROW_NUMBER() OVER (ORDER BY cosine DESC, doc_id)
                           AS BIGINT) AS cos_rank
               FROM scored),
    fused AS (SELECT doc_id, bm25_rank, cos_rank,
                     CAST(ROUND(1e9 / ({_RRF_K} + bm25_rank)) AS BIGINT)
                     + CAST(ROUND(1e9 / ({_RRF_K} + cos_rank)) AS BIGINT)
                         AS rrf_units
              FROM ranked)
    SELECT doc_id, bm25_rank, cos_rank, rrf_units,
           CAST(ROW_NUMBER() OVER (ORDER BY rrf_units DESC, doc_id) AS INT)
               AS rrf_rank
    FROM fused
    """,
)
def q287_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Reciprocal-rank fusion (Cormack et al. 2009) of the lexical and
    semantic rankings over the shared BM25 top-K candidates:
    score = sum over lists of 1/(k + rank), k = 60 — the
    score-scale-free alternative to q173's 50/50 blend (RRF needs no
    max-normalization and is immune to one list's score distribution
    dominating; it is what Elasticsearch/Vespa ship for hybrid
    search). Output: both per-list ranks, the fused score, the fused
    ranking.

    Exactness: ranks are exact integers under deterministic (score
    DESC, doc_id) orders; each reciprocal term freezes to integer
    1e-9 units BEFORE the sum (1e9/(60+r) cannot land on a .5
    boundary: a tie needs (60+r) | 2e9 with odd quotient, i.e.
    60+r in {{1024*5^b}}, far above any candidate rank).

    Scale: everything after the shared q110/q173 candidate stage is
    a K-row window — the fusion itself is free."""
    scored = hybrid_scored(spark, sf_dir)
    ranked = scored.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .cast("long")
        .alias("bm25_rank"),
        F.row_number()
        .over(Window.orderBy(F.desc("cosine"), "doc_id"))
        .cast("long")
        .alias("cos_rank"),
    )
    fused = ranked.select(
        "doc_id",
        "bm25_rank",
        "cos_rank",
        (
            F.round(F.lit(1e9) / (_RRF_K + F.col("bm25_rank"))).cast("long")
            + F.round(F.lit(1e9) / (_RRF_K + F.col("cos_rank"))).cast("long")
        ).alias("rrf_units"),
    )
    return fused.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("rrf_units"), "doc_id"))
        .cast("int")
        .alias("rrf_rank"),
    )

@query(
    "q193_passrate_wilson",
    oracle=f"""
    WITH words AS (SELECT doc_id, w FROM {DUCK_WORDS} words),
    feats AS (SELECT doc_id, substr(md5(w), 1, 1) AS b,
                     CAST(COUNT(*) AS BIGINT) AS cnt
              FROM words GROUP BY doc_id, b),
    wtab AS (SELECT b,
                    (instr('0123456789abcdef', substr(md5(b), 1, 1)) - 1) * 2
                        - 15 AS num32
             FROM (SELECT DISTINCT b FROM feats)),
    scored AS (SELECT doc_id,
                      CAST(SUM(cnt * num32) AS BIGINT) AS num
               FROM feats JOIN wtab USING (b) GROUP BY doc_id),
    rates AS (SELECT d.source, CAST(COUNT(*) AS BIGINT) AS n,
                     CAST(SUM(CASE WHEN s.num >= 0 THEN 1 ELSE 0 END)
                         AS BIGINT) AS k
              FROM scored s JOIN documents d USING (doc_id)
              GROUP BY d.source)
    SELECT source, n, k,
           ROUND(k * 1.0 / n, 6) AS pass_rate,
           ROUND((k * 1.0 / n + 1.92 / n
                  - 1.96 * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                                + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 6) AS wilson_lo,
           ROUND((k * 1.0 / n + 1.92 / n
                  + 1.96 * sqrt((k * 1.0 / n) * (1 - k * 1.0 / n) / n
                                + 0.9604 / (n * n)))
                 / (1 + 3.8416 / n), 6) AS wilson_hi
    FROM rates
    """,
)
def q193_passrate_wilson(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source quality pass rates with Wilson 95% score intervals —
    the uncertainty band a curation dashboard needs before comparing a
    200-doc source against a 2M-doc one on raw rates (the normal
    approximation lies at the extremes; Wilson does not). Pass =
    q111's exact integer classifier sign; the interval is closed-form
    arithmetic over (k, n) with z=1.96 entering as fixed decimal
    literals, so the doubles hash-match."""
    from hive_reflex_spark.operators.retrieval import classifier_scores

    scores = classifier_scores(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    rates = (
        scores.join(docs, "doc_id")
        .groupBy("source")
        .agg(
            F.count("*").alias("n"),
            F.sum(F.when(F.col("num") >= 0, 1).otherwise(0))
            .cast("long")
            .alias("k"),
        )
    )
    p = F.col("k") * 1.0 / F.col("n")
    n = F.col("n")
    rad = F.sqrt(p * (1 - p) / n + 0.9604 / (n * n))
    denom = 1 + 3.8416 / n
    return rates.select(
        "source",
        "n",
        "k",
        F.round(p, 6).alias("pass_rate"),
        F.round((p + 1.92 / n - 1.96 * rad) / denom, 6).alias("wilson_lo"),
        F.round((p + 1.92 / n + 1.96 * rad) / denom, 6).alias("wilson_hi"),
    )


# ---------------------------------------------------------------------------
# Retrieval quality metrics — nDCG / MRR of the BM25 ranking
# ---------------------------------------------------------------------------


def _retrieval_metrics_oracle() -> str:
    from hive_reflex_spark.registry import ORACLES

    bm25_sql = ORACLES["q110_bm25_topk"].strip()
    return f"""
    WITH ranking AS MATERIALIZED (
        SELECT doc_id,
               ROW_NUMBER() OVER (ORDER BY bm25 DESC, doc_id) AS rnk
        FROM ({bm25_sql}) r),
    words AS (SELECT doc_id, w FROM {DUCK_WORDS} words),
    grades AS (
        SELECT doc_id,
               CAST(COUNT(DISTINCT w) AS BIGINT) AS g
        FROM words WHERE w IN ({_REL_TERMS_SQL}) GROUP BY doc_id),
    dcg AS (
        SELECT {duck_exact_sum(
                   "(pow(2, COALESCE(g.g, 0)) - 1)"
                   " / (ln(r.rnk + 1) / ln(2))", 9)} AS dcg,
               MIN(CASE WHEN COALESCE(g.g, 0) >= 2 THEN r.rnk END)
                   AS first_rel
        FROM ranking r LEFT JOIN grades g USING (doc_id)),
    ideal_rows AS MATERIALIZED (
        SELECT g FROM grades ORDER BY g DESC, doc_id LIMIT {BM25_TOP_K}),
    ideal AS (
        SELECT g, ROW_NUMBER() OVER (ORDER BY g DESC) AS rnk
        FROM ideal_rows),
    idcg AS (
        SELECT {duck_exact_sum("(pow(2, g) - 1) / (ln(rnk + 1) / ln(2))", 9)} AS idcg
        FROM ideal),
    nrel AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_relevant
             FROM grades WHERE g >= 2)
    SELECT CAST({BM25_TOP_K} AS BIGINT) AS k,
           ROUND(dcg, 6) AS dcg,
           ROUND(idcg, 6) AS idcg,
           ROUND(dcg / idcg, 6) AS ndcg,
           ROUND(CASE WHEN first_rel IS NULL THEN 0.0
                 ELSE 1.0 / first_rel END, 6) AS mrr,
           n_relevant
    FROM dcg, idcg, nrel
    """


@query("q232_retrieval_metrics", oracle=_retrieval_metrics_oracle())
def q232_retrieval_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval QUALITY metrics for the BM25 ranking (q110): nDCG@k
    against a graded relevance signal (grade = how many distinct query
    terms a document contains, 0-3) plus MRR to the first
    multi-term-relevant hit and the corpus relevant count — the search
    dashboard numbers that decide whether a ranking change ships. The
    ideal DCG comes from the global top-k grades via
    TakeOrderedAndProject (the full grade table is never sorted); every
    log-discounted gain rounds to 1e-9 integer units before summation
    so both engines agree bit-for-bit.

    Scale: grades are one filtered aggregate over the token explode;
    the ranking is k rows; all metric arithmetic happens on <= 2k
    rows."""
    # k-row ranking (referenced by the prune broadcast AND the dcg
    # aggregate) and the graded-relevance table (referenced by the
    # prune, ideal and n_relevant) both sit below corpus-scale
    # pipelines — localCheckpointed (r12) so BM25 and the token explode
    # each run exactly once instead of per reference (guide §3.3/§5)
    ranking = bm25_topk(spark, sf_dir).select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("bm25"), "doc_id"))
        .alias("rnk"),
    ).transform(maybe_local_checkpoint)
    words = doc_words(spark, sf_dir).select("doc_id", "w")
    grades = (
        words.filter(F.col("w").isin(*REL_TERMS))
        .groupBy("doc_id")
        .agg(F.countDistinct("w").alias("g"))
        # corpus tier (r13): one row per doc matching a REL term —
        # a corpus-growing fraction, unlike the k-row ranking above
        .transform(corpus_checkpoint)
    )
    U = 1_000_000_000
    gain = lambda g, rnk: (  # noqa: E731
        (F.pow(F.lit(2.0), g) - 1) / (F.log(rnk + 1.0) / F.log(F.lit(2.0)))
    )
    # Two broadcast-buildable steps instead of one left-outer with the
    # k-row side hinted (Spark cannot build the preserved/left side of a
    # left-outer BroadcastHashJoin — such a hint is silently ignored and
    # the k rows would shuffle against the corpus-scale grades): (1) the
    # corpus-scale grades stream once against the broadcast k doc_ids
    # (inner, build-right: allowed), leaving <= k rows; (2) the k-row
    # ranking left-joins those <= k graded rows, broadcast on the right
    # (build-right for left-outer: allowed). No shuffle touches grades.
    rel_grades = grades.join(F.broadcast(ranking.select("doc_id")), "doc_id")
    dcg = (
        ranking.join(F.broadcast(rel_grades), "doc_id", "left")
        .agg(
            (
                F.sum(
                    F.round(
                        gain(F.coalesce("g", F.lit(0)), F.col("rnk")) * U
                    ).cast("long")
                )
                / float(U)
            ).alias("dcg"),
            F.min(
                F.when(F.coalesce("g", F.lit(0)) >= 2, F.col("rnk"))
            ).alias("first_rel"),
        )
    )
    ideal = (
        grades.orderBy(F.desc("g"), "doc_id")
        .limit(BM25_TOP_K)
        .select(
            "g",
            F.row_number().over(Window.orderBy(F.desc("g"), "doc_id")).alias(
                "rnk"
            ),
        )
    )
    idcg = ideal.agg(
        (
            F.sum(F.round(gain(F.col("g"), F.col("rnk")) * U).cast("long"))
            / float(U)
        ).alias("idcg")
    )
    nrel = grades.filter(F.col("g") >= 2).agg(
        F.count("*").alias("n_relevant")
    )
    return (
        dcg.join(F.broadcast(idcg))
        .join(F.broadcast(nrel))
        .select(
            F.lit(BM25_TOP_K).cast("long").alias("k"),
            F.round("dcg", 6).alias("dcg"),
            F.round("idcg", 6).alias("idcg"),
            F.round(F.col("dcg") / F.col("idcg"), 6).alias("ndcg"),
            F.round(
                F.when(F.col("first_rel").isNull(), 0.0).otherwise(
                    1.0 / F.col("first_rel")
                ),
                6,
            ).alias("mrr"),
            "n_relevant",
        )
    )


# ---------------------------------------------------------------------------
# Rank-biased overlap: ranking stability across scoring policies
# ---------------------------------------------------------------------------

_RBO_P = 0.9  # persistence: top-weighted, ~10-deep effective horizon
_RBO_D = 20  # truncation depth


@query(
    "q259_rbo_rank_stability",
    oracle=f"""
    WITH feats AS (SELECT doc_id, source,
                          CAST(COUNT(*) AS BIGINT) AS n_tokens,
                          CAST(COUNT(DISTINCT w) AS BIGINT) AS n_distinct
                   FROM {DUCK_WORDS} words
                   GROUP BY doc_id, source),
         ranked AS (SELECT source, doc_id,
                           ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY n_tokens DESC, doc_id) AS ra,
                           ROW_NUMBER() OVER (PARTITION BY source
                               ORDER BY n_distinct DESC, doc_id) AS rb
                    FROM feats),
         inwin AS (SELECT source,
                          GREATEST(ra, rb) AS m
                   FROM ranked
                   WHERE GREATEST(ra, rb) <= {_RBO_D}),
         depths AS (SELECT source, d,
                           CAST(COUNT(*) AS BIGINT) AS overlap
                    FROM inwin, (SELECT unnest(range(1, {_RBO_D} + 1)) AS d)
                    WHERE d >= m
                    GROUP BY source, d),
         terms AS (SELECT source,
                          CAST(ROUND(power({_RBO_P}, d - 1) / d * overlap
                               * 1000000000) AS BIGINT) AS u,
                          CASE WHEN d = {_RBO_D} THEN overlap END AS ov_d
                   FROM depths),
    agg AS (SELECT source,
                   ROUND(CAST(SUM(u) AS BIGINT) * {1.0 - _RBO_P}
                         / 1000000000.0, 6) AS rbo,
                   CAST(MAX(ov_d) AS BIGINT) AS overlap_at_d
            FROM terms GROUP BY source)
    SELECT s.source,
           COALESCE(agg.rbo, 0.0) AS rbo,
           COALESCE(agg.overlap_at_d, 0) AS overlap_at_d
    FROM (SELECT DISTINCT source FROM documents) s
    LEFT JOIN agg ON s.source = agg.source
    """,
)
def q259_rbo_rank_stability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rank-biased overlap (Webber et al.) between two curation ranking
    policies — rank-by-length (total tokens) vs rank-by-vocabulary-
    richness (distinct tokens) — per source: RBO@p=0.9 at depth 20, the
    top-weighted agreement measure for "does switching the length
    policy reorder what we'd actually keep?". Both rank keys are EXACT (integer
    token counts; stop_ratio an int/int rational), so row_number agrees
    across engines; each geometric term is converted to 1e-9 integer
    units BEFORE summation, so the 20-term sum is order-independent —
    the same discipline as every other float aggregate here.

    Scale (100 TB): two windows per source partition and a depth
    fan-out bounded by D=20 rows per doc IN THE WINDOW (not per corpus
    doc — only docs with max(rank_a, rank_b) <= D survive the
    pre-filter). Output is |sources| rows."""
    words = doc_words(spark, sf_dir)
    feats = words.groupBy("doc_id", "source").agg(
        F.count("*").alias("n_tokens"),
        F.countDistinct("w").alias("n_distinct"),
    )
    wa = Window.partitionBy("source").orderBy(F.desc("n_tokens"), "doc_id")
    wb = Window.partitionBy("source").orderBy(F.desc("n_distinct"), "doc_id")
    ranked = feats.select(
        "source",
        "doc_id",
        F.row_number().over(wa).alias("ra"),
        F.row_number().over(wb).alias("rb"),
    )
    inwin = ranked.select(
        "source", F.greatest("ra", "rb").alias("m")
    ).filter(F.col("m") <= _RBO_D)
    depths = (
        inwin.select(
            "source",
            F.explode(F.sequence(F.col("m"), F.lit(_RBO_D))).alias("d"),
        )
        .groupBy("source", "d")
        .agg(F.count("*").alias("overlap"))
    )
    term_u = F.round(
        F.pow(F.lit(_RBO_P), F.col("d") - 1)
        / F.col("d")
        * F.col("overlap")
        * 1_000_000_000
    ).cast("long")
    agg = (
        depths.select(
            "source",
            term_u.alias("u"),
            F.when(F.col("d") == _RBO_D, F.col("overlap")).alias("ov_d"),
        )
        .groupBy("source")
        .agg(
            F.round(
                F.sum("u") * (1.0 - _RBO_P) / 1_000_000_000.0, 6
            ).alias("rbo"),
            F.max("ov_d").cast("long").alias("overlap_at_d"),
        )
    )
    # a source whose two top-D lists share NOTHING must still report
    # (rbo = 0) — at corpus scale most sources disagree entirely and
    # dropping them would return an empty, degenerate answer
    sources = read_table(spark, sf_dir, "documents").select("source").distinct()
    return sources.join(agg, "source", "left").select(
        "source",
        F.coalesce(F.col("rbo"), F.lit(0.0)).alias("rbo"),
        F.coalesce(F.col("overlap_at_d"), F.lit(0)).cast("long").alias(
            "overlap_at_d"
        ),
    )


# ---------------------------------------------------------------------------
# MMR diversified reranking (aggregate-then-replay retrieval tier)
# ---------------------------------------------------------------------------

_MMR_NQ = 4  # query vectors: vec_id < 4
_MMR_CAND = 12  # relevance candidates per query
_MMR_K = 5  # diversified picks
_MMR_LAMBDA = 0.7  # relevance weight
# redundancy weight: ONE constant used verbatim in both the SQL text and
# the Python greedy — (1 - 0.7) is 0.30000000000000004, a different
# double than literal 0.3, and a 1-ulp score skew can flip a 6dp
# rounding boundary or a near-tied argmax between engines (ADVICE r7)
_MMR_MU = 0.3


def _mmr_oracle() -> str:
    """Unrolled greedy MMR as CTEs (the q92/q88 unrolled-iteration
    technique): sel1 = argmax relevance; each later step scores the
    remaining candidates 0.7*rel - 0.3*max(sim to selected) and picks
    the (score DESC, cand) argmax."""
    base = f"""
    WITH coords AS MATERIALIZED (
             SELECT vec_id, dim, v FROM {_duck_coords(None)} c),
         norms AS MATERIALIZED (
             SELECT vec_id, sqrt({duck_exact_sum("v * v", 9)}) AS nrm
             FROM coords GROUP BY vec_id),
         rel AS (SELECT q.vec_id AS query_id, c.vec_id AS cand_id,
                        ({duck_exact_sum("q.v * c.v", 9)})
                            / (nq.nrm * nc.nrm) AS rel
                 FROM coords q JOIN coords c ON q.dim = c.dim
                 JOIN norms nq ON q.vec_id = nq.vec_id
                 JOIN norms nc ON c.vec_id = nc.vec_id
                 WHERE q.vec_id < {_MMR_NQ} AND c.vec_id >= {_MMR_NQ}
                 GROUP BY q.vec_id, c.vec_id, nq.nrm, nc.nrm),
         cand AS MATERIALIZED (
             SELECT query_id, cand_id, rel FROM (
                 SELECT query_id, cand_id, rel,
                        ROW_NUMBER() OVER (PARTITION BY query_id
                            ORDER BY rel DESC, cand_id) AS rnk
                 FROM rel) WHERE rnk <= {_MMR_CAND}),
         sims AS MATERIALIZED (
             SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
                    ({duck_exact_sum("x.v * y.v", 9)})
                        / (na.nrm * nb.nrm) AS sim
             FROM cand a JOIN cand b
               ON a.query_id = b.query_id AND a.cand_id != b.cand_id
             JOIN coords x ON x.vec_id = a.cand_id
             JOIN coords y ON y.vec_id = b.cand_id AND x.dim = y.dim
             JOIN norms na ON a.cand_id = na.vec_id
             JOIN norms nb ON b.cand_id = nb.vec_id
             GROUP BY a.query_id, a.cand_id, b.cand_id, na.nrm, nb.nrm),
         sel1 AS MATERIALIZED (
             SELECT query_id, cand_id,
                    {_MMR_LAMBDA} * rel AS mmr_score, 1 AS rank
             FROM (SELECT query_id, cand_id, rel,
                          ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY rel DESC, cand_id) AS rn
                   FROM cand) WHERE rn = 1)"""
    prev_union = "SELECT query_id, cand_id FROM sel1"
    ctes = [base]
    for k in range(2, _MMR_K + 1):
        ctes.append(f"""
         pick{k} AS (SELECT c.query_id, c.cand_id,
                            {_MMR_LAMBDA} * c.rel
                            - {_MMR_MU} * MAX(s.sim)
                                AS mmr_score
                     FROM cand c
                     JOIN ({prev_union}) sel
                       ON c.query_id = sel.query_id
                     JOIN sims s ON s.query_id = c.query_id
                              AND s.ca = c.cand_id
                              AND s.cb = sel.cand_id
                     WHERE c.cand_id NOT IN (
                         SELECT cand_id FROM ({prev_union}) p
                         WHERE p.query_id = c.query_id)
                     GROUP BY c.query_id, c.cand_id, c.rel),
         sel{k} AS MATERIALIZED (
             SELECT query_id, cand_id, mmr_score, {k} AS rank
             FROM (SELECT query_id, cand_id, mmr_score,
                          ROW_NUMBER() OVER (PARTITION BY query_id
                              ORDER BY mmr_score DESC, cand_id) AS rn
                   FROM pick{k}) WHERE rn = 1)""")
        prev_union += f" UNION ALL SELECT query_id, cand_id FROM sel{k}"
    selects = " UNION ALL ".join(
        f"SELECT query_id, cand_id, mmr_score, rank FROM sel{k}"
        for k in range(1, _MMR_K + 1)
    )
    return (
        ",".join(ctes)
        + f"""
    SELECT query_id, cand_id, CAST(rank AS INTEGER) AS rank,
           ROUND(mmr_score, 6) AS mmr_score
    FROM ({selects}) ORDER BY query_id, rank"""
    )


@query("q261_mmr_rerank", oracle=_mmr_oracle())
def q261_mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal-marginal-relevance diversified reranking: from each
    query's top-12 cosine candidates, greedily pick 5 maximizing
    0.7*relevance - 0.3*max(similarity to already-picked) — the
    redundancy-aware rerank that stops near-duplicate passages from
    filling a retrieval window (RAG context packing, eval-set dedup).
    Aggregate-then-replay: ALL event-scale work (candidate cosines,
    candidate-pair similarity matrix) happens in distributed integer-
    unit exact aggregates; the inherently sequential greedy loop runs
    per query over its bounded 12x12 block in one Arrow batch — the
    q136/q159 discipline. The oracle unrolls the same 5 greedy steps as
    CTEs; all scores derive from exact-integer dots, so the argmax
    ranking (tie-break on cand_id) agrees across engines exactly.

    Scale (100 TB): relevance is the q51/q52 pattern (queries
    broadcast, corpus streams); the replay input is queries x
    O(CAND^2) rows — candidate count, not corpus, bounds the Python
    stage. Swap the candidate source for q102's IVF-PQ under the same
    replay to serve at billion-vector scale."""
    import pandas as pd

    coords = embedding_coords(spark, sf_dir)
    # per-vector norms are referenced FOUR times (nq/nc/na/nb
    # broadcasts) — materialized so the corpus-scale norm reduce runs
    # once instead of per broadcast (guide §3.3/§5); corpus tier (r13)
    norms = coords.groupBy("vec_id").agg(
        F.sqrt(exact_sum(F.col("v") * F.col("v"), 9)).alias("nrm")
    ).transform(corpus_checkpoint)
    q = coords.filter(F.col("vec_id") < _MMR_NQ).select(
        F.col("vec_id").alias("query_id"), "dim", F.col("v").alias("qv")
    )
    nq = norms.alias("nq")
    nc = norms.alias("nc")
    rel = (
        F.broadcast(q)
        .join(coords.filter(F.col("vec_id") >= _MMR_NQ), "dim")
        .groupBy("query_id", F.col("vec_id").alias("cand_id"))
        .agg(exact_sum(F.col("qv") * F.col("v"), 9).alias("dot"))
        .join(F.broadcast(nq), F.col("query_id") == F.col("nq.vec_id"))
        .join(F.broadcast(nc), F.col("cand_id") == F.col("nc.vec_id"))
        .select(
            "query_id",
            "cand_id",
            (F.col("dot") / (F.col("nq.nrm") * F.col("nc.nrm"))).alias(
                "rel"
            ),
        )
    )
    wq = Window.partitionBy("query_id").orderBy(F.desc("rel"), "cand_id")
    # the |queries| x CAND candidate table is referenced three times
    # (both sims legs + triples) and sits below the corpus-scale
    # relevance scoring — localCheckpointed (r12)
    cand = (
        rel.withColumn("rnk", F.row_number().over(wq))
        .filter(F.col("rnk") <= _MMR_CAND)
        .drop("rnk")
        .transform(maybe_local_checkpoint)
    )
    # candidate-pair similarity matrix: bounded |queries| x CAND^2.
    # The x/y legs broadcast only the CANDIDATE vectors' coordinates
    # (r12; the equality joins on cand_id keep exactly those rows, so
    # pruning first is value-identical) — the r11 shape broadcast the
    # FULL coordinate table twice, which is corpus-scale at 100 TB
    cand_vecs = coords.join(
        F.broadcast(
            cand.select(F.col("cand_id").alias("vec_id")).distinct()
        ),
        "vec_id",
    ).transform(maybe_local_checkpoint)
    ca = cand.alias("ca")
    cb = cand.alias("cb")
    x = cand_vecs.alias("x")
    y = cand_vecs.alias("y")
    na = norms.alias("na")
    nb = norms.alias("nb")
    sims = (
        ca.join(
            cb,
            (F.col("ca.query_id") == F.col("cb.query_id"))
            & (F.col("ca.cand_id") != F.col("cb.cand_id")),
        )
        .join(F.broadcast(x), F.col("ca.cand_id") == F.col("x.vec_id"))
        .join(
            F.broadcast(y),
            (F.col("cb.cand_id") == F.col("y.vec_id"))
            & (F.col("x.dim") == F.col("y.dim")),
        )
        .groupBy(
            F.col("ca.query_id").alias("query_id"),
            F.col("ca.cand_id").alias("ca_id"),
            F.col("cb.cand_id").alias("cb_id"),
        )
        .agg(exact_sum(F.col("x.v") * F.col("y.v"), 9).alias("dot"))
        .join(F.broadcast(na), F.col("ca_id") == F.col("na.vec_id"))
        .join(F.broadcast(nb), F.col("cb_id") == F.col("nb.vec_id"))
        .select(
            "query_id",
            "ca_id",
            "cb_id",
            (F.col("dot") / (F.col("na.nrm") * F.col("nb.nrm"))).alias(
                "sim"
            ),
        )
    )
    # LEFT join: a query with exactly one relevance candidate has no
    # candidate pairs in sims — an inner join would drop it here while
    # the oracle's sel1 still emits its rank-1 pick (ADVICE r7)
    triples = cand.join(
        sims,
        (cand.query_id == sims.query_id) & (cand.cand_id == sims.ca_id),
        "left",
    ).select(
        cand.query_id.alias("query_id"),
        "cand_id",
        "rel",
        "cb_id",
        "sim",
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        qid = int(pdf["query_id"].iloc[0])
        rels = {
            int(c): float(r)
            for c, r in pdf.groupby("cand_id")["rel"].first().items()
        }
        paired = pdf.dropna(subset=["cb_id"])  # null = pairless candidate
        sim = {
            (int(a), int(b)): float(s)
            for a, b, s in zip(
                paired["cand_id"], paired["cb_id"], paired["sim"]
            )
        }
        remaining = sorted(rels)
        picks = []
        first = max(remaining, key=lambda c: (rels[c], -c))
        picks.append((first, _MMR_LAMBDA * rels[first]))
        remaining.remove(first)
        while remaining and len(picks) < _MMR_K:
            best, best_score = None, None
            for c in remaining:
                pen = max(sim[(c, s)] for s, _ in picks)
                score = _MMR_LAMBDA * rels[c] - _MMR_MU * pen
                if best is None or (score, -c) > (best_score, -best):
                    best, best_score = c, score
            picks.append((best, best_score))
            remaining.remove(best)
        return pd.DataFrame(
            {
                "query_id": [qid] * len(picks),
                "cand_id": [c for c, _ in picks],
                "rank": list(range(1, len(picks) + 1)),
                "mmr_score": [round(s, 6) for _, s in picks],
            }
        )

    return (
        triples.groupBy("query_id")
        .applyInPandas(
            greedy,
            "query_id long, cand_id long, rank int, mmr_score double",
        )
        .orderBy("query_id", "rank")
    )
