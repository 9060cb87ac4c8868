"""The end-to-end curation pipeline as ONE declarative plan (q129):
quality-classifier gate → near-dup drop → benchmark decontamination →
deterministic split → per-(split, source) token budget.

Every stage is an operator this engine already ships and verifies on its
own (q111, q94, q87, q85); this module composes them the way a 100 TB
pretraining-data run actually executes — one lazy DataFrame graph, so
Catalyst sees the whole pipeline at once (shared scans, pushed filters,
one final shuffle for the rollup) instead of four materialized passes.

Scale: the near-dup and contamination drop sets are collision-sized —
they broadcast as anti-joins. The quality gate is per-doc (its reject
set scales WITH the corpus), so it applies as a co-partitioned inner
join on doc_id instead; the corpus still streams through ONCE.
The composed oracle replays the same CTE chain in DuckDB, which is the
strongest correctness statement in the repo: the whole pipeline, not
just its stages, hash-matches another engine.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_reflex_spark.functions import duck_unit_sum
from hive_reflex_spark.io import read_table
from hive_reflex_spark.operators.dedup import (
    _DUCK_BANDS,
    _DUCK_DSH,
    _DUCK_MINHASH,
    MAX_SHINGLE_DF,
    neardup_dropped_ids,
)
from hive_reflex_spark.operators.retrieval import classifier_scores
from hive_reflex_spark.operators.sampling import (
    _BENCH_MOD,
    _DUCK_SH4,
    _SPLIT_SQL,
    _split_col,
    q87_decontaminate,
)
from hive_reflex_spark.operators.text import DUCK_WORDS
from hive_reflex_spark.registry import query


@query(
    "q129_curation_pipeline",
    oracle=f"""
    WITH words AS (SELECT doc_id, substr(md5(w), 1, 1) AS b,
                          CAST(COUNT(*) AS BIGINT) AS cnt
                   FROM (SELECT doc_id, unnest(string_split(text, ' ')) AS w
                         FROM documents)
                   GROUP BY doc_id, b),
         wtab AS (SELECT b,
                         CAST(instr('0123456789abcdef',
                                    substr(md5(b), 1, 1)) - 1 AS BIGINT)
                             * 2 - 15 AS num32
                  FROM (SELECT DISTINCT b FROM words)),
         lowq AS (SELECT doc_id FROM words JOIN wtab USING (b)
                  GROUP BY doc_id HAVING SUM(cnt * num32) < 0),
         dsh_all AS {_DUCK_DSH},
         dsh AS (SELECT * FROM dsh_all WHERE shingle NOT IN
                 (SELECT shingle FROM dsh_all
                  GROUP BY shingle HAVING COUNT(*) > {MAX_SHINGLE_DF})),
         mh AS {_DUCK_MINHASH},
         bands AS {_DUCK_BANDS},
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.band_sig = b.band_sig
                       AND a.doc_id < b.doc_id),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
         inter AS (SELECT c.doc_a, c.doc_b, COUNT(*) AS i
                   FROM cand c
                   JOIN dsh a ON a.doc_id = c.doc_a
                   JOIN dsh b ON b.doc_id = c.doc_b
                                 AND b.shingle = a.shingle
                   GROUP BY c.doc_a, c.doc_b),
         dups AS (SELECT DISTINCT doc_b AS doc_id
                  FROM inter
                  JOIN sizes sa ON doc_a = sa.doc_id
                  JOIN sizes sb ON doc_b = sb.doc_id
                  WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5),
         contaminated AS (SELECT DISTINCT t.doc_id
                          FROM {_DUCK_SH4} t JOIN {_DUCK_SH4} b
                            ON t.shingle = b.shingle
                          WHERE b.doc_id % {_BENCH_MOD} = 0
                            AND t.doc_id % {_BENCH_MOD} <> 0),
         kept AS (SELECT * FROM documents d
                  WHERE d.doc_id % {_BENCH_MOD} <> 0
                    AND d.doc_id NOT IN (SELECT doc_id FROM lowq)
                    AND d.doc_id NOT IN (SELECT doc_id FROM dups)
                    AND d.doc_id NOT IN (SELECT doc_id FROM contaminated))
    SELECT {_SPLIT_SQL} AS split, source,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT)) AS BIGINT)
               AS total_tokens
    FROM kept
    GROUP BY 1, 2
    """,
)
def q129_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The capstone: quality gate (q111's exact integer sign) → near-dup
    drop (q94's LSH-verify-keep-first) → benchmark holdout +
    decontamination (q87's 4-gram overlap) → md5 split (q85) →
    per-(split, source) doc and token budget. One lazy plan: every drop
    set here — quality rejects, near-dup drops, contamination hits — is
    a function of the corpus, so NONE of them is broadcast (on real web
    corpora the near-dup drop set alone is 30-50% of documents). All
    four prunes are plain hash anti/inner joins on doc_id that AQE can
    still broadcast when a set is genuinely small at runtime; the corpus
    streams through once."""
    docs = read_table(spark, sf_dir, "documents")
    goodq = (
        classifier_scores(spark, sf_dir)
        .filter(F.col("num") >= 0)
        .select("doc_id")
    )
    dups = neardup_dropped_ids(spark, sf_dir)
    contaminated = q87_decontaminate(spark, sf_dir).select("doc_id").distinct()
    kept = (
        docs.filter(F.col("doc_id") % _BENCH_MOD != 0)
        .join(goodq, "doc_id")
        .join(dups, "doc_id", "left_anti")
        .join(contaminated, "doc_id", "left_anti")
    )
    return (
        kept.select(
            _split_col().alias("split"),
            "source",
            F.size(F.split("text", " ")).cast("long").alias("toks"),
        )
        .groupBy("split", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("toks").alias("total_tokens"),
        )
    )

@query(
    "q200_corpus_scorecard",
    oracle=f"""
    WITH base AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
               CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_unique,
               CAST(SUM(n_chars) AS BIGINT) AS total_chars
        FROM documents),
    words AS (SELECT doc_id, w FROM {DUCK_WORDS} words),
    feats AS (SELECT doc_id, substr(md5(w), 1, 1) AS b,
                     CAST(COUNT(*) AS BIGINT) AS cnt
              FROM words GROUP BY doc_id, b),
    wtab AS (SELECT b,
                    (instr('0123456789abcdef', substr(md5(b), 1, 1)) - 1) * 2
                        - 15 AS num32
             FROM (SELECT DISTINCT b FROM feats)),
    q AS (SELECT CAST(SUM(CASE WHEN s.num >= 0 THEN 1 ELSE 0 END) AS BIGINT)
                     AS n_pass,
                 CAST(COUNT(*) AS BIGINT) AS n_scored
          FROM (SELECT doc_id, CAST(SUM(cnt * num32) AS BIGINT) AS num
                FROM feats JOIN wtab USING (b) GROUP BY doc_id) s),
    src AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
            FROM documents GROUP BY source),
    ent AS (SELECT {duck_unit_sum(
                       "-(n * 1.0 / b.n_docs) * ln(n * 1.0 / b.n_docs)", 9)}
                       AS ent_units
            FROM src, base b)
    SELECT b.n_docs, b.n_unique,
           ROUND(1 - b.n_unique * 1.0 / b.n_docs, 6) AS exact_dup_rate,
           ROUND(b.total_chars * 1.0 / b.n_docs, 6) AS mean_chars,
           q.n_pass, ROUND(q.n_pass * 1.0 / q.n_scored, 6) AS quality_pass_rate,
           ROUND(e.ent_units / 1000000000.0, 6) AS source_entropy_nats
    FROM base b, q, ent e
    """,
)
def q200_corpus_scorecard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The per-snapshot corpus health scorecard — ONE row composing the
    QA families a curation run reports before anything trains: exact-dup
    rate (q46's content hashes), mean document length, quality pass rate
    (q111's exact classifier sign), and source-distribution Shannon
    entropy (low entropy = one crawl dominates; each −p·ln p term in 9dp
    integer units so the sum hash-matches). Each metric is one scan-side
    aggregate; the scorecard is their 1-row cross join."""
    from hive_reflex_spark.operators.retrieval import classifier_scores

    docs = read_table(spark, sf_dir, "documents")
    base = docs.agg(
        F.count("*").alias("n_docs"),
        F.countDistinct(F.md5("text")).alias("n_unique"),
        F.sum("n_chars").cast("long").alias("total_chars"),
    )
    q = classifier_scores(spark, sf_dir).agg(
        F.sum(F.when(F.col("num") >= 0, 1).otherwise(0))
        .cast("long")
        .alias("n_pass"),
        F.count("*").alias("n_scored"),
    )
    src = docs.groupBy("source").agg(F.count("*").alias("n"))
    p = F.col("n") * 1.0 / F.col("n_docs")
    ent = src.join(F.broadcast(base.select("n_docs"))).agg(
        F.sum(F.round(-p * F.log(p) * 1_000_000_000).cast("long")).alias(
            "ent_units"
        )
    )
    return (
        base.join(F.broadcast(q))
        .join(F.broadcast(ent))
        .select(
            "n_docs",
            "n_unique",
            F.round(1 - F.col("n_unique") * 1.0 / F.col("n_docs"), 6).alias(
                "exact_dup_rate"
            ),
            F.round(F.col("total_chars") * 1.0 / F.col("n_docs"), 6).alias(
                "mean_chars"
            ),
            "n_pass",
            F.round(F.col("n_pass") * 1.0 / F.col("n_scored"), 6).alias(
                "quality_pass_rate"
            ),
            F.round(F.col("ent_units") / 1_000_000_000.0, 6).alias(
                "source_entropy_nats"
            ),
        )
    )
