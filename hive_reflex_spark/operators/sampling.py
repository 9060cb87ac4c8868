"""Training-data curation: deterministic splits, stratified sampling, and
benchmark decontamination (the brief's "operations a large-scale
training-data pipeline would need" — the selection/holdout side, next to
dedup and quality scoring).

All three are hash-deterministic — no RNG, no seed state — so the same
document lands in the same split on any engine, any cluster size, any
re-run. That is the property real pipelines need: membership must be a
pure function of the record, not of partitioning or scheduling.

Scale notes (100 TB):
- q85 split assignment is a stateless projection (md5 prefix compare) —
  embarrassingly parallel, no shuffle until the 3-row rollup.
- q86 stratified sampling shuffles once by stratum; per-stratum
  row_number is linear after the sort. For strata too hot for one task,
  the production path is threshold-on-hash (take md5 < quantile cutoff,
  one pass, no rank) — the rank form here IS the exactness oracle.
- q87 decontamination joins the corpus against the BENCHMARK side, which
  is tiny by construction — broadcast it and the 100-TB side never
  shuffles for the join; the per-doc rollup ships only matched rows.
  4-word shingles (13-grams in GPT-3-scale practice) keep stop-phrase
  collisions out; 3-grams flag 1/3 of this corpus, 4-grams the actual
  planted overlaps.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_reflex_spark.functions import (
    duck_dyadic_md5_uniform,
    duck_unit_sum,
    dyadic_md5_uniform,
)
from hive_reflex_spark.io import read_table
from hive_reflex_spark.operators.text import DUCK_SHINGLES, word_shingles
from hive_reflex_spark.registry import query

SAMPLE_PER_STRATUM = 10
_BENCH_MOD = 97  # doc_id % 97 == 0 -> the held-out "benchmark" set (~1%)

# split fractions in 256ths of the md5 keyspace: 205/25/26 ≈ 80/10/10
_TRAIN_HI = "cd"  # [00, cd) -> train
_VAL_HI = "e6"  # [cd, e6) -> val, [e6, ff] -> test


def _split_col(id_col: str = "doc_id"):
    b = F.substring(F.md5(F.col(id_col).cast("string")), 1, 2)
    return (
        F.when(b < _TRAIN_HI, F.lit("train"))
        .when(b < _VAL_HI, F.lit("val"))
        .otherwise(F.lit("test"))
    )


_SPLIT_SQL = f"""CASE WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_TRAIN_HI}'
         THEN 'train'
         WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 2) < '{_VAL_HI}'
         THEN 'val' ELSE 'test' END"""


@query(
    "q85_hash_split",
    oracle=f"""
    SELECT {_SPLIT_SQL} AS split,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(COUNT(DISTINCT lang) AS BIGINT) AS n_langs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           ROUND(CAST(SUM(n_chars) AS BIGINT) * 1.0 / COUNT(*), 4) AS avg_chars
    FROM documents
    GROUP BY 1 ORDER BY split
    """,
)
def q85_hash_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split: the first two hex chars of
    md5(doc_id) partition the keyspace 205/25/26 (≈80/10/10). Membership
    is a pure function of the id — stable across engines, reshuffles, and
    incremental re-ingests (a re-crawled doc keeps its split). Returns
    the per-split census a pipeline uses to sanity-check balance."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.withColumn("split", _split_col())
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("lang").alias("n_langs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.sum("n_chars") * 1.0 / F.count("*"), 4).alias("avg_chars"),
        )
        .orderBy("split")
    )


@query(
    "q86_stratified_sample",
    oracle=f"""
    SELECT lang, doc_id, smp_rank FROM (
        SELECT lang, doc_id,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
               ) AS INTEGER) AS smp_rank
        FROM documents)
    WHERE smp_rank <= {SAMPLE_PER_STRATUM}
    ORDER BY lang, smp_rank
    """,
)
def q86_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact stratified sample: the first k documents per language in
    md5(doc_id) order — a deterministic "random" draw with a hard
    per-stratum quota (eval sets, annotation batches). One shuffle
    (partition by stratum); at hot-stratum scale the production variant
    thresholds on the hash value directly (no rank) — this rank form is
    the exact-quota oracle."""
    docs = read_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy(
        F.md5(F.col("doc_id").cast("string")), "doc_id"
    )
    return (
        docs.select(
            "lang", "doc_id", F.row_number().over(w).alias("smp_rank")
        )
        .filter(F.col("smp_rank") <= SAMPLE_PER_STRATUM)
        .orderBy("lang", "smp_rank")
    )


_DUCK_SH4 = """(
    SELECT DISTINCT doc_id,
           w || ' ' || w1 || ' ' || w2 || ' ' || w3 AS shingle
    FROM (SELECT doc_id, w,
                 lead(w, 1) OVER win AS w1, lead(w, 2) OVER win AS w2,
                 lead(w, 3) OVER win AS w3
          FROM (SELECT doc_id,
                       unnest(range(len(string_split(text, ' ')))) AS pos,
                       unnest(string_split(text, ' ')) AS w
                FROM documents) words
          WINDOW win AS (PARTITION BY doc_id ORDER BY pos))
    WHERE w3 IS NOT NULL)"""


def _shingles4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (doc_id, 4-word shingle): scan-side transform over the
    token array (same no-window shape as text.doc_shingles, one word
    longer for decontamination specificity)."""
    return word_shingles(
        read_table(spark, sf_dir, "documents"), 4
    ).dropDuplicates(["doc_id", "shingle"])


@query(
    "q87_decontaminate",
    oracle=f"""
    SELECT t.doc_id,
           CAST(COUNT(DISTINCT t.shingle) AS BIGINT) AS n_hit_shingles,
           CAST(COUNT(DISTINCT b.doc_id) AS BIGINT) AS n_bench_docs
    FROM {_DUCK_SH4} t JOIN {_DUCK_SH4} b ON t.shingle = b.shingle
    WHERE b.doc_id % {_BENCH_MOD} = 0 AND t.doc_id % {_BENCH_MOD} <> 0
    GROUP BY t.doc_id ORDER BY t.doc_id
    """,
)
def q87_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    4-word shingle with the held-out benchmark set (doc_id % 97 == 0
    stands in for the eval suite). The benchmark shingle table is small
    by construction, so it rides as a BROADCAST to every executor and
    the corpus-side scan never shuffles for the join — the canonical
    n-gram-overlap decontamination shape (GPT-3 used 13-grams; 4 here
    matches the fixture's short docs). Returns each contaminated doc
    with how many shingles hit and how many benchmark docs they span."""
    sh = _shingles4(spark, sf_dir)
    bench = (
        sh.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .withColumnRenamed("doc_id", "bench_id")
    )
    train = sh.filter(F.col("doc_id") % _BENCH_MOD != 0)
    return (
        train.join(F.broadcast(bench), "shingle")
        .groupBy("doc_id")
        .agg(
            F.countDistinct("shingle").alias("n_hit_shingles"),
            F.countDistinct("bench_id").alias("n_bench_docs"),
        )
        .orderBy("doc_id")
    )


_FUZZY_TAU = 0.02  # contaminated iff >=2% of a doc's shingles hit the
# benchmark — fixture-calibrated (PaLM used 70% of 8-grams; this corpus
# is short synthetic docs whose max observed overlap is ~3.4%)


@query(
    "q270_fuzzy_decontaminate",
    oracle=f"""
    WITH sh AS (SELECT * FROM {_DUCK_SH4} s),
         bench AS (SELECT DISTINCT shingle FROM sh
                   WHERE doc_id % {_BENCH_MOD} = 0),
         tr AS (SELECT doc_id,
                       CAST(COUNT(*) AS BIGINT) AS n_shingles,
                       CAST(SUM(CASE WHEN b.shingle IS NOT NULL
                                     THEN 1 ELSE 0 END) AS BIGINT) AS n_hit
                FROM sh LEFT JOIN bench b USING (shingle)
                WHERE doc_id % {_BENCH_MOD} <> 0
                GROUP BY doc_id)
    SELECT doc_id, n_shingles, n_hit,
           ROUND(n_hit * 1.0 / n_shingles, 6) AS contamination_ratio,
           n_hit * 1.0 / n_shingles >= {_FUZZY_TAU} AS is_contaminated
    FROM tr WHERE n_hit > 0
    """,
)
def q270_fuzzy_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GRADED benchmark decontamination: q87 flags a training doc on ANY
    shared shingle; this computes the contamination RATIO — the fraction
    of the doc's distinct 4-word shingles that appear anywhere in the
    benchmark set — and applies a threshold rule, which is how the
    production decision is actually made (PaLM removed docs with >=70%
    of 8-grams seen in eval data; GPT-3's appendix used 13-gram overlap
    counts). The ratio separates verbatim-leak docs (~1.0: an eval
    answer pasted into the corpus) from incidental phrase collisions
    (~0.01), which an any-hit rule cannot.

    Scale: identical envelope to q87 — the benchmark shingle set is
    small by construction and BROADCASTS; the corpus side is one
    scan-side shingle transform plus a grouped count. The denominator
    (per-doc distinct-shingle count) rides the same aggregate as the
    hit count via the left join, so no second corpus pass.

    Reference anchor: same as q87 (`tools/dataset_tools.py` holdout
    hygiene), upgraded from membership to measure."""
    sh = _shingles4(spark, sf_dir)
    bench = (
        sh.filter(F.col("doc_id") % _BENCH_MOD == 0)
        .select("shingle")
        .distinct()
        .withColumn("hit", F.lit(1))
    )
    train = sh.filter(F.col("doc_id") % _BENCH_MOD != 0)
    tr = (
        train.join(F.broadcast(bench), "shingle", "left")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_shingles"),
            F.sum(F.coalesce("hit", F.lit(0))).cast("long").alias("n_hit"),
        )
    )
    ratio = F.col("n_hit") * 1.0 / F.col("n_shingles")
    return tr.filter(F.col("n_hit") > 0).select(
        "doc_id",
        "n_shingles",
        "n_hit",
        F.round(ratio, 6).alias("contamination_ratio"),
        (ratio >= _FUZZY_TAU).alias("is_contaminated"),
    )


# ---------------------------------------------------------------------------
# Sequence packing: concat-and-chunk documents into fixed context windows
# ---------------------------------------------------------------------------

CTX_LEN = 512
N_PACK_PARTS = 8


@query(
    "q89_sequence_pack",
    oracle=f"""
    WITH docs AS (SELECT doc_id, doc_id % {N_PACK_PARTS} AS pid,
                         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                  FROM documents),
    placed AS (SELECT pid, doc_id, n,
                      COALESCE(CAST(SUM(n) OVER (
                          PARTITION BY pid
                          ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id
                          ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING
                      ) AS BIGINT), 0) AS start
               FROM docs),
    spans AS (SELECT pid, doc_id, n, start,
                     unnest(range(start // {CTX_LEN},
                                  (start + n - 1) // {CTX_LEN} + 1)) AS w
              FROM placed)
    SELECT pid, CAST(w AS BIGINT) AS window_id,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(LEAST((w + 1) * {CTX_LEN}, start + n)
                    - GREATEST(w * {CTX_LEN}, start)) AS BIGINT) AS n_tokens,
           CAST(SUM(CASE WHEN start < w * {CTX_LEN} THEN 1 ELSE 0 END)
                AS BIGINT) AS n_carried
    FROM spans GROUP BY pid, w ORDER BY pid, window_id
    """,
)
def q89_sequence_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing for pretraining: concatenate documents in
    deterministic (md5) order and chunk the token stream into fixed
    CTX_LEN-token context windows, documents splitting across window
    boundaries (the standard concat-and-chunk fill — no padding waste).

    Packing is PER PARTITION (doc_id % 8 here; a real run keys this to
    the ingest partition): each partition packs its own stream
    independently, so at 100 TB every executor packs in parallel with no
    global order, no global window, no driver choke point — window ids
    are (partition, local_window). Token positions are pure integer
    arithmetic off one per-partition cumulative sum. Returns per-window
    occupancy: docs touching it, tokens filled (== ctx_len except each
    partition's tail), and docs carried over a boundary."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id",
        (F.col("doc_id") % N_PACK_PARTS).alias("pid"),
        F.size(F.split("text", " ")).cast("long").alias("n"),
    )
    w_cum = (
        Window.partitionBy("pid")
        .orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    placed = docs.withColumn(
        "start", F.coalesce(F.sum("n").over(w_cum), F.lit(0))
    )
    spans = placed.select(
        "pid",
        "doc_id",
        "n",
        "start",
        F.explode(
            F.sequence(
                (F.col("start") / CTX_LEN).cast("long"),
                ((F.col("start") + F.col("n") - 1) / CTX_LEN).cast("long"),
            )
        ).alias("w"),
    )
    return (
        spans.groupBy("pid", F.col("w").alias("window_id"))
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(
                F.least(
                    (F.col("w") + 1) * CTX_LEN, F.col("start") + F.col("n")
                )
                - F.greatest(F.col("w") * CTX_LEN, F.col("start"))
            ).alias("n_tokens"),
            F.sum(
                (F.col("start") < F.col("w") * CTX_LEN).cast("long")
            ).alias("n_carried"),
        )
        .orderBy("pid", "window_id")
    )


BATCH_B = 32  # docs per padded batch


@query(
    "q274_length_bucket_batching",
    oracle=f"""
    WITH docs AS (SELECT doc_id,
                         CAST(len(string_split(text, ' ')) AS BIGINT) AS n
                  FROM documents),
         rnd AS (SELECT doc_id, n,
                        (ROW_NUMBER() OVER (
                             ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
                         - 1) // {BATCH_B} AS batch
                 FROM docs),
         srt AS (SELECT doc_id, n,
                        (ROW_NUMBER() OVER (ORDER BY n, doc_id)
                         - 1) // {BATCH_B} AS batch
                 FROM docs),
         lab AS (SELECT 'shuffled' AS regime, batch, n FROM rnd
                 UNION ALL
                 SELECT 'length_bucketed' AS regime, batch, n FROM srt),
         per_batch AS (SELECT regime, batch,
                              CAST(COUNT(*) AS BIGINT) AS n_docs,
                              CAST(MAX(n) AS BIGINT) AS max_len,
                              CAST(SUM(n) AS BIGINT) AS tok
                       FROM lab GROUP BY regime, batch)
    SELECT regime,
           CAST(COUNT(*) AS BIGINT) AS n_batches,
           CAST(SUM(tok) AS BIGINT) AS real_tokens,
           CAST(SUM(n_docs * max_len) AS BIGINT) AS padded_tokens,
           CAST(SUM(n_docs * max_len - tok) AS BIGINT) AS pad_waste,
           ROUND(SUM(n_docs * max_len - tok) * 1.0
                 / SUM(n_docs * max_len), 6) AS waste_frac
    FROM per_batch GROUP BY regime
    """,
)
def q274_length_bucket_batching(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Padding-waste accounting for BATCHED (pad-to-max) training — the
    other standard batching regime next to q89's concat-and-chunk
    packing: every batch of {BATCH_B} sequences pads to its longest
    member, so batch composition decides how many FLOPs are spent on
    pad tokens. Two regimes over the identical corpus: 'shuffled'
    (md5-ordered — the random-batch baseline) vs 'length_bucketed'
    (length-sorted batches — the bucketing/SortishSampler trick every
    seq2seq stack ships). The report gives real vs padded token
    totals and the waste fraction per regime; the delta is the
    measured FLOP saving the bucketing justification cites.

    All-integer accounting (lengths, maxima, sums) so both engines
    hash-match exactly; batch assignment is a rank over a deterministic
    md5/length order. Scale: two global ranks at dimension cost — in
    production the rank is per shard (q113's manifest), which changes
    nothing about the per-batch arithmetic; everything after the rank
    is one grouped aggregate.

    Reference anchor: the reference's static batch scheduler padding
    audit (`tools/profiler.py` cycle accounting per fixed-size window,
    SURVEY A5) — here over token lengths instead of cycle slots."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.size(F.split("text", " ")).cast("long").alias("n")
    )
    w_rnd = Window.orderBy(F.md5(F.col("doc_id").cast("string")), "doc_id")
    w_srt = Window.orderBy("n", "doc_id")
    rnd = docs.select(
        F.lit("shuffled").alias("regime"),
        ((F.row_number().over(w_rnd) - 1) / BATCH_B)
        .cast("long")
        .alias("batch"),
        "n",
    )
    srt = docs.select(
        F.lit("length_bucketed").alias("regime"),
        ((F.row_number().over(w_srt) - 1) / BATCH_B)
        .cast("long")
        .alias("batch"),
        "n",
    )
    per_batch = (
        rnd.unionAll(srt)
        .groupBy("regime", "batch")
        .agg(
            F.count("*").alias("n_docs"),
            F.max("n").alias("max_len"),
            F.sum("n").alias("tok"),
        )
    )
    padded = F.col("n_docs") * F.col("max_len")
    return per_batch.groupBy("regime").agg(
        F.count("*").alias("n_batches"),
        F.sum("tok").cast("long").alias("real_tokens"),
        F.sum(padded).cast("long").alias("padded_tokens"),
        F.sum(padded - F.col("tok")).cast("long").alias("pad_waste"),
        F.round(
            F.sum(padded - F.col("tok")) * 1.0 / F.sum(padded), 6
        ).alias("waste_frac"),
    )


# ---------------------------------------------------------------------------
# Domain mixture: temperature-resampled source weights
# ---------------------------------------------------------------------------

MIX_TOKEN_BUDGET = 100_000  # tokens drawn per "epoch budget" unit


@query(
    "q93_domain_mixture",
    oracle=f"""
    WITH per AS (SELECT source, COUNT(*) AS n_docs,
                        CAST(SUM(CAST(len(string_split(text, ' ')) AS BIGINT))
                            AS BIGINT) AS n_tokens
                 FROM documents GROUP BY source),
    si AS (SELECT source, n_docs, n_tokens,
                  (SELECT SUM(n_tokens) FROM per) AS t,
                  CAST(ROUND(sqrt(n_tokens * 1.0
                       / (SELECT SUM(n_tokens) FROM per)) * 1e9)
                       AS BIGINT) AS s9
           FROM per)
    SELECT source, n_docs, n_tokens,
           ROUND(n_tokens * 1.0 / t, 6) AS nat_frac,
           ROUND(s9 * 1.0 / (SUM(s9) OVER ()), 6) AS mix_weight,
           ROUND(s9 * 1.0 / (SUM(s9) OVER ()) * {MIX_TOKEN_BUDGET}
                 / n_tokens, 6) AS epochs_at_budget
    FROM si
    """,
)
def q93_domain_mixture(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-resampled domain mixture (the data-mixing step of a
    pretraining pipeline): per-source token share p_s, resampling weight
    p_s^alpha / sum(p_s^alpha) at alpha = 0.5, and the implied epochs per
    source at a fixed token budget (how many times a small domain is
    re-seen when upsampled).

    alpha = 0.5 is computed as sqrt(), which is IEEE-exact and therefore
    bit-identical across engines (pow() is not); weights are normalized
    in integer 1e-9 units so the normalizing sum is order-independent.

    Scale shape: one partial-aggregated groupBy(source) reduces 100 TB to
    #domains rows; the global total and weight normalization are windows
    over that already-tiny aggregate — the unpartitioned window is over
    #domains rows, never over data."""
    docs = read_table(spark, sf_dir, "documents")
    per = docs.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.size(F.split("text", " ")).cast("long")).alias("n_tokens"),
    )
    w_all = Window.partitionBy()
    si = per.select(
        "source",
        "n_docs",
        "n_tokens",
        F.sum("n_tokens").over(w_all).alias("t"),
    ).withColumn(
        "s9",
        F.round(F.sqrt(F.col("n_tokens") * 1.0 / F.col("t")) * 1e9).cast(
            "long"
        ),
    )
    wsum = F.sum("s9").over(w_all)
    return si.select(
        "source",
        "n_docs",
        "n_tokens",
        F.round(F.col("n_tokens") * 1.0 / F.col("t"), 6).alias("nat_frac"),
        F.round(F.col("s9") * 1.0 / wsum, 6).alias("mix_weight"),
        F.round(
            F.col("s9") * 1.0 / wsum * MIX_TOKEN_BUDGET / F.col("n_tokens"), 6
        ).alias("epochs_at_budget"),
    )


N_SHARDS = 8


@query(
    "q113_shard_manifest",
    oracle=f"""
    WITH base AS (SELECT doc_id,
                         md5(CAST(doc_id AS VARCHAR)) AS h,
                         CAST(len(string_split(text, ' ')) AS BIGINT)
                             AS n_tokens
                  FROM documents),
         sharded AS (SELECT doc_id, h, n_tokens,
                            CAST((instr('0123456789abcdef', substr(h, 1, 1))
                                  - 1) % {N_SHARDS} AS BIGINT) AS shard
                     FROM base)
    SELECT shard,
           CAST(ROW_NUMBER() OVER win AS BIGINT) AS seq,
           doc_id, n_tokens,
           CAST(SUM(n_tokens) OVER win AS BIGINT) AS cum_tokens
    FROM sharded
    WINDOW win AS (PARTITION BY shard ORDER BY h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
    """,
)
def q113_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Training-shard manifest: deterministic pseudo-random shard
    assignment (md5 keyspace, like q85's split) plus an intra-shard
    sequence and running token count — the manifest a data loader reads
    to stream shard s from token offset t. The order inside a shard is
    the md5 of the doc id, so the "shuffle" a trainer wants is a pure
    function of the record with NO global sort: each shard's window
    sorts only its own 1/{{S}} slice in parallel, and re-running on any
    cluster size yields byte-identical manifests. All-integer output —
    no float canonicalization risk anywhere."""
    docs = read_table(spark, sf_dir, "documents")
    base = docs.select(
        "doc_id",
        F.md5(F.col("doc_id").cast("string")).alias("h"),
        F.size(F.split("text", " ")).cast("long").alias("n_tokens"),
    ).withColumn(
        "shard",
        (
            (F.expr("instr('0123456789abcdef', substr(h, 1, 1))") - 1)
            % N_SHARDS
        ).cast("long"),
    )
    win = (
        Window.partitionBy("shard")
        .orderBy("h", "doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return base.select(
        "shard",
        F.row_number().over(win).cast("long").alias("seq"),
        "doc_id",
        "n_tokens",
        F.sum("n_tokens").over(win).alias("cum_tokens"),
    )


WSAMPLE_K = 20  # sample size per source

# md5-derived uniform in (0,1): the SHARED exact dyadic polynomial
# (functions.dyadic_md5_uniform; the KMV family q268/q268a/q277 uses
# the same builder on user_id) — every term is exact in binary double,
# so both engines build the identical uniform from the identical hash.
_U_TERMS_SQL = duck_dyadic_md5_uniform("doc_id")


@query(
    "q124_weighted_sample",
    oracle=f"""
    WITH keyed AS (SELECT doc_id, source,
                          CAST(n_chars AS DOUBLE) AS weight,
                          ROUND(ln({_U_TERMS_SQL} + 1e-12)
                                / n_chars, 9) AS es_key
                   FROM documents),
         ranked AS (SELECT source, doc_id, weight, es_key,
                           ROW_NUMBER() OVER (PARTITION BY source
                                              ORDER BY es_key DESC, doc_id)
                               AS rnk
                    FROM keyed)
    SELECT source, rnk, doc_id, weight, es_key
    FROM ranked WHERE rnk <= {WSAMPLE_K}
    """,
)
def q124_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling without replacement (Efraimidis-Spirakis A-ES):
    every record gets key ln(u)/w from a hash-derived uniform u and its
    weight w (here n_chars — longer docs proportionally likelier), and
    the sample is the top-k keys per source. One pass, no rejection
    loop, membership a pure function of the record — the way weighted
    subsampling actually runs at 100 TB (per-group top-k == a bounded
    heap per partition, merged at the shuffle).

    Ranking by ln(u)/w is the monotone equivalent of the paper's
    u^(1/w) (ln is increasing, w > 0), avoiding cross-engine pow()
    parity risk; the uniform is an exact dyadic polynomial of md5 hex
    digits, identical in both engines, and keys freeze to 9dp before
    ranking with doc_id as the tiebreak."""
    docs = read_table(spark, sf_dir, "documents")
    u = dyadic_md5_uniform("doc_id")
    keyed = docs.select(
        "doc_id",
        "source",
        F.col("n_chars").cast("double").alias("weight"),
        F.round(F.log(u + 1e-12) / F.col("n_chars"), 9).alias("es_key"),
    )
    w = Window.partitionBy("source").orderBy(F.desc("es_key"), "doc_id")
    return (
        keyed.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= WSAMPLE_K)
        .select("source", "rnk", "doc_id", "weight", "es_key")
    )


BLOOM_M = 1024  # bits
BLOOM_K = 3  # hash functions
_BLOOM_MEMBER_MOD = 97  # doc_id % 97 == 0 -> member set (q87's benchmark)

# bit index for hash j: first 3 hex digits of md5(j:doc_id) as an int,
# mod m — hex digits decoded positionally (no hex cast builtin needed)
_BLOOM_BIT = (
    "((instr('0123456789abcdef', substr(md5({j} || ':' || CAST(doc_id AS {st})), 1, 1)) - 1) * 256"
    " + (instr('0123456789abcdef', substr(md5({j} || ':' || CAST(doc_id AS {st})), 2, 1)) - 1) * 16"
    " + (instr('0123456789abcdef', substr(md5({j} || ':' || CAST(doc_id AS {st})), 3, 1)) - 1)) % {m}"
)


@query(
    "q127_bloom_filter",
    oracle=f"""
    WITH members AS (SELECT doc_id FROM documents
                     WHERE doc_id % {_BLOOM_MEMBER_MOD} = 0),
         ks AS (SELECT unnest(range({BLOOM_K})) AS j),
         bits AS (SELECT DISTINCT
                         CAST({_BLOOM_BIT.format(j="j", m=BLOOM_M, st="VARCHAR")} AS BIGINT)
                             AS bit
                  FROM members, ks),
         probes AS (SELECT d.doc_id,
                           d.doc_id % {_BLOOM_MEMBER_MOD} = 0 AS is_member,
                           CAST({_BLOOM_BIT.format(j="ks.j", m=BLOOM_M, st="VARCHAR")}
                                AS BIGINT) AS bit
                    FROM documents d, ks),
         flagged AS (SELECT probes.doc_id, probes.is_member,
                            CAST(COUNT(bits.bit) AS BIGINT) = {BLOOM_K}
                                AS might_contain
                     FROM probes LEFT JOIN bits USING (bit)
                     GROUP BY probes.doc_id, probes.is_member)
    SELECT CAST(SUM(CASE WHEN is_member THEN 1 ELSE 0 END) AS BIGINT)
               AS n_members,
           CAST(SUM(CASE WHEN might_contain THEN 1 ELSE 0 END) AS BIGINT)
               AS n_flagged,
           CAST(SUM(CASE WHEN might_contain AND NOT is_member
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_pos,
           CAST(SUM(CASE WHEN is_member AND NOT might_contain
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_false_neg,
           ROUND(SUM(CASE WHEN might_contain AND NOT is_member
                          THEN 1 ELSE 0 END) * 1.0
                 / SUM(CASE WHEN NOT is_member THEN 1 ELSE 0 END), 6)
               AS fp_rate
    FROM flagged
    """,
)
def q127_bloom_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-filter semi-join from scratch (Bloom 1970) — the third
    mergeable sketch next to count-min (q114) and HyperLogLog (q118):
    the member set's k=3 md5 bit positions build a <=1024-row bit table
    (broadcast — it IS the filter), the corpus probes its own 3 bits
    against it, and a doc is flagged iff all 3 hit. Output pins the
    Bloom contract: zero false negatives, and a measured false-positive
    rate against the (1 - e^-kn/m)^k theory bound.

    This is the shape Spark's runtime-filter join pruning uses at 100
    TB: ship a tiny bit table to the fact side so non-members never
    reach the shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    ks = docs.sparkSession.range(BLOOM_K).select(
        F.col("id").cast("int").alias("j")
    )
    bit_expr = F.expr(
        _BLOOM_BIT.format(j="j", m=BLOOM_M, st="STRING")
    ).cast("long")
    members = docs.filter(F.col("doc_id") % _BLOOM_MEMBER_MOD == 0).select(
        "doc_id"
    )
    bits = (
        members.join(F.broadcast(ks))
        .select(bit_expr.alias("bit"))
        .distinct()
    )
    probes = (
        docs.select(
            "doc_id",
            (F.col("doc_id") % _BLOOM_MEMBER_MOD == 0).alias("is_member"),
        )
        .join(F.broadcast(ks))
        .select("doc_id", "is_member", bit_expr.alias("bit"))
    )
    flagged = (
        probes.join(F.broadcast(bits.withColumn("hit", F.lit(1))), "bit", "left")
        .groupBy("doc_id", "is_member")
        .agg((F.count("hit") == BLOOM_K).alias("might_contain"))
    )
    mc, im = F.col("might_contain"), F.col("is_member")
    return flagged.agg(
        F.sum(F.when(im, 1).otherwise(0)).alias("n_members"),
        F.sum(F.when(mc, 1).otherwise(0)).alias("n_flagged"),
        F.sum(F.when(mc & ~im, 1).otherwise(0)).alias("n_false_pos"),
        F.sum(F.when(im & ~mc, 1).otherwise(0)).alias("n_false_neg"),
        F.round(
            F.sum(F.when(mc & ~im, 1).otherwise(0))
            * 1.0
            / F.sum(F.when(~im, 1).otherwise(0)),
            6,
        ).alias("fp_rate"),
    )

_HRW_SHARDS = 4


@query(
    "q179_rendezvous_sharding",
    oracle=f"""
    WITH scores AS (
        SELECT doc_id, s,
               md5(CAST(s AS VARCHAR) || ':' || CAST(doc_id AS VARCHAR))
                   AS h
        FROM documents,
             (SELECT unnest(range({_HRW_SHARDS + 1})) AS s) shards),
    pick4 AS (
        SELECT doc_id,
               MIN(CASE WHEN rnk = 1 THEN s END) AS shard4
        FROM (SELECT doc_id, s,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY h DESC, s) AS rnk
              FROM scores WHERE s < {_HRW_SHARDS})
        GROUP BY doc_id),
    pick5 AS (
        SELECT doc_id,
               MIN(CASE WHEN rnk = 1 THEN s END) AS shard5
        FROM (SELECT doc_id, s,
                     ROW_NUMBER() OVER (PARTITION BY doc_id
                                        ORDER BY h DESC, s) AS rnk
              FROM scores)
        GROUP BY doc_id)
    SELECT CAST(p4.shard4 AS INT) AS shard,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN p5.shard5 != p4.shard4
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_moved_on_grow,
           ROUND(SUM(CASE WHEN p5.shard5 != p4.shard4
                     THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6) AS move_frac
    FROM pick4 p4 JOIN pick5 p5 USING (doc_id)
    GROUP BY p4.shard4
    """,
)
def q179_rendezvous_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rendezvous (highest-random-weight) sharding next to q113's
    mod-hash: each record goes to the shard with the highest
    md5(shard:doc) score, so GROWING the cluster from 4 to 5 shards
    moves ONLY the records the new shard now wins (~1/5) — mod-hash
    would reshuffle ~4/5 of the corpus. The report proves the property:
    per-shard counts plus the measured movement fraction under growth.
    Scoring is a doc×(shards+1) projection (shards is a constant-width
    fan-out, not a join), one window per doc picks the winner."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    shards = docs.sparkSession.range(_HRW_SHARDS + 1).select(
        F.col("id").cast("int").alias("s")
    )
    scores = docs.join(F.broadcast(shards)).select(
        "doc_id",
        "s",
        F.md5(
            F.concat_ws(":", F.col("s").cast("string"),
                        F.col("doc_id").cast("string"))
        ).alias("h"),
    )
    w = Window.partitionBy("doc_id").orderBy(F.desc("h"), "s")

    def pick(df: DataFrame, col: str) -> DataFrame:
        return (
            df.withColumn("rnk", F.row_number().over(w))
            .filter(F.col("rnk") == 1)
            .select("doc_id", F.col("s").alias(col))
        )

    p4 = pick(scores.filter(F.col("s") < _HRW_SHARDS), "shard4")
    p5 = pick(scores, "shard5")
    j = p4.join(p5, "doc_id")
    moved = F.when(F.col("shard5") != F.col("shard4"), 1).otherwise(0)
    return j.groupBy(F.col("shard4").cast("int").alias("shard")).agg(
        F.count("*").alias("n_docs"),
        F.sum(moved).cast("long").alias("n_moved_on_grow"),
        F.round(F.sum(moved) * 1.0 / F.count("*"), 6).alias("move_frac"),
    )

_NEG_K = 4
_NEG_QUERY_DOCS = 100
# 8 hex digits of md5 decoded positionally to a 32-bit int — the q127
# technique; the SAME expression text runs in Spark SQL and DuckDB.
_HEX8 = "((instr('0123456789abcdef', substr(h, 1, 1)) - 1) * CAST(268435456 AS BIGINT) + (instr('0123456789abcdef', substr(h, 2, 1)) - 1) * CAST(16777216 AS BIGINT) + (instr('0123456789abcdef', substr(h, 3, 1)) - 1) * CAST(1048576 AS BIGINT) + (instr('0123456789abcdef', substr(h, 4, 1)) - 1) * CAST(65536 AS BIGINT) + (instr('0123456789abcdef', substr(h, 5, 1)) - 1) * CAST(4096 AS BIGINT) + (instr('0123456789abcdef', substr(h, 6, 1)) - 1) * CAST(256 AS BIGINT) + (instr('0123456789abcdef', substr(h, 7, 1)) - 1) * CAST(16 AS BIGINT) + (instr('0123456789abcdef', substr(h, 8, 1)) - 1) * CAST(1 AS BIGINT))"


@query(
    "q185_negative_sampling",
    oracle=f"""
    WITH n AS (SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS nd FROM documents),
    anchors AS (SELECT doc_id AS anchor, source AS anchor_source
                FROM documents WHERE doc_id < {_NEG_QUERY_DOCS}),
    hashed AS (
        SELECT anchor, anchor_source, CAST(j AS INTEGER) AS j,
               md5(CAST(anchor AS VARCHAR) || ':' || CAST(j AS VARCHAR)) AS h
        FROM anchors, (SELECT unnest(range({_NEG_K})) AS j) ks),
    negs AS (
        SELECT anchor, anchor_source, j,
               (anchor + 1 + CAST({_HEX8} AS BIGINT) % (nd - 1)) % nd
                   AS neg_id
        FROM hashed, n)
    SELECT anchor, anchor_source, j, neg_id,
           d.source AS neg_source,
           CAST(neg_id != anchor AS BOOLEAN) AS valid
    FROM negs JOIN documents d ON d.doc_id = negs.neg_id
    """,
)
def q185_negative_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic negative sampling for contrastive training pairs:
    each anchor doc gets K pseudo-random negatives via
    neg = (anchor + 1 + md5int(anchor:j) mod (N−1)) mod N — uniform over
    the other N−1 docs and structurally never the anchor itself (the
    'valid' column hash-proves it), reproducible on any cluster with no
    RNG state; the 32-bit hash int is the positionally-decoded md5
    prefix, the SAME expression text in both engines. The join back to
    documents fetches the negative's metadata; at 100 TB the anchor×K
    fan-out is a projection and the only shuffle is the equi-join on
    neg_id."""
    docs = read_table(spark, sf_dir, "documents")
    n = docs.agg((F.max("doc_id") + 1).cast("long").alias("nd"))
    anchors = docs.filter(F.col("doc_id") < _NEG_QUERY_DOCS).select(
        F.col("doc_id").alias("anchor"), F.col("source").alias("anchor_source")
    )
    ks = docs.sparkSession.range(_NEG_K).select(
        F.col("id").cast("int").alias("j")
    )
    hashed = (
        anchors.join(F.broadcast(ks))
        .join(F.broadcast(n))
        .select(
            "anchor",
            "anchor_source",
            "j",
            "nd",
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("anchor").cast("string"),
                    F.col("j").cast("string"),
                )
            ).alias("h"),
        )
    )
    negs = hashed.select(
        "anchor",
        "anchor_source",
        "j",
        (
            (
                F.col("anchor")
                + 1
                + F.expr(_HEX8).cast("long") % (F.col("nd") - 1)
            )
            % F.col("nd")
        ).alias("neg_id"),
    )
    return negs.join(
        docs.select(
            F.col("doc_id").alias("neg_id"),
            F.col("source").alias("neg_source"),
        ),
        "neg_id",
    ).select(
        "anchor",
        "anchor_source",
        "j",
        "neg_id",
        "neg_source",
        (F.col("neg_id") != F.col("anchor")).alias("valid"),
    )

@query(
    "q187_triplet_dataset",
    oracle=f"""
    WITH dsh_all AS (SELECT DISTINCT doc_id, shingle
                     FROM (SELECT doc_id,
                                  ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]
                                      AS shingle
                           FROM (SELECT doc_id,
                                        string_split(text, ' ') AS ws
                                 FROM documents),
                                LATERAL unnest(range(1, GREATEST(len(ws) - 1,
                                                                 1))) AS t(i)
                           WHERE len(ws) >= 3) sh),
    dsh AS (SELECT * FROM dsh_all WHERE shingle NOT IN
            (SELECT shingle FROM dsh_all
             GROUP BY shingle HAVING COUNT(*) > 128)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
    pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                     COUNT(*) AS i
              FROM dsh a JOIN dsh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY a.doc_id, b.doc_id),
    verified AS (SELECT doc_a, doc_b FROM pairs
                 JOIN sizes sa ON doc_a = sa.doc_id
                 JOIN sizes sb ON doc_b = sb.doc_id
                 WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5),
    anchors AS (SELECT doc_a AS anchor, MIN(doc_b) AS positive
                FROM verified GROUP BY doc_a),
    n AS (SELECT CAST(MAX(doc_id) + 1 AS BIGINT) AS nd FROM documents),
    hashed AS (SELECT anchor, positive, CAST(j AS INTEGER) AS j,
                      md5(CAST(anchor AS VARCHAR) || ':'
                          || CAST(j AS VARCHAR)) AS h
               FROM anchors, (SELECT unnest(range({_NEG_K})) AS j) ks)
    SELECT anchor, positive, j,
           (anchor + 1 + CAST({_HEX8} AS BIGINT) % (nd - 1)) % nd
               AS neg_id
    FROM hashed, n
    """,
)
def q187_triplet_dataset(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The contrastive-training data generator end-to-end: POSITIVES are
    verified near-duplicate partners (exact Jaccard >= 0.5 over the
    capped shingle universe — q47's machinery; first partner per anchor
    for determinism) and NEGATIVES are q185's RNG-free hashed draws —
    (anchor, positive, K negatives) triplets, the dataset an embedding
    model trains on. Everything is a pure function of the corpus, so
    the triplet set is reproducible on any cluster and the oracle
    rebuilds it from scratch."""
    from hive_reflex_spark.operators.dedup import q47_jaccard_pairs

    verified = q47_jaccard_pairs(spark, sf_dir).select("doc_a", "doc_b")
    anchors = verified.groupBy(F.col("doc_a").alias("anchor")).agg(
        F.min("doc_b").alias("positive")
    )
    docs = read_table(spark, sf_dir, "documents")
    n = docs.agg((F.max("doc_id") + 1).cast("long").alias("nd"))
    ks = docs.sparkSession.range(_NEG_K).select(
        F.col("id").cast("int").alias("j")
    )
    hashed = (
        anchors.join(F.broadcast(ks))
        .join(F.broadcast(n))
        .select(
            "anchor",
            "positive",
            "j",
            "nd",
            F.md5(
                F.concat_ws(
                    ":",
                    F.col("anchor").cast("string"),
                    F.col("j").cast("string"),
                )
            ).alias("h"),
        )
    )
    return hashed.select(
        "anchor",
        "positive",
        "j",
        (
            (
                F.col("anchor")
                + 1
                + F.expr(_HEX8).cast("long") % (F.col("nd") - 1)
            )
            % F.col("nd")
        ).alias("neg_id"),
    )


# ---------------------------------------------------------------------------
# Priority sampling — weight-proportional fixed-size sample with unbiased
# subset-sum estimates (Duffield–Lund–Thorup), hash-deterministic
# ---------------------------------------------------------------------------

_PRI_K = 200
_PRI_SCALE = 4503599627370496.0  # 16^13: md5's first 13 hex digits span


@query(
    "q221_priority_sample",
    oracle=f"""
    WITH keyed AS (
        SELECT o_orderpriority, o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS w,
               ('0x' || substr(md5(CAST(o_orderkey AS VARCHAR)), 1, 13))
                   ::BIGINT AS h
        FROM orders),
    pri AS (SELECT *,
                   CAST(w AS DOUBLE) * {_PRI_SCALE} / (h + 1) AS q
            FROM keyed),
    topk1 AS (SELECT * FROM pri ORDER BY q DESC, o_orderkey
              LIMIT {_PRI_K + 1}),
    tau AS (SELECT MIN(q) AS tau FROM topk1),
    smp AS (SELECT * FROM topk1 ORDER BY q DESC, o_orderkey
            LIMIT {_PRI_K}),
    est AS (
        SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS n_sampled,
               {duck_unit_sum("GREATEST(CAST(w AS DOUBLE), tau)", 0)} AS est_cents
        FROM smp, tau GROUP BY 1),
    truth AS (SELECT o_orderpriority, CAST(SUM(w) AS BIGINT) AS true_cents
              FROM keyed GROUP BY 1)
    SELECT t.o_orderpriority,
           COALESCE(n_sampled, 0) AS n_sampled,
           true_cents,
           COALESCE(est_cents, 0) AS est_cents,
           ROUND((COALESCE(est_cents, 0) - true_cents) * 1.0 / true_cents,
                 6) AS rel_err
    FROM truth t LEFT JOIN est e USING (o_orderpriority)
    """,
)
def q221_priority_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Priority sampling (Duffield-Lund-Thorup): ONE fixed-size
    weight-proportional sample that answers arbitrary later subset-sum
    questions unbiasedly — the sampling-tier member for 'keep k rows,
    estimate any group total afterwards' (cheaper than a per-question
    stratified draw, q86). Priority = w/u with u a hash-uniform in
    (0,1] from md5(o_orderkey) — deterministic, reshard-stable, no RNG;
    the sample is the top-k priorities (TakeOrderedAndProject: per-
    partition heaps, no global sort) and tau is the (k+1)-th priority.
    Each sampled row's estimator weight is max(w, tau); the report
    replays the estimate against the true per-o_orderpriority totals
    with the realized relative error. Estimator sums are rounded to
    exact integer cents before aggregation so the result is
    order-independent.

    Scale: the scan is stateless projection; top-(k+1) is the only
    reduction and k is constant. The truth side is a plain grouped
    aggregate for the audit — a production deployment keeps only the
    k-row sample."""
    orders = read_table(spark, sf_dir, "orders")
    keyed = orders.select(
        "o_orderpriority",
        "o_orderkey",
        F.round(F.col("o_totalprice") * 100).cast("long").alias("w"),
        F.conv(
            F.substring(F.md5(F.col("o_orderkey").cast("string")), 1, 13),
            16,
            10,
        )
        .cast("long")
        .alias("h"),
    )
    pri = keyed.withColumn(
        "q", F.col("w").cast("double") * _PRI_SCALE / (F.col("h") + 1)
    )
    topk1 = pri.orderBy(F.desc("q"), "o_orderkey").limit(_PRI_K + 1)
    tau = topk1.agg(F.min("q").alias("tau"))
    smp = topk1.orderBy(F.desc("q"), "o_orderkey").limit(_PRI_K)
    est = (
        smp.join(F.broadcast(tau))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_sampled"),
            F.sum(
                F.round(
                    F.greatest(F.col("w").cast("double"), F.col("tau"))
                ).cast("long")
            ).alias("est_cents"),
        )
    )
    truth = keyed.groupBy("o_orderpriority").agg(
        F.sum("w").alias("true_cents")
    )
    return truth.join(est, "o_orderpriority", "left").select(
        "o_orderpriority",
        F.coalesce("n_sampled", F.lit(0)).alias("n_sampled"),
        "true_cents",
        F.coalesce("est_cents", F.lit(0)).alias("est_cents"),
        F.round(
            (F.coalesce("est_cents", F.lit(0)) - F.col("true_cents"))
            * 1.0
            / F.col("true_cents"),
            6,
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Temperature-scaled source mixing (the multilingual/multi-source
# resampling rule) — pairs with q214's exact budget allocator
# ---------------------------------------------------------------------------

_TEMP_BUDGET = 100_000  # sampled docs per training epoch


@query(
    "q225_source_temperature",
    oracle=f"""
    WITH src AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
                 FROM documents GROUP BY source),
    pw AS (SELECT source, n,
                  CAST(ROUND(POWER(n, 0.3) * 1000000) AS BIGINT) AS w03,
                  CAST(ROUND(POWER(n, 0.7) * 1000000) AS BIGINT) AS w07
           FROM src),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS nt,
                   CAST(SUM(w03) AS BIGINT) AS t03,
                   CAST(SUM(w07) AS BIGINT) AS t07
            FROM pw)
    SELECT source, n AS n_docs,
           ROUND(n * 1.0 / nt, 6) AS natural_share,
           ROUND(w03 * 1.0 / t03, 6) AS p_alpha03,
           ROUND(w07 * 1.0 / t07, 6) AS p_alpha07,
           ROUND({_TEMP_BUDGET} * (w03 * 1.0 / t03) / n, 6)
               AS epochs_alpha03,
           ROUND({_TEMP_BUDGET} * (w07 * 1.0 / t07) / n, 6)
               AS epochs_alpha07
    FROM pw, tot
    """,
)
def q225_source_temperature(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled source mixing: sampling rates proportional to
    n^alpha (alpha 0.3 and 0.7 — the multilingual-LM rule that upweights
    small sources without drowning large ones), with each source's
    per-epoch repeat factor under a {_TEMP_BUDGET}-doc budget — the
    number a curator reads to see WHICH sources a temperature forces
    into multi-epoch repetition (memorization risk) before handing the
    final shares to q214's exact largest-remainder allocator. The
    n^alpha weights are rounded to exact 1e-6 integer units before the
    normalizing sum so the shares are order-independent; everything
    after the per-source rollup is dimension-scale."""
    docs = read_table(spark, sf_dir, "documents")
    src = docs.groupBy("source").agg(F.count("*").alias("n"))
    pw = src.select(
        "source",
        "n",
        F.round(F.pow(F.col("n").cast("double"), 0.3) * 1_000_000)
        .cast("long")
        .alias("w03"),
        F.round(F.pow(F.col("n").cast("double"), 0.7) * 1_000_000)
        .cast("long")
        .alias("w07"),
    )
    tot = pw.agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("w03").cast("long").alias("t03"),
        F.sum("w07").cast("long").alias("t07"),
    )
    p03 = F.col("w03") * 1.0 / F.col("t03")
    p07 = F.col("w07") * 1.0 / F.col("t07")
    return pw.join(F.broadcast(tot)).select(
        "source",
        F.col("n").alias("n_docs"),
        F.round(F.col("n") * 1.0 / F.col("nt"), 6).alias("natural_share"),
        F.round(p03, 6).alias("p_alpha03"),
        F.round(p07, 6).alias("p_alpha07"),
        F.round(_TEMP_BUDGET * p03 / F.col("n"), 6).alias("epochs_alpha03"),
        F.round(_TEMP_BUDGET * p07 / F.col("n"), 6).alias("epochs_alpha07"),
    )


# ---------------------------------------------------------------------------
# Dedup-family-consistent sharding (q179's rendezvous x q46's families)
# ---------------------------------------------------------------------------

_FAM_SHARDS = 8


@query(
    "q257_family_sharding",
    oracle=f"""
    WITH fams AS (SELECT md5(text) AS fp, MIN(doc_id) AS canonical,
                         CAST(COUNT(*) AS BIGINT) AS fam_size
                  FROM documents GROUP BY md5(text)),
         scored AS (SELECT fp, canonical, fam_size, s,
                           md5(CAST(s AS VARCHAR) || ':'
                               || CAST(canonical AS VARCHAR)) AS h
                    FROM fams,
                         (SELECT unnest(range({_FAM_SHARDS})) AS s) shards),
         pick AS (SELECT fp, canonical, fam_size,
                         MIN(CASE WHEN rnk = 1 THEN s END) AS shard
                  FROM (SELECT fp, canonical, fam_size, s,
                               ROW_NUMBER() OVER (PARTITION BY fp
                                   ORDER BY h DESC, s) AS rnk
                        FROM scored)
                  GROUP BY fp, canonical, fam_size),
         assign AS (SELECT d.doc_id, p.fp, p.shard
                    FROM documents d JOIN pick p ON md5(d.text) = p.fp),
         split_chk AS (SELECT fp,
                              CASE WHEN COUNT(DISTINCT shard) > 1
                                   THEN 1 ELSE 0 END AS split
                       FROM assign GROUP BY fp)
    SELECT CAST(p.shard AS INT) AS shard,
           CAST(SUM(p.fam_size) AS BIGINT) AS n_docs,
           CAST(COUNT(*) AS BIGINT) AS n_families,
           CAST(MAX(p.fam_size) AS BIGINT) AS max_family,
           CAST(SUM(sc.split) AS BIGINT) AS n_split_families
    FROM pick p JOIN split_chk sc USING (fp)
    GROUP BY p.shard
    """,
)
def q257_family_sharding(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-family-consistent sharding: every exact-dup family (md5
    fingerprint) lands WHOLE on the rendezvous shard of its canonical
    doc — the placement policy that makes dedup shard-LOCAL (each
    worker's near-dup pass sees every copy it could ever drop; naive
    per-doc sharding scatters a family across shards and forces the
    global pair shuffle). The report proves both properties: per-shard
    balance (docs, families, largest family) and n_split_families = 0 —
    computed from the doc-level assignment, not assumed.

    Scale (100 TB): one fingerprint reduce, a constant-width
    (|shards|) fan-out + window on the FAMILY table (families <=
    docs), and one hash join back to docs on the fingerprint — the
    same key the reduce already partitioned by. Growing the cluster
    inherits q179's rendezvous property: only families the new shard
    wins move."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", F.md5("text").alias("fp")
    )
    fams = docs.groupBy("fp").agg(
        F.min("doc_id").alias("canonical"),
        F.count("*").alias("fam_size"),
    )
    shards = spark.range(_FAM_SHARDS).select(
        F.col("id").cast("int").alias("s")
    )
    scored = fams.join(F.broadcast(shards)).select(
        "fp",
        "canonical",
        "fam_size",
        "s",
        F.md5(
            F.concat_ws(":", F.col("s").cast("string"),
                        F.col("canonical").cast("string"))
        ).alias("h"),
    )
    wpick = Window.partitionBy("fp").orderBy(F.desc("h"), "s")
    pick = (
        scored.withColumn("rnk", F.row_number().over(wpick))
        .filter(F.col("rnk") == 1)
        .select("fp", "canonical", "fam_size", F.col("s").alias("shard"))
    )
    assign = docs.join(pick, "fp").select("fp", "doc_id", "shard")
    split_chk = assign.groupBy("fp").agg(
        F.when(F.countDistinct("shard") > 1, 1).otherwise(0).alias("split")
    )
    return (
        pick.join(split_chk, "fp")
        .groupBy(F.col("shard").cast("int").alias("shard"))
        .agg(
            F.sum("fam_size").alias("n_docs"),
            F.count("*").alias("n_families"),
            F.max("fam_size").alias("max_family"),
            F.sum("split").cast("long").alias("n_split_families"),
        )
    )


# ---------------------------------------------------------------------------
# Greedy max-coverage subset selection (submodular data selection)
# ---------------------------------------------------------------------------

_COV_CAND = 24  # candidate pool: most shingle-diverse docs
_COV_K = 8  # greedy picks


def _coverage_oracle() -> str:
    """Unrolled greedy max-coverage: sel1 = candidate with the most
    distinct shingles; each later step picks the candidate adding the
    most UNSEEN shingles (ties -> smaller doc_id)."""
    base = f"""
    WITH dsh AS MATERIALIZED (SELECT DISTINCT doc_id, shingle
                  FROM {DUCK_SHINGLES} sh),
         sizes AS MATERIALIZED (SELECT doc_id, CAST(COUNT(*) AS BIGINT)
                   AS n FROM dsh GROUP BY doc_id),
         cand AS MATERIALIZED (SELECT doc_id, n FROM (
                    SELECT doc_id, n, ROW_NUMBER() OVER (
                        ORDER BY n DESC, doc_id) AS rnk
                    FROM sizes) WHERE rnk <= {_COV_CAND}),
         ctoks AS MATERIALIZED (SELECT d.doc_id, d.shingle FROM dsh d
                   JOIN cand USING (doc_id)),
         universe AS (SELECT CAST(COUNT(DISTINCT shingle) AS BIGINT) AS u
                      FROM ctoks),
         sel1 AS MATERIALIZED (SELECT doc_id, n AS gain, 1 AS rank FROM (
                    SELECT doc_id, n, ROW_NUMBER() OVER (
                        ORDER BY n DESC, doc_id) AS rn FROM cand)
                  WHERE rn = 1)"""
    ctes = [base]
    prev_sel = "SELECT doc_id FROM sel1"
    for k in range(2, _COV_K + 1):
        ctes.append(f"""
         seen{k} AS MATERIALIZED (SELECT DISTINCT shingle FROM ctoks
                     WHERE doc_id IN ({prev_sel})),
         gains{k} AS (SELECT c.doc_id,
                             CAST(COUNT(*) AS BIGINT) AS gain
                      FROM ctoks c
                      WHERE c.doc_id NOT IN ({prev_sel})
                        AND c.shingle NOT IN (SELECT shingle FROM seen{k})
                      GROUP BY c.doc_id),
         allg{k} AS (SELECT cand.doc_id,
                            COALESCE(g.gain, 0) AS gain
                     FROM cand LEFT JOIN gains{k} g USING (doc_id)
                     WHERE cand.doc_id NOT IN ({prev_sel})),
         sel{k} AS MATERIALIZED (SELECT doc_id, gain, {k} AS rank FROM (
                      SELECT doc_id, gain, ROW_NUMBER() OVER (
                          ORDER BY gain DESC, doc_id) AS rn
                      FROM allg{k}) WHERE rn = 1)""")
        prev_sel += f" UNION ALL SELECT doc_id FROM sel{k}"
    selects = " UNION ALL ".join(
        f"SELECT doc_id, gain, rank FROM sel{k}"
        for k in range(1, _COV_K + 1)
    )
    return (
        ",".join(ctes)
        + f"""
    SELECT CAST(s.rank AS INTEGER) AS rank, s.doc_id, s.gain,
           CAST(SUM(s.gain) OVER (ORDER BY s.rank) AS BIGINT)
               AS covered,
           ROUND(SUM(s.gain) OVER (ORDER BY s.rank) * 1.0
                 / (SELECT u FROM universe), 6) AS coverage_frac
    FROM ({selects}) s ORDER BY rank"""
    )


@query("q262_coverage_selection", oracle=_coverage_oracle())
def q262_coverage_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy max-coverage subset selection: from the 24 most
    shingle-diverse documents, pick 8 that together cover the most
    distinct shingles — the submodular data-selection primitive behind
    "choose a small training subset that spans the corpus" (greedy is
    (1-1/e)-optimal for coverage; ties break on doc_id so the pick
    sequence is engine-deterministic; every number is an exact integer
    except the final coverage fraction). Reports per-pick marginal
    gain, running coverage, and the fraction of the candidate-pool
    shingle universe covered — the diminishing-returns curve that says
    when to stop adding data.

    Aggregate-then-replay at scale: candidate selection is one reduce +
    top-N; the greedy loop's input is the CANDIDATES' shingle rows
    (bounded: N docs x their shingles, not the corpus), replayed in one
    Arrow batch. The oracle unrolls the same 8 greedy steps as CTEs.
    At 100 TB the candidate pool comes from any cheap diversity proxy
    (q250 novelty, q106 prototypes) and the replay input stays
    O(N x doc-size)."""
    import pandas as pd

    from hive_reflex_spark.operators.dedup import distinct_shingles

    dsh = distinct_shingles(spark, sf_dir)
    sizes = dsh.groupBy("doc_id").agg(F.count("*").alias("n"))
    wtop = Window.orderBy(F.desc("n"), "doc_id")
    cand = (
        sizes.withColumn("rnk", F.row_number().over(wtop))
        .filter(F.col("rnk") <= _COV_CAND)
        .select("doc_id")
    )
    ctoks = dsh.join(F.broadcast(cand), "doc_id").withColumn(
        "g", F.lit(1)
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        sets: dict[int, set] = {}
        for d, s in zip(pdf["doc_id"], pdf["shingle"]):
            sets.setdefault(int(d), set()).add(s)
        universe = set().union(*sets.values()) if sets else set()
        remaining = sorted(sets)
        seen: set = set()
        out = {"rank": [], "doc_id": [], "gain": [], "covered": [],
               "coverage_frac": []}
        for rank in range(1, _COV_K + 1):
            if not remaining:
                break
            best = max(
                remaining, key=lambda d: (len(sets[d] - seen), -d)
            )
            gain = len(sets[best] - seen)
            seen |= sets[best]
            remaining.remove(best)
            out["rank"].append(rank)
            out["doc_id"].append(best)
            out["gain"].append(gain)
            out["covered"].append(len(seen))
            out["coverage_frac"].append(
                round(len(seen) / len(universe), 6)
            )
        return pd.DataFrame(out)

    return (
        ctoks.groupBy("g")
        .applyInPandas(
            lambda pdf: greedy(pdf),
            "rank int, doc_id long, gain long, covered long,"
            " coverage_frac double",
        )
        .orderBy("rank")
    )
