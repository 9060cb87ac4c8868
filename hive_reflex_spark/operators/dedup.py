"""Deduplication operators over ``documents``: exact hash dedup, shingle
Jaccard, MinHash + LSH banding, SimHash.

The scale story (the whole point of this module):
- exact dedup = hash-groupBy — embarrassingly parallel, one shuffle on the
  content hash;
- all-pairs Jaccard is O(n²) — only the *shingle-collision* join is run,
  so cost is O(collisions), and at 100 TB it is replaced entirely by
- MinHash-LSH: per-doc signatures (linear), band-bucket join (only docs
  sharing a band ever meet), true-Jaccard verification on the tiny
  candidate set. This is the standard web-scale near-dup pipeline
  expressed as three DataFrame stages.
- SimHash: 16-bit locality-sensitive fingerprint via conditional sums —
  one grouped aggregate, no joins at all.

All hashes are md5-hex (portable across engines); MinHash uses
lexicographic-min of md5(shingle||seed) — equivalent to a random
permutation per seed, with no integer-hash parity issues.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_reflex_spark.functions import (
    duck_exact_sum,
    duck_unit_sum,
    exact_sum,
)
from hive_reflex_spark.io import (
    cached_df,
    corpus_checkpoint,
    read_table,
    tracked_persist,
)
from hive_reflex_spark.operators.tensor import _duck_coords, embedding_coords
from hive_reflex_spark.operators.text import (
    DUCK_SHINGLES,
    DUCK_WORDS,
    doc_shingles,
    doc_words,
    word_shingles,
)
from hive_reflex_spark.registry import query

N_PERMS = 8  # minhash permutations
BAND_SIZE = 2  # rows per LSH band → 4 bands
MAX_SHINGLE_DF = 128  # doc-frequency cap: a shingle in >N docs is a
# stop-phrase, not a dedup signal, and contributes O(df²) candidate pairs
NEARDUP_CORPUS_CAP = 512  # q51a all-pairs fence: bound the compared corpus


# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------


@query(
    "q46_exact_dedup",
    oracle="""
    SELECT substr(md5(text), 1, 1) AS hash_bucket,
           COUNT(*) AS n_docs,
           COUNT(DISTINCT md5(text)) AS n_distinct,
           CAST(COUNT(*) - COUNT(DISTINCT md5(text)) AS BIGINT) AS n_dupes
    FROM documents
    GROUP BY substr(md5(text), 1, 1)
    """,
)
def q46_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact deduplication by content hash: md5(text) → groupBy → count.
    Reported per hash-prefix bucket (16 groups) — the bucket layout is also
    how the shuffle partitions at scale, so the histogram doubles as a
    skew check."""
    docs = read_table(spark, sf_dir, "documents")
    h = F.md5(F.col("text"))
    return (
        docs.select(F.substring(h, 1, 1).alias("hash_bucket"), h.alias("h"))
        .groupBy("hash_bucket")
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("h").alias("n_distinct"),
            (F.count("*") - F.countDistinct("h")).alias("n_dupes"),
        )
    )


# ---------------------------------------------------------------------------
# Shingle-set Jaccard (exact near-dup)
# ---------------------------------------------------------------------------

_DUCK_DSH = f"(SELECT DISTINCT doc_id, shingle FROM {DUCK_SHINGLES} sh)"


def distinct_shingles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The (doc_id, shingle) distinct set — the shared input of q47/q48/q49.
    In bench mode it is persisted once (shingling + distinct is the
    dominant cost of the whole dedup family); correctness runs stay cold."""
    return cached_df(
        ("dsh", sf_dir), lambda: doc_shingles(spark, sf_dir).distinct()
    )


def capped_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The df-capped inverted index (shingle → sorted SIZED posting list
    ``docs: array<struct<d, n>>``): lists longer than MAX_SHINGLE_DF are
    dropped, and each posting carries its document's capped-universe
    shingle count ``n`` — the size-augmented posting layout of the
    AllPairs/PPJoin literature (Bayardo et al., WWW'07). Storing |doc|
    in the posting means every similarity score (Jaccard, containment)
    is computable from the pair expansion alone: the query path needs
    ZERO joins against a per-doc sizes table, at any corpus size.

    The build pays one extra explode+join+regroup over the r11 layout
    (sizes are derived from the capped lists, never the raw shingle set,
    so cap semantics can't drift) — build-once-query-many, shared by
    q47/q263/q273. Bench mode keys it in the shared cache; cold runs
    persist per-call."""
    from hive_reflex_spark.io import df_cache_enabled

    dsh_all = distinct_shingles(spark, sf_dir)

    def _postings() -> DataFrame:
        lists = (
            dsh_all.groupBy("shingle")
            .agg(F.sort_array(F.collect_list("doc_id")).alias("d0"))
            .filter(F.size("d0") <= MAX_SHINGLE_DF)
        )
        sizes = (
            lists.select(F.explode("d0").alias("doc_id"))
            .groupBy("doc_id")
            .agg(F.count("*").alias("n"))
        )
        return (
            lists.select("shingle", F.explode("d0").alias("d"))
            .join(sizes.hint("shuffle_hash"), F.col("d") == F.col("doc_id"))
            .groupBy("shingle")
            .agg(
                F.sort_array(
                    F.collect_list(F.struct(F.col("d"), F.col("n")))
                ).alias("docs")
            )
        )

    if df_cache_enabled():
        return cached_df(("q47_postings", sf_dir), _postings)
    # cold path: per-call persist, FIFO-tracked so repeated cold builds
    # in one long session release old index storage (r13, VERDICT #6)
    return tracked_persist(_postings())


@query(
    "q47_jaccard_pairs",
    oracle=f"""
    WITH dsh_all AS {_DUCK_DSH},
         dsh AS (SELECT * FROM dsh_all WHERE shingle NOT IN
                 (SELECT shingle FROM dsh_all
                  GROUP BY shingle HAVING COUNT(*) > 128)),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          COUNT(*) AS intersection
                   FROM dsh a JOIN dsh b
                     ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b, intersection,
           sa.n + sb.n - intersection AS union_size,
           ROUND(intersection * 1.0 / (sa.n + sb.n - intersection), 6)
               AS jaccard
    FROM pairs
    JOIN sizes sa ON doc_a = sa.doc_id
    JOIN sizes sb ON doc_b = sb.doc_id
    WHERE intersection * 1.0 / (sa.n + sb.n - intersection) >= 0.5
    """,
)
def q47_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact n-gram (3-word shingle) Jaccard near-dup pairs at J ≥ 0.5.
    Only docs that *share a shingle* ever meet (the join is the candidate
    generator), so cost is O(collisions) not O(n²); this finds the
    corpus's planted 'dup'-marker near-duplicates.

    Inverted-index pair generation with a skew guard: ONE
    groupBy(shingle) builds each shingle's sorted posting list; lists
    longer than MAX_SHINGLE_DF are dropped (a shingle in that many docs
    is a stop-phrase, not a dedup signal) — the cap bounds every list,
    and hence every in-array pair expansion, at any corpus size. Pairs
    come from expanding each capped posting list in place: no shingle
    self-join shuffle, no O(df²) blowup from a viral phrase. Jaccard is
    computed consistently over the capped shingle universe; the oracle
    mirrors the cap. Pair generation + scoring live in
    collision_jaccard_pairs (shared with q273's recall audit); q47's
    expansion additionally prunes with the AllPairs/PPJoin LENGTH
    filter (r13) — see collision_jaccard_pairs."""
    p = collision_jaccard_pairs(spark, sf_dir, prune_below_half=True)
    return p.filter(F.col("jac") >= 0.5).select(
        "doc_a",
        "doc_b",
        "intersection",
        "union_size",
        F.round("jac", 6).alias("jaccard"),
    )


def collision_jaccard_pairs(
    spark: SparkSession, sf_dir: str, prune_below_half: bool = False
) -> DataFrame:
    """Every pair sharing >= 1 capped shingle, exactly scored:
    (doc_a, doc_b, intersection, union_size, jac[double, unrounded]) —
    q47's generator BEFORE its J >= 0.5 gate, shared by q273's
    LSH-recall audit. q273 needs the UNPRUNED stream (its recall curve
    buckets every collision pair by true Jaccard, deciles 0-9).

    Join-free (r12): each posting carries its doc's capped-universe size
    (capped_postings), so the pair expansion emits (doc_a, na, doc_b,
    nb) directly and ONE grouped count finishes the score — the r11
    shape paid two corpus-scale shuffled-hash joins against a sizes
    table here, on every query, at every scale (guide §2.4: remove
    shuffles outright). na/nb are functionally dependent on the doc ids,
    so adding them to the group keys changes no group.

    ``prune_below_half`` (r13, the AllPairs/PPJoin LENGTH filter at
    t = 1/2): drop a pair AT GENERATION when 2*min(na, nb) <
    max(na, nb). LOSSLESS for any J >= 1/2 consumer: i <= min(na, nb)
    and union = na+nb-i >= max(na, nb), so J <= min/max — a pair
    failing the test provably has J < 1/2. EXACT for survivors: the
    predicate depends only on (na, nb), constant per pair, so a pair
    either keeps ALL its expansion records (intersection count intact)
    or loses all of them. Applied as a row filter IMMEDIATELY above the
    explode — before the grouped count's exchange, so the pruned 24% of
    expansion records / 25% of candidate pairs (measured at sf0.1 and
    sf1, OPTIMIZATION_r13.md §1) never shuffle. Deliberately NOT inside
    the expansion lambda: a filter() HOF there adds one more
    interpreted O(df^2) array pass + copy per posting list, measured
    SLOWER at sf1 (0.51 -> 0.79 s) than the codegen'd row filter; the
    row form keeps the r12 lambda byte-identical. The full PPJoin
    prefix+verify was measured and rejected: mean intersection is 1.12
    records/pair, so per-candidate O(na+nb) verification would cost
    more than the count pass it replaces, and it would re-add the two
    candidate-side joins r12 removed."""
    grouped = capped_postings(spark, sf_dir)
    pair_expr = F.expr(
        "flatten(transform(docs, (x, i) -> "
        "transform(slice(docs, i + 2, size(docs)), "
        "y -> struct(x.d AS doc_a, x.n AS na, "
        "y.d AS doc_b, y.n AS nb))))"
    )
    recs = (
        grouped.filter(F.size("docs") >= 2)
        .select(F.explode(pair_expr).alias("pr"))
        .select("pr.doc_a", "pr.na", "pr.doc_b", "pr.nb")
    )
    if prune_below_half:
        recs = recs.filter("2 * least(na, nb) >= greatest(na, nb)")
    pairs = recs.groupBy("doc_a", "na", "doc_b", "nb").agg(
        F.count("*").alias("intersection")
    )
    jac = F.col("intersection") * 1.0 / (
        F.col("na") + F.col("nb") - F.col("intersection")
    )
    return pairs.select(
        "doc_a",
        "doc_b",
        "intersection",
        (F.col("na") + F.col("nb") - F.col("intersection")).alias(
            "union_size"
        ),
        jac.alias("jac"),
    )


# ---------------------------------------------------------------------------
# MinHash signatures + LSH banding
# ---------------------------------------------------------------------------


def minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, seed, sig): 8 pseudo-permutations derived from TWO md5s
    per shingle — seeds 0-3 are the 8-hex-char slices of md5(shingle),
    seeds 4-7 the slices of md5(reverse(shingle)); the per-seed signature
    is the lexicographic min slice. 4× less hashing than md5-per-seed
    (hashing dominated the dedup bench) with the same MinHash property:
    each slice is an independent pseudo-random function of the shingle,
    so P(sig_a = sig_b) per seed still equals the Jaccard similarity.

    The signature matrix is the shared input of q48 + q49; bench mode
    persists it via cached_df."""
    return cached_df(
        ("minhash", sf_dir), lambda: _minhash_signatures_cold(spark, sf_dir)
    )


def minhash_from_shingles(dsh: DataFrame) -> DataFrame:
    """(doc_id, shingle) → (doc_id, seed, sig): the signature math shared
    by the batch path and the incremental index maintainer (q171) — a
    signature is a pure function of one document's shingle set, which is
    exactly why the LSH index is append-maintainable."""
    hashed = dsh.select(
        "doc_id",
        F.md5("shingle").alias("h1"),
        F.md5(F.reverse(F.col("shingle"))).alias("h2"),
    )
    slices = F.array(
        *[
            F.struct(
                F.lit(k).alias("seed"),
                F.substring("h1" if k < 4 else "h2", (k % 4) * 8 + 1, 8).alias(
                    "h"
                ),
            )
            for k in range(N_PERMS)
        ]
    )
    return (
        hashed.select("doc_id", F.explode(slices).alias("s"))
        .select("doc_id", F.col("s.seed").alias("seed"), F.col("s.h").alias("h"))
        .groupBy("doc_id", "seed")
        .agg(F.min("h").alias("sig"))
    )


def bands_from_minhash(mh: DataFrame) -> DataFrame:
    """(doc_id, seed, sig) → (doc_id, band, band_sig): 4 bands of 2 —
    the LSH index rows themselves."""
    return mh.groupBy(
        "doc_id", F.expr(f"seed div {BAND_SIZE}").alias("band")
    ).agg(
        F.concat(
            F.min(F.when(F.col("seed") % BAND_SIZE == 0, F.col("sig"))),
            F.min(F.when(F.col("seed") % BAND_SIZE == 1, F.col("sig"))),
        ).alias("band_sig")
    )


# DuckDB twin of bands_from_minhash over the ``mh`` (doc_id, seed, sig)
# relation in scope, as a FROM-able subquery.
_DUCK_BANDS = f"""(
    SELECT doc_id, seed // {BAND_SIZE} AS band,
           MIN(CASE WHEN seed % {BAND_SIZE} = 0 THEN sig END)
           || MIN(CASE WHEN seed % {BAND_SIZE} = 1 THEN sig END) AS band_sig
    FROM mh GROUP BY doc_id, seed // {BAND_SIZE})"""


def shingles_of_docs(docs: DataFrame) -> DataFrame:
    """(doc_id, text) → distinct (doc_id, shingle), doc-local — the
    per-batch twin of text.doc_shingles for incremental maintenance."""
    return word_shingles(docs, 3).distinct()


def _minhash_signatures_cold(spark: SparkSession, sf_dir: str) -> DataFrame:
    return minhash_from_shingles(distinct_shingles(spark, sf_dir))


_DUCK_MINHASH = f"""(
    SELECT doc_id, CAST(seed AS INTEGER) AS seed,
           MIN(CASE WHEN seed < 4 THEN substr(h1, seed * 8 + 1, 8)
                    ELSE substr(h2, (seed - 4) * 8 + 1, 8) END) AS sig
    FROM (SELECT doc_id, md5(shingle) AS h1, md5(reverse(shingle)) AS h2
          FROM {_DUCK_DSH} dsh) hs,
         (SELECT unnest(range({N_PERMS})) AS seed) seeds
    GROUP BY doc_id, seed)"""


@query(
    "q48_minhash_signatures",
    oracle=f"""
    SELECT doc_id, seed, sig FROM {_DUCK_MINHASH} mh WHERE doc_id < 50
    """,
)
def q48_minhash_signatures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash signature matrix (first 50 docs shown): 8 permutations per
    doc; P(sig_a = sig_b) per permutation equals the true Jaccard."""
    return minhash_signatures(spark, sf_dir).filter(F.col("doc_id") < 50)


@query(
    "q49_lsh_candidates",
    oracle=f"""
    WITH mh AS {_DUCK_MINHASH},
         bands AS {_DUCK_BANDS}
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           COUNT(*) AS n_shared_bands
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_sig = b.band_sig
         AND a.doc_id < b.doc_id
    GROUP BY a.doc_id, b.doc_id
    """,
)
def q49_lsh_candidates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH band-bucket candidate pairs: 8 minhashes → 4 bands of 2; docs
    sharing any band's concatenated signature become candidates. The join
    key is (band, band_sig) — at 100 TB only near-dups collide, so the
    join output (and shuffle) is tiny regardless of corpus size."""
    mh = minhash_signatures(spark, sf_dir)

    # the band table IS the LSH index — build-once-query-many, so bench
    # mode shares it (both join branches and all runs reuse one build)
    bands = cached_df(("q49_bands", sf_dir), lambda: bands_from_minhash(mh))
    a = bands.alias("a")
    b = bands.alias("b")
    # single-parse join predicate + aggregate — plan-identical (§7.3)
    return (
        a.join(
            b,
            F.expr(
                "a.band = b.band AND a.band_sig = b.band_sig"
                " AND a.doc_id < b.doc_id"
            ),
        )
        .groupBy(
            F.expr("a.doc_id AS doc_a"), F.expr("b.doc_id AS doc_b")
        )
        .agg(F.expr("count(*) AS n_shared_bands"))
    )


def star_candidates(bands: DataFrame) -> DataFrame:
    """Per-bucket STAR edges over a band table: every bucket member
    linked to its bucket's min-doc_id hub — (doc_a=hub, doc_b=member),
    one row per (band bucket, member). Lossless for connected-component
    dedup (q49a's docstring and tests); callers aggregate (q49a: shared
    band count) or de-duplicate (q267: pair set). Shared so the two
    star consumers provably ride the same pair stream."""
    hubs = bands.groupBy("band", "band_sig").agg(
        F.min("doc_id").alias("hub"),
        F.count("*").alias("bucket_size"),
    )
    return (
        bands.join(hubs, ["band", "band_sig"])
        .filter(
            (F.col("bucket_size") >= 2) & (F.col("doc_id") != F.col("hub"))
        )
        .select(F.col("hub").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    )


@query(
    "q49a_lsh_candidates_star",
    oracle=f"""
    WITH mh AS MATERIALIZED {_DUCK_MINHASH},
         bands AS {_DUCK_BANDS},
         hubs AS (SELECT band, band_sig, MIN(doc_id) AS hub,
                         COUNT(*) AS bucket_size
                  FROM bands GROUP BY band, band_sig)
    SELECT h.hub AS doc_a, b.doc_id AS doc_b,
           CAST(COUNT(*) AS BIGINT) AS n_bands
    FROM bands b JOIN hubs h USING (band, band_sig)
    WHERE h.bucket_size >= 2 AND b.doc_id <> h.hub
    GROUP BY h.hub, b.doc_id
    """,
)
def q49a_lsh_candidates_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH candidates with STAR topology per band bucket: every bucket
    member links to the bucket's min doc_id (the hub) instead of to
    every other member. For dedup CLUSTERING this is lossless — a
    bucket's star is connected, so the connected components over star
    edges are IDENTICAL to those over q49's all-pairs edges (asserted
    in tests) — but the edge count drops from sum(k^2)/2 to sum(k-1)
    per bucket.

    Why it exists: q49's comfort claim ('only near-dups collide, so the
    join output is tiny') failed under measurement on a duplicate-DENSE
    corpus — the sf1 fixture's replicated families produced 11.1M
    all-pairs candidates from 200k docs (BASELINE.md r6), because
    bucket self-joins are quadratic in bucket size and duplicate-heavy
    crawls (boilerplate, mirrors) make big buckets precisely where
    dedup matters most. Star linking is the standard fix: the pair
    stream is linear in corpus size with NO quality loss for
    keep-one-per-cluster dedup. Pair-level verification flows (q94's
    Jaccard gate) keep q49; cluster flows should feed from here.

    Shuffle shape: one hash partitioning on (band, band_sig) serves
    both the hub aggregate and the hub join (co-partitioned), then one
    aggregate on the output pair — all linear."""
    mh = minhash_signatures(spark, sf_dir)
    bands = cached_df(("q49_bands", sf_dir), lambda: bands_from_minhash(mh))
    return (
        star_candidates(bands)
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").cast("long").alias("n_bands"))
    )


# ---------------------------------------------------------------------------
# Empirical LSH recall audit: the measured S-curve next to q260's theory
# ---------------------------------------------------------------------------

_N_LSH_BANDS = N_PERMS // BAND_SIZE

# per-decile theoretical capture probability 1-(1-m^r)^b at the bucket
# midpoint, precomputed in Python so neither engine evaluates pow()
_RECALL_THEORY = {
    bkt: round(
        1.0 - (1.0 - ((bkt + 0.5) / 10.0) ** BAND_SIZE) ** _N_LSH_BANDS, 6
    )
    for bkt in range(10)
}
# CAST ... AS DOUBLE is load-bearing: bare decimal literals type the CASE
# as DECIMAL, and Spark (decimal(6,6)) vs DuckDB (decimal(7,6)) disagree on
# precision — identical values, different arrow dtypes, driver hash-red
# (CORRECTNESS_r08 q273; check_oracle now rejects DECIMAL outputs outright).
_RECALL_THEORY_CASE = (
    "CAST(CASE "
    + " ".join(f"WHEN bucket = {b} THEN {t!r}" for b, t in _RECALL_THEORY.items())
    + " END AS DOUBLE)"
)


@query(
    "q273_lsh_recall_curve",
    oracle=f"""
    WITH dsh_all AS {_DUCK_DSH},
         dsh AS (SELECT * FROM dsh_all WHERE shingle NOT IN
                 (SELECT shingle FROM dsh_all
                  GROUP BY shingle HAVING COUNT(*) > {MAX_SHINGLE_DF})),
         sizes AS (SELECT doc_id, COUNT(*) AS n FROM dsh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          COUNT(*) AS intersection
                   FROM dsh a JOIN dsh b
                     ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY a.doc_id, b.doc_id),
         jac AS (SELECT doc_a, doc_b,
                        intersection * 1.0
                            / (sa.n + sb.n - intersection) AS j
                 FROM pairs
                 JOIN sizes sa ON doc_a = sa.doc_id
                 JOIN sizes sb ON doc_b = sb.doc_id),
         mh AS {_DUCK_MINHASH},
         bands AS {_DUCK_BANDS},
         cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
                  FROM bands a JOIN bands b
                    ON a.band = b.band AND a.band_sig = b.band_sig
                       AND a.doc_id < b.doc_id),
         lab AS (SELECT LEAST(CAST(floor(j * 10) AS BIGINT),
                              CAST(9 AS BIGINT)) AS bucket,
                        CASE WHEN c.doc_a IS NOT NULL
                             THEN 1 ELSE 0 END AS caught
                 FROM jac LEFT JOIN cand c
                   ON jac.doc_a = c.doc_a AND jac.doc_b = c.doc_b)
    SELECT bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           CAST(SUM(caught) AS BIGINT) AS n_caught,
           ((CAST(SUM(caught) AS BIGINT) * 2000000 + COUNT(*))
                // (2 * COUNT(*))) / 1000000.0 AS recall,
           {_RECALL_THEORY_CASE} AS theory_p
    FROM lab GROUP BY bucket
    """,
)
def q273_lsh_recall_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical LSH recall by true-Jaccard decile — the MEASURED
    S-curve that q260's banding planner predicts analytically: every
    collision pair's exact capped-universe Jaccard (q47's generator,
    shared via collision_jaccard_pairs) is bucketed into deciles and
    checked against the q49 band-candidate set; recall per bucket sits
    next to the planner's 1-(1-J^r)^b midpoint prediction. This is the
    tuning audit a production dedup run ships with its drop decisions:
    it shows WHERE the banding misses (low-J buckets, by design) and
    that the J >= 0.5 action region is effectively fully captured —
    measured evidence, not just theory, that the LSH gate can replace
    the all-pairs plan.

    Theory values are Python-precomputed constants (no cross-engine
    pow()), CAST to DOUBLE in both engines (bare decimal literals get
    engine-divergent DECIMAL precisions); recall half-ups at the
    integer level — (caught*2e6 + n) DIV (2n) — pure BIGINT integer
    division on both engines (Spark `DIV`, DuckDB `//`), exact at any
    magnitude (registry header rule); only the final /1e6 presentation
    step is float.

    Scale: truth pairs come from the capped posting-list expansion
    (O(collisions), df-capped); candidates from the band equi-join; the
    audit join is pair-key to pair-key — all three inputs are
    collision-sized, never corpus².

    Reference anchor: SURVEY §5's coverage-test strategy
    (`simulator/test_sim_reflex.py` accuracy-vs-reference audits),
    applied to the dedup index instead of the inference kernels."""
    truth = collision_jaccard_pairs(spark, sf_dir)
    cand = (
        q49_lsh_candidates(spark, sf_dir)
        .select("doc_a", "doc_b")
        .withColumn("caught", F.lit(1))
    )
    lab = truth.join(cand, ["doc_a", "doc_b"], "left").select(
        F.least(F.floor(F.col("jac") * 10), F.lit(9))
        .cast("long")
        .alias("bucket"),
        F.coalesce("caught", F.lit(0)).alias("caught"),
    )
    return (
        lab.groupBy("bucket")
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum("caught").cast("long").alias("n_caught"),
            (
                F.expr(
                    "(CAST(SUM(caught) AS BIGINT) * 2000000 + COUNT(*))"
                    " DIV (2 * COUNT(*))"
                )
                / 1e6
            ).alias("recall"),
        )
        .withColumn("theory_p", F.expr(_RECALL_THEORY_CASE))
    )


# ---------------------------------------------------------------------------
# SimHash
# ---------------------------------------------------------------------------

N_BITS = 16


def _duck_simhash() -> str:
    bit_sums = ",\n".join(
        f"SUM(CASE WHEN substr(md5(w), {b + 1}, 1) >= '8' THEN 1 ELSE -1 END)"
        f" AS b{b}"
        for b in range(N_BITS)
    )
    bit_val = " + ".join(
        f"(CASE WHEN b{b} > 0 THEN {1 << b} ELSE 0 END)" for b in range(N_BITS)
    )
    return f"""(
        SELECT doc_id, CAST({bit_val} AS BIGINT) AS simhash
        FROM (SELECT doc_id, {bit_sums}
              FROM {DUCK_WORDS} words
              GROUP BY doc_id))"""


@query(
    "q50_simhash",
    oracle=f"""
    SELECT simhash, COUNT(*) AS n_docs, MIN(doc_id) AS min_doc_id
    FROM {_duck_simhash()} sh
    GROUP BY simhash
    """,
)
def q50_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """16-bit SimHash per document: each bit is the sign of a weighted vote
    over token hashes (hex digit ≥ '8' → +1 else −1), grouped into a
    near-dup histogram. One aggregate pass, no joins — the cheapest
    near-dup signal at scale; docs with equal simhash are candidates."""
    words = doc_words(spark, sf_dir)
    # single-parse expression strings (r12 form): the 16 bit-vote
    # aggregates ride ONE parsed struct expression and the bit packing
    # ONE selectExpr — 2 parser round-trips instead of 17 (the r11 form
    # paid one F.expr per bit; before that, ~10 py4j calls per bit).
    # Plan-identical: the partial/final HashAggregate still carries the
    # same 16 sum functions; the struct is result-projection only.
    bit_sums = ", ".join(
        f"sum(CASE WHEN substring(md5(w), {b + 1}, 1) >= '8' "
        f"THEN 1 ELSE -1 END) AS b{b}"
        for b in range(N_BITS)
    )
    simhash = " + ".join(
        f"(CASE WHEN bs.b{b} > 0 THEN {1 << b} ELSE 0 END)"
        for b in range(N_BITS)
    )
    per_doc = words.groupBy("doc_id").agg(
        F.expr(f"struct({bit_sums}) AS bs")
    )
    return (
        per_doc.selectExpr("doc_id", f"CAST({simhash} AS BIGINT) AS simhash")
        .groupBy("simhash")
        .agg(F.count("*").alias("n_docs"), F.min("doc_id").alias("min_doc_id"))
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (the fifth dedup modality)
# ---------------------------------------------------------------------------


@query(
    "q51a_embedding_neardup",
    oracle=f"""
    WITH coords AS (SELECT vec_id, dim, v
                    FROM {_duck_coords(NEARDUP_CORPUS_CAP)} c),
         norms AS (SELECT vec_id,
                          sqrt({duck_exact_sum("v * v", 9)}) AS nrm
                   FROM coords GROUP BY vec_id),
         dots AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                         {duck_exact_sum("a.v * b.v", 9)} AS dot
                  FROM coords a JOIN coords b ON a.dim = b.dim
                       AND a.vec_id < b.vec_id
                  GROUP BY a.vec_id, b.vec_id)
    SELECT vec_a, vec_b, ROUND(dot / (na.nrm * nb.nrm), 6) AS cosine
    FROM dots
    JOIN norms na ON vec_a = na.vec_id
    JOIN norms nb ON vec_b = nb.vec_id
    WHERE dot / (na.nrm * nb.nrm) >= 0.4
    """,
)
def q51a_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (the fifth dedup modality
    next to exact/Jaccard/MinHash/SimHash): all pairs with cosine ≥ 0.4 (the extreme tail for this gaussian fixture)
    via the coordinate join. Exactness baseline, FENCED: the registered
    query compares only vec_id < NEARDUP_CORPUS_CAP (512) so no registered
    plan is unbounded O(n²) — at 100 TB the same threshold runs inside LSH
    buckets (the q178/q228 bucket probe) so only near-colliding vectors
    are ever compared."""
    coords = embedding_coords(spark, sf_dir).filter(
        F.col("vec_id") < NEARDUP_CORPUS_CAP
    )
    norms = coords.groupBy("vec_id").agg(
        F.sqrt(exact_sum(F.col("v") * F.col("v"), 9)).alias("nrm")
    )
    a = coords.alias("a")
    b = coords.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .agg(exact_sum(F.col("a.v") * F.col("b.v"), 9).alias("dot"))
    )
    na = norms.alias("na")
    nb = norms.alias("nb")
    cos = F.col("dot") / (F.col("na.nrm") * F.col("nb.nrm"))
    return (
        dots.join(F.broadcast(na), F.col("vec_a") == F.col("na.vec_id"))
        .join(F.broadcast(nb), F.col("vec_b") == F.col("nb.vec_id"))
        .filter(cos >= 0.4)
        .select("vec_a", "vec_b", F.round(cos, 6).alias("cosine"))
    )


# ---------------------------------------------------------------------------
# SemDeDup: cluster-restricted semantic dedup over embeddings
# ---------------------------------------------------------------------------

SEMDEDUP_TAU = 0.4  # fixture-calibrated: the gaussian tail (same as q51a)

from hive_reflex_spark.operators.similarity import (  # noqa: E402
    _coarse_ranked,
    _duck_coarse_ranked,
)


@query(
    "q269_semantic_dedup",
    oracle=f"""
    WITH coords AS (SELECT vec_id, dim, v FROM {_duck_coords(None)} c),
         assign AS (SELECT vec_id, cid FROM {_duck_coarse_ranked()} r
                    WHERE rn = 1),
         norms AS (SELECT vec_id,
                          sqrt({duck_exact_sum("v * v", 9)}) AS nrm
                   FROM coords GROUP BY vec_id),
         ac AS (SELECT s.cid, a.vec_id, a.dim, a.v
                FROM coords a JOIN assign s ON s.vec_id = a.vec_id),
         dots AS (SELECT a.cid, a.vec_id AS vec_a, b.vec_id AS vec_b,
                         {duck_exact_sum("a.v * b.v", 9)} AS dot
                  FROM ac a JOIN ac b ON a.cid = b.cid AND a.dim = b.dim
                       AND a.vec_id < b.vec_id
                  GROUP BY a.cid, a.vec_id, b.vec_id),
         dup AS (SELECT cid, vec_a, vec_b FROM dots
                 JOIN norms na ON vec_a = na.vec_id
                 JOIN norms nb ON vec_b = nb.vec_id
                 WHERE dot / (na.nrm * nb.nrm) >= {SEMDEDUP_TAU}),
         dropped AS (SELECT cid, vec_b AS vec_id FROM dup
                     GROUP BY cid, vec_b),
         pairs AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_dup_pairs
                   FROM dup GROUP BY cid),
         drops AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_dropped,
                          MIN(vec_id) AS min_dropped,
                          MAX(vec_id) AS max_dropped
                   FROM dropped GROUP BY cid),
         members AS (SELECT cid, CAST(COUNT(*) AS BIGINT) AS n_members
                     FROM assign GROUP BY cid)
    SELECT m.cid AS centroid_id, m.n_members,
           COALESCE(p.n_dup_pairs, 0) AS n_dup_pairs,
           COALESCE(d.n_dropped, 0) AS n_dropped,
           d.min_dropped, d.max_dropped
    FROM members m
    LEFT JOIN pairs p ON p.cid = m.cid
    LEFT JOIN drops d ON d.cid = m.cid
    """,
)
def q269_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): semantic deduplication restricted
    to k-means clusters — the SIXTH dedup modality (exact / Jaccard /
    MinHash / SimHash / embedding-brute-force q51a) and the one that
    actually scales the embedding-cosine criterion: vectors are coarse-
    quantized to their max-dot centroid (q54a's IVF assignment,
    deterministic stride-50 seed centroids), then the cosine >= tau
    keep-lowest-id rule runs WITHIN clusters only. Cluster sizes are
    corpus/k, so pairwise work is n²/k instead of n² — the paper's
    recipe for web-scale semantic pruning, and the unfenced counterpart
    of q51a's 512-vector brute-force fence. tau={SEMDEDUP_TAU} is the
    same extreme-tail threshold as q51a on this gaussian fixture.

    Per-cluster report: members, verified dup pairs, dropped vectors
    (a vector drops when ANY lower-id cluster-mate sits at cosine >=
    tau — SemDeDup's keep-one policy), min/max dropped ids.

    Scale: the centroid table broadcasts (k x d doubles); assignment is
    one scan of the corpus; the within-cluster self-join shuffles on
    (cid, dim) hash keys so each cluster's pairs co-locate; norms and
    dots use exact integer-unit sums (engine-deterministic). At 100 TB
    k grows with the corpus (SemDeDup used 50k clusters for LAION) to
    hold cluster sizes ~constant.

    Reference anchor: the reference's duplicate-weight pruning
    (`optimizer/sparsity_optimizer.py` magnitude tiers) shares the
    keep-one-representative policy; here the representative set is
    embedding-space rather than weight-space."""
    coords = embedding_coords(spark, sf_dir).select("vec_id", "dim", "v")
    # (vec_id, cid) assignment and per-vector norms are each referenced
    # twice downstream (ac self-join legs + members; na/nb broadcasts) —
    # materialized so the corpus-scale IVF assignment and the norm
    # reduce run once instead of per plan reference (guide §3.3/§5).
    # Corpus tier (r13): one row per vector — lazy persist keeps lineage
    # (executor-loss-recoverable at cluster scale) and evictable blocks
    assign = (
        _coarse_ranked(coords)
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid")
        .transform(corpus_checkpoint)
    )
    norms = coords.groupBy("vec_id").agg(
        F.sqrt(exact_sum(F.col("v") * F.col("v"), 9)).alias("nrm")
    ).transform(corpus_checkpoint)
    ac = coords.join(assign, "vec_id")
    a = ac.alias("a")
    b = ac.alias("b")
    dots = (
        a.join(
            b,
            (F.col("a.cid") == F.col("b.cid"))
            & (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.cid").alias("cid"),
            F.col("a.vec_id").alias("vec_a"),
            F.col("b.vec_id").alias("vec_b"),
        )
        .agg(exact_sum(F.col("a.v") * F.col("b.v"), 9).alias("dot"))
    )
    na = norms.alias("na")
    nb = norms.alias("nb")
    dup = (
        dots.join(F.broadcast(na), F.col("vec_a") == F.col("na.vec_id"))
        .join(F.broadcast(nb), F.col("vec_b") == F.col("nb.vec_id"))
        .filter(
            F.col("dot") / (F.col("na.nrm") * F.col("nb.nrm")) >= SEMDEDUP_TAU
        )
        .select("cid", "vec_a", "vec_b")
        # the verified dup pair set feeds BOTH the pairs count and the
        # dropped-set aggregates — materialized so the within-cluster
        # self-join runs once (the q231 discipline); corpus tier (r13):
        # pair volume grows with the corpus
        .transform(corpus_checkpoint)
    )
    dropped = dup.select("cid", F.col("vec_b").alias("vec_id")).distinct()
    pairs = dup.groupBy("cid").agg(F.count("*").alias("n_dup_pairs"))
    drops = dropped.groupBy("cid").agg(
        F.count("*").alias("n_dropped"),
        F.min("vec_id").alias("min_dropped"),
        F.max("vec_id").alias("max_dropped"),
    )
    members = assign.groupBy("cid").agg(F.count("*").alias("n_members"))
    return (
        members.join(pairs, "cid", "left")
        .join(drops, "cid", "left")
        .select(
            F.col("cid").alias("centroid_id"),
            "n_members",
            F.coalesce("n_dup_pairs", F.lit(0)).cast("long")
            .alias("n_dup_pairs"),
            F.coalesce("n_dropped", F.lit(0)).cast("long").alias("n_dropped"),
            "min_dropped",
            "max_dropped",
        )
    )


# ---------------------------------------------------------------------------
# End-to-end near-dup filter: LSH candidates -> verify -> keep-first
# ---------------------------------------------------------------------------


def neardup_dropped_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The near-dup DROP set (doc_id rows): LSH band candidates, exact
    Jaccard verified on candidates only, keep-first policy. Shared by
    q94's retention report and the q129 end-to-end curation pipeline."""
    # the SIZED capped shingle set — one explode of the sized posting
    # index (capped_postings): each (shingle, doc_id) row already
    # carries its doc's capped-universe size, so the verification tail
    # needs no joins against a per-doc sizes table (r12; the r11 shape
    # paid two corpus-scale shuffled-hash joins here, plus a broadcast
    # stop-shingle anti-join the index's df-cap already performs)
    sized = (
        capped_postings(spark, sf_dir)
        .select("shingle", F.explode("docs").alias("dn"))
        .select("shingle", F.col("dn.d").alias("doc_id"), F.col("dn.n").alias("n"))
    )
    a = sized.select(
        "shingle", F.col("doc_id").alias("a_doc"), F.col("n").alias("na")
    )
    b = sized.select(
        "shingle", F.col("doc_id").alias("b_doc"), F.col("n").alias("nb")
    )
    cand = (
        q49_lsh_candidates(spark, sf_dir).select("doc_a", "doc_b").distinct()
    )
    # cand is corpus-scale on real web data (the near-dup drop set is
    # 30-50% of documents, and each dropped doc implies >=1 candidate
    # pair) — plain shuffle join, no hint; AQE broadcasts at toy SF.
    # na/nb ride the group keys (functionally dependent on the doc ids).
    inter = (
        a.join(cand, F.col("a_doc") == F.col("doc_a"))
        .join(
            b,
            (F.col("b_doc") == F.col("doc_b"))
            & (b.shingle == a.shingle),
        )
        .groupBy("doc_a", "na", "doc_b", "nb")
        .agg(F.count("*").alias("i"))
    )
    jac = F.col("i") * 1.0 / (F.col("na") + F.col("nb") - F.col("i"))
    return (
        inter.filter(jac >= 0.5)
        .select(F.col("doc_b").alias("doc_id"))
        .distinct()
    )


@query(
    "q94_neardup_filter",
    oracle=f"""
    WITH dsh_all AS {_DUCK_DSH},
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
         dropped AS (SELECT DISTINCT doc_b AS doc_id
                     FROM inter
                     JOIN sizes sa ON doc_a = sa.doc_id
                     JOIN sizes sb ON doc_b = sb.doc_id
                     WHERE i * 1.0 / (sa.n + sb.n - i) >= 0.5)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(CASE WHEN d.doc_id IS NOT NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_dropped,
           CAST(SUM(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END)
               AS BIGINT) AS n_kept,
           ROUND(SUM(CASE WHEN d.doc_id IS NULL THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS retention
    FROM documents doc LEFT JOIN dropped d ON doc.doc_id = d.doc_id
    GROUP BY source
    """,
)
def q94_neardup_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production near-dup pipeline composed end-to-end: MinHash-LSH
    band candidates (q49) -> exact Jaccard verification ONLY on the
    candidate pairs -> keep-first policy (drop every doc with a verified
    J >= 0.5 neighbor of smaller doc_id) -> per-source retention report.

    This is the operator a 100 TB curation run actually executes — the
    all-pairs q47 is its exactness oracle, never its plan:
    - candidates come from the band-bucket equi-join (O(collisions));
    - the candidate set is tiny, so it BROADCASTS into the shingle join,
      and verification touches only candidate docs' shingle rows;
    - keep-first is one distinct + one plain left join on doc_id — on
      real web corpora the drop set is 30-50% of documents
      (corpus-scale), so it is deliberately NOT broadcast; no iterative
      connected components on the hot path (q78 covers the transitive
      variant).
    Verification Jaccard uses the same stop-phrase-capped shingle
    universe as q47 (a shingle in > MAX_SHINGLE_DF docs is weight, not
    signal)."""
    dropped = neardup_dropped_ids(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents")
    flagged = docs.join(
        dropped.withColumn("is_dup", F.lit(1)), "doc_id", "left"
    )
    return flagged.groupBy("source").agg(
        F.count("*").alias("n_docs"),
        F.sum(F.when(F.col("is_dup").isNotNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_dropped"),
        F.sum(F.when(F.col("is_dup").isNull(), 1).otherwise(0))
        .cast("long")
        .alias("n_kept"),
        F.round(
            F.sum(F.when(F.col("is_dup").isNull(), 1).otherwise(0))
            * 1.0
            / F.count("*"),
            6,
        ).alias("retention"),
    )


@query(
    "q267_bleu_candidate_score",
    oracle=f"""
    WITH mh AS {_DUCK_MINHASH},
         bands AS {_DUCK_BANDS},
         hubs AS (SELECT band, band_sig, MIN(doc_id) AS hub,
                         COUNT(*) AS bucket_size
                  FROM bands GROUP BY band, band_sig),
         cand AS (SELECT DISTINCT h.hub AS doc_a, b.doc_id AS doc_b
                  FROM bands b JOIN hubs h USING (band, band_sig)
                  WHERE h.bucket_size >= 2 AND b.doc_id <> h.hub),
         toks AS (SELECT doc_id, pos, w FROM {DUCK_WORDS} t),
         uni AS (SELECT doc_id, w AS g, CAST(COUNT(*) AS BIGINT) AS c
                 FROM toks GROUP BY doc_id, w),
         bi AS (SELECT doc_id, g, CAST(COUNT(*) AS BIGINT) AS c
                FROM (SELECT doc_id,
                             w || ' ' || lead(w) OVER (PARTITION BY doc_id
                                                       ORDER BY pos) AS g
                      FROM toks)
                WHERE g IS NOT NULL GROUP BY doc_id, g),
         lens AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
                  FROM toks GROUP BY doc_id),
         c1 AS (SELECT cand.doc_a, cand.doc_b,
                       CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS m
                FROM cand JOIN uni a ON a.doc_id = cand.doc_a
                          JOIN uni b ON b.doc_id = cand.doc_b AND b.g = a.g
                GROUP BY cand.doc_a, cand.doc_b),
         c2 AS (SELECT cand.doc_a, cand.doc_b,
                       CAST(SUM(LEAST(a.c, b.c)) AS BIGINT) AS m
                FROM cand JOIN bi a ON a.doc_id = cand.doc_a
                          JOIN bi b ON b.doc_id = cand.doc_b AND b.g = a.g
                GROUP BY cand.doc_a, cand.doc_b),
         scored AS (SELECT cand.doc_a, cand.doc_b,
                           COALESCE(c1.m, 0) AS m1,
                           COALESCE(c2.m, 0) AS m2,
                           la.n AS len_a, lb.n AS len_b
                    FROM cand
                    LEFT JOIN c1 ON c1.doc_a = cand.doc_a
                                AND c1.doc_b = cand.doc_b
                    LEFT JOIN c2 ON c2.doc_a = cand.doc_a
                                AND c2.doc_b = cand.doc_b
                    JOIN lens la ON la.doc_id = cand.doc_a
                    JOIN lens lb ON lb.doc_id = cand.doc_b)
    SELECT doc_a, doc_b, m1, m2, len_a, len_b,
           ROUND(CASE WHEN m1 * 1.0 / len_a
                           + m2 * 1.0 / GREATEST(len_a - 1, 1) = 0
                      THEN 0.0
                      ELSE (2 * (m1 * 1.0 / len_a)
                              * (m2 * 1.0 / GREATEST(len_a - 1, 1)))
                           / (m1 * 1.0 / len_a
                              + m2 * 1.0 / GREATEST(len_a - 1, 1))
                 END * LEAST(CAST(1.0 AS DOUBLE), len_a * 1.0 / len_b),
                 6) AS bleu2
    FROM scored
    """,
)
def q267_bleu_candidate_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BLEU-style clipped n-gram precision over the LSH candidate pairs —
    the MT-metric view of near-duplication (modified unigram/bigram
    precision with clipping, combined by harmonic mean with a linear
    brevity penalty). Where Jaccard (q94's gate) treats a document as a
    shingle SET, this scores the token MULTISET with repetition-aware
    clipping: min(count_a(g), count_b(g)) — the standard n-gram overlap
    audit run on generated-text corpora to catch training-data echo.

    Exactness: m1/m2/lengths are exact integers; both engines then
    evaluate the IDENTICAL rational expression (2*p1*p2)/(p1+p2) * bp in
    binary64, so the 6dp rounding hash-matches.

    Scale: pairs come from q49a's STAR candidate stream — every bucket
    member scores against its family hub (doc_a = the bucket's min
    doc_id), not against every other member. On the duplicate-dense sf1
    corpus that is 143k pairs instead of q49's 11.1M all-pairs (the
    same blowup q78 dodged the same way); per-doc n-gram counts are
    linear scan-side aggregates and the clipped intersection touches
    only candidate docs' gram rows — verify-on-candidates-only, with
    n-gram tables instead of shingle sets."""
    docs = read_table(spark, sf_dir, "documents")
    mh = minhash_signatures(spark, sf_dir)
    bands = cached_df(("q49_bands", sf_dir), lambda: bands_from_minhash(mh))
    # the candidate pair set is referenced three times (both clipped
    # joins + the scored base) — materialized so the MinHash banding
    # pipeline runs once, not per reference (guide §3.3/§5); corpus
    # tier (r13): candidate volume grows with the corpus
    cand = star_candidates(bands).distinct().transform(corpus_checkpoint)
    # verify-on-candidates-only, now enforced in the PLAN too (r12):
    # only candidate docs' gram/length rows are ever joined (inner on
    # doc_a/doc_b), so the tokenization is pruned to the candidate doc
    # set BEFORE the n-gram aggregates and materialized — the corpus is
    # scanned once and the per-leg self-join evaluations below re-read
    # the bounded candidate-doc token table instead of re-tokenizing
    cdocs = cand.select(
        F.explode(F.array("doc_a", "doc_b")).alias("doc_id")
    ).distinct()
    # every gram/length table derives from ONE tokenization (toks.ws)
    toks = (
        docs.join(F.broadcast(cdocs), "doc_id")
        .select("doc_id", F.split("text", " ").alias("ws"))
        .transform(corpus_checkpoint)
    )
    uni = (
        toks.select("doc_id", F.explode("ws").alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .transform(corpus_checkpoint)
    )
    bigram_arr = F.expr(
        "CASE WHEN size(ws) >= 2 THEN "
        "transform(sequence(0, size(ws) - 2), "
        "i -> concat_ws(' ', ws[i], ws[i+1])) "
        "ELSE array() END"
    )
    bi = (
        toks.select("doc_id", F.explode(bigram_arr).alias("g"))
        .groupBy("doc_id", "g")
        .agg(F.count("*").alias("c"))
        .transform(corpus_checkpoint)
    )
    lens = toks.select("doc_id", F.size("ws").cast("long").alias("n"))

    def clipped(grams: DataFrame, out: str) -> DataFrame:
        a, b = grams.alias("a"), grams.alias("b")
        return (
            cand.join(a, F.col("a.doc_id") == F.col("doc_a"))
            .join(
                b,
                (F.col("b.doc_id") == F.col("doc_b"))
                & (F.col("b.g") == F.col("a.g")),
            )
            .groupBy("doc_a", "doc_b")
            .agg(F.sum(F.least(F.col("a.c"), F.col("b.c"))).alias(out))
        )

    scored = (
        cand.join(clipped(uni, "_m1"), ["doc_a", "doc_b"], "left")
        .join(clipped(bi, "_m2"), ["doc_a", "doc_b"], "left")
        .join(
            lens.select(
                F.col("doc_id").alias("doc_a"), F.col("n").alias("len_a")
            ),
            "doc_a",
        )
        .join(
            lens.select(
                F.col("doc_id").alias("doc_b"), F.col("n").alias("len_b")
            ),
            "doc_b",
        )
        .select(
            "doc_a",
            "doc_b",
            F.coalesce("_m1", F.lit(0)).cast("long").alias("m1"),
            F.coalesce("_m2", F.lit(0)).cast("long").alias("m2"),
            "len_a",
            "len_b",
        )
    )
    p1 = F.col("m1") * 1.0 / F.col("len_a")
    p2 = F.col("m2") * 1.0 / F.greatest(F.col("len_a") - 1, F.lit(1))
    f_mean = F.when(p1 + p2 == 0, F.lit(0.0)).otherwise(
        (F.lit(2) * p1 * p2) / (p1 + p2)
    )
    bp = F.least(F.lit(1.0), F.col("len_a") * 1.0 / F.col("len_b"))
    return scored.select(
        "doc_a",
        "doc_b",
        "m1",
        "m2",
        "len_a",
        "len_b",
        F.round(f_mean * bp, 6).alias("bleu2"),
    )


@query(
    "q103_repeated_spans",
    oracle="""
    WITH spans AS (
      SELECT doc_id, md5(substr(text, CAST(p*16+1 AS INT), 32)) AS h
      FROM (SELECT doc_id, text,
                   unnest(range(0, (length(text)-32)//16 + 1)) AS p
            FROM documents WHERE length(text) >= 32)),
    dup AS (SELECT h, COUNT(DISTINCT doc_id) AS nd FROM spans GROUP BY h)
    SELECT doc_id,
           CAST(COUNT(*) AS BIGINT) AS n_spans,
           CAST(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_dup_spans,
           ROUND(SUM(CASE WHEN nd >= 2 THEN 1 ELSE 0 END) * 1.0
                 / COUNT(*), 6) AS dup_frac
    FROM spans JOIN dup USING (h)
    GROUP BY doc_id
    """,
)
def q103_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cross-document repeated-span detection — the substring-dedup
    stage of a training-data pipeline (detect 32-char windows, stride 16,
    that recur in >= 2 distinct documents; a high dup_frac marks
    boilerplate to drop or trim). Complements the near-dup tier: q46
    hashes whole docs, LSH (q47-q49) finds fuzzy pairs, this finds exact
    *partial* overlap that whole-doc hashing misses.

    Scale shape: spans explode partition-locally (bounded per doc by
    length/stride); the only shuffles are the hash groupBy (partial aggs
    upstream) and the 1-row-per-hash join back — both on the span hash,
    whose md5 distribution is uniform, so no skew cap is needed (unlike
    q47's raw-shingle key)."""
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 32
    )
    spans = docs.select(
        "doc_id",
        "text",
        F.explode(
            F.sequence(
                F.lit(0),
                F.floor((F.length("text") - 32) / 16).cast("int"),
            )
        ).alias("p"),
    ).select(
        "doc_id",
        F.md5(F.expr("substring(text, CAST(p*16+1 AS INT), 32)")).alias("h"),
    )
    dup = spans.groupBy("h").agg(F.countDistinct("doc_id").alias("nd"))
    is_dup = F.when(F.col("nd") >= 2, 1).otherwise(0)
    return (
        spans.join(dup, "h")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(is_dup).alias("n_dup_spans"),
            F.round(F.sum(is_dup) * 1.0 / F.count("*"), 6).alias("dup_frac"),
        )
    )


# ---------------------------------------------------------------------------
# Content-defined chunking (FastCDC/LBFS-style) at token granularity
# ---------------------------------------------------------------------------

CDC_WINDOW = 3  # tokens hashed per boundary test
CDC_BOUNDARY_HEX = "0"  # boundary when first md5 hex digit == '0' (p=1/16)
CDC_TOP_K = 100


@query(
    "q115_cdc_chunks",
    oracle=f"""
    WITH words AS (SELECT doc_id, pos, w FROM {DUCK_WORDS} words),
         hashed AS (SELECT doc_id, pos, w,
                           CASE WHEN lag(w, {CDC_WINDOW - 1}) OVER win
                                     IS NOT NULL
                                AND substr(md5(lag(w, 2) OVER win || ' ' ||
                                               lag(w, 1) OVER win || ' ' || w),
                                           1, 1) = '{CDC_BOUNDARY_HEX}'
                                THEN 1 ELSE 0 END AS boundary
                    FROM words
                    WINDOW win AS (PARTITION BY doc_id ORDER BY pos)),
         chunked AS (SELECT doc_id, pos, w,
                            CAST(SUM(boundary) OVER
                                (PARTITION BY doc_id ORDER BY pos
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                          AND CURRENT ROW) AS BIGINT)
                                AS chunk_seq
                     FROM hashed),
         chunks AS (SELECT doc_id, chunk_seq,
                           md5(string_agg(w, ' ' ORDER BY pos))
                               AS chunk_hash,
                           CAST(COUNT(*) AS BIGINT) AS n_tokens
                    FROM chunked GROUP BY doc_id, chunk_seq)
    SELECT chunk_hash,
           CAST(COUNT(*) AS BIGINT) AS n_occ,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
           CAST(MIN(n_tokens) AS BIGINT) AS n_tokens
    FROM chunks
    GROUP BY chunk_hash
    HAVING COUNT(*) >= 2
    ORDER BY n_occ DESC, chunk_hash LIMIT {CDC_TOP_K}
    """,
)
def q115_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking (the LBFS/FastCDC boundary rule at token
    granularity): a chunk boundary falls wherever the rolling hash of
    the last CDC_WINDOW tokens hits a fixed pattern, so identical
    passages chunk identically regardless of their byte offset — the
    property that makes chunk-hash dedup robust to insertions, unlike
    fixed-stride windows (q103). Per doc: windowed boundary flags, a
    running boundary count as chunk id, one md5 per chunk; globally:
    group by chunk hash and keep the shared chunks (n_occ >= 2).

    Scale: everything before the final rollup is partition-local per
    document (window over doc_id); the rollup shuffles one short row per
    CHUNK (~1/16 of tokens), and the md5 hash space is uniform — no hot
    keys. The top-k is a TakeOrderedAndProject, not a full sort."""
    words = doc_words(spark, sf_dir).select("doc_id", "pos", "w")
    win = Window.partitionBy("doc_id").orderBy("pos")
    hashed = words.select(
        "doc_id",
        "pos",
        "w",
        F.when(
            F.lag("w", CDC_WINDOW - 1).over(win).isNotNull()
            & (
                F.substring(
                    F.md5(
                        F.concat_ws(
                            " ",
                            F.lag("w", 2).over(win),
                            F.lag("w", 1).over(win),
                            F.col("w"),
                        )
                    ),
                    1,
                    1,
                )
                == CDC_BOUNDARY_HEX
            ),
            1,
        )
        .otherwise(0)
        .alias("boundary"),
    )
    chunked = hashed.select(
        "doc_id",
        "pos",
        "w",
        F.sum("boundary")
        .over(win.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("chunk_seq"),
    )
    chunks = (
        chunked.groupBy("doc_id", "chunk_seq")
        .agg(
            F.md5(
                F.array_join(
                    F.array_sort(
                        F.collect_list(F.struct("pos", "w"))
                    ).getField("w"),
                    " ",
                )
            ).alias("chunk_hash"),
            F.count("*").alias("n_tokens"),
        )
    )
    return (
        chunks.groupBy("chunk_hash")
        .agg(
            F.count("*").alias("n_occ"),
            F.countDistinct("doc_id").alias("n_docs"),
            F.min("n_tokens").alias("n_tokens"),
        )
        .filter(F.col("n_occ") >= 2)
        .orderBy(F.desc("n_occ"), "chunk_hash")
        .limit(CDC_TOP_K)
    )

@query(
    "q186_source_overlap",
    oracle=f"""
    WITH dsh AS {_DUCK_DSH},
    ssh AS (SELECT DISTINCT d.source, dsh.shingle
            FROM dsh JOIN documents d USING (doc_id)),
    sizes AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n
              FROM ssh GROUP BY source),
    pairs AS (SELECT a.source AS source_a, b.source AS source_b,
                     CAST(COUNT(*) AS BIGINT) AS shared
              FROM ssh a JOIN ssh b
                ON a.shingle = b.shingle AND a.source < b.source
              GROUP BY a.source, b.source)
    SELECT source_a, source_b, shared,
           sa.n AS n_a, sb.n AS n_b,
           ROUND(shared * 1.0 / (sa.n + sb.n - shared), 6) AS jaccard
    FROM pairs
    JOIN sizes sa ON source_a = sa.source
    JOIN sizes sb ON source_b = sb.source
    """,
)
def q186_source_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Inter-SOURCE duplication forensics: the shingle-overlap Jaccard
    between every pair of corpus sources — the crawl-provenance view
    doc-level dedup can't give (two feeds syndicating the same wire copy
    show up here before any doc pair is examined). The shingle set
    collapses to DISTINCT (source, shingle) first, so the self-join is
    |sources|-bounded per shingle (≤ |sources|² rows per shingle, not
    df²), and the output is the |sources|²/2-row matrix — driver-tiny at
    any corpus size."""
    dsh = distinct_shingles(spark, sf_dir)
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "source")
    # the distinct (source, shingle) table is referenced three times
    # (sizes + both self-join legs) — materialized so the corpus-scale
    # shingling + distinct run once (r12, guide §3.3/§5); corpus tier
    # (r13): |sources| x |shingle-vocab| grows with the corpus
    ssh = corpus_checkpoint(
        dsh.join(docs, "doc_id").select("source", "shingle").distinct()
    )
    sizes = ssh.groupBy("source").agg(F.count("*").alias("n"))
    pairs = (
        ssh.alias("a")
        .join(
            ssh.alias("b"),
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("source_a"),
            F.col("b.source").alias("source_b"),
        )
        .agg(F.count("*").alias("shared"))
    )
    sa = sizes.alias("sa")
    sb = sizes.alias("sb")
    return (
        pairs.join(sa, F.col("source_a") == F.col("sa.source"))
        .join(sb, F.col("source_b") == F.col("sb.source"))
        .select(
            "source_a",
            "source_b",
            "shared",
            F.col("sa.n").alias("n_a"),
            F.col("sb.n").alias("n_b"),
            F.round(
                F.col("shared")
                * 1.0
                / (F.col("sa.n") + F.col("sb.n") - F.col("shared")),
                6,
            ).alias("jaccard"),
        )
    )

_FP_PRIME = 2147483647  # 2^31-1: polynomial fold + scramble modulus
_FP_MIX = 2654435761  # Knuth multiplicative constant (coprime to the prime)


def _duck_gram_hash() -> str:
    """DuckDB twin of the 8-gram scrambled polynomial hash: Horner chain
    over the char codes (BIGINT from the first term — peak value
    255*31^7 ~ 7e12 needs 64 bits), folded mod 2^31-1, then the
    multiplicative scramble (a bijection on [0, p)) so the min is taken
    over well-mixed values, not near-lexicographic ones."""
    poly = "CAST(ascii(substr(text, CAST(pos AS INTEGER), 1)) AS BIGINT)"
    for i in range(1, 8):
        poly = (
            f"({poly} * 31 + "
            f"ascii(substr(text, CAST(pos + {i} AS INTEGER), 1)))"
        )
    return f"(({poly} % {_FP_PRIME}) * {_FP_MIX}) % {_FP_PRIME}"


# the (doc_id, fingerprint) CTE shared by q206 and the q224 split-leak;
# docs shorter than one 8-gram carry no fingerprint — the WHERE makes that
# explicit on both engines (without it, Spark's sequence(1, size-7) would
# DESCEND for short docs and element_at(codes, 0) would crash the job,
# while DuckDB's range() silently emits nothing: a latent crash + engine
# divergence on the same input)
_DUCK_FP = f"""(
    SELECT doc_id, MIN({{hash}}) AS fingerprint
    FROM (SELECT doc_id, text, unnest(range(1, len(text) - 6)) AS pos
          FROM documents WHERE len(text) >= 8)
    GROUP BY doc_id)""".replace("{hash}", "__H__")


def duck_fp_cte() -> str:
    return _DUCK_FP.replace("__H__", _duck_gram_hash())


def doc_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(doc_id, fingerprint): the 1-permutation MinHash over 8-gram
    scrambled polynomial hashes — near-dups land in one family. Shared
    by q206's family-size distribution and q224's split-leakage audit.
    Linear, shuffle-free scan work; codes hoisted to one projection.
    Docs shorter than one 8-gram are dropped up front, mirroring the
    oracle's ``WHERE len(text) >= 8`` — Spark's sequence(1, size-7)
    descends for them ([1, 0, ...]) and element_at(codes, 0) is a
    runtime error, where DuckDB's range() silently emits nothing."""
    docs = read_table(spark, sf_dir, "documents").filter(
        F.length("text") >= 8
    )
    horner = "element_at(codes, p)"
    for i in range(1, 8):
        horner = f"({horner} * 31 + element_at(codes, p + {i}))"
    grams = F.expr(
        "transform(sequence(1, size(codes) - 7), "
        f"p -> (({horner} % {_FP_PRIME}) * {_FP_MIX}) % {_FP_PRIME})"
    )
    return docs.select(
        "doc_id",
        F.expr(
            "transform(split(text, ''), c -> CAST(ascii(c) AS BIGINT))"
        ).alias("codes"),
    ).select("doc_id", F.array_min(grams).alias("fingerprint"))


@query(
    "q206_dup_family_sizes",
    oracle=f"""
    WITH fp AS (
        SELECT doc_id, MIN({_duck_gram_hash()}) AS fingerprint
        FROM (SELECT doc_id, text, unnest(range(1, len(text) - 6)) AS pos
              FROM documents WHERE len(text) >= 8)
        GROUP BY doc_id),
    fam AS (SELECT fingerprint, CAST(COUNT(*) AS BIGINT) AS size
            FROM fp GROUP BY fingerprint)
    SELECT size AS family_size,
           CAST(COUNT(*) AS BIGINT) AS n_families,
           CAST(size * COUNT(*) AS BIGINT) AS n_docs,
           CAST((size - 1) * COUNT(*) AS BIGINT) AS n_removable
    FROM fam GROUP BY size
    """,
)
def q206_dup_family_sizes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate family size distribution over q45's rolling-hash
    fingerprint (the 1-permutation MinHash — near-dups land in one
    family where exact content hashes see nothing): how many families
    have 1, 2, ... members and the removable-doc count each stratum
    contributes (size−1 per family — what keep-one dedup deletes). The
    frequency-of-frequencies view that says whether duplication is a few
    viral families or a long pairwise tail — which decides whether
    keep-first or full clustering (q78) pays for itself. Scan-side
    8-gram min-hash, two grouped aggregates, no joins. The fingerprint
    is a Horner polynomial over char codes folded mod 2^31-1 and then
    multiplicatively scrambled (a bijection, so the min is over mixed
    values — a raw polynomial min is near-lexicographic and would merge
    every doc sharing the corpus's smallest 8-gram into one family):
    pure integer arithmetic, ~4-10x cheaper per position than the md5
    it replaced, still linear and shuffle-free. The char codes are
    hoisted to ONE projection so the per-position lambda does 8 array
    reads, not 8 substring scans."""
    fp = doc_fingerprints(spark, sf_dir)
    fam = fp.groupBy("fingerprint").agg(F.count("*").alias("size"))
    return fam.groupBy(F.col("size").alias("family_size")).agg(
        F.count("*").alias("n_families"),
        (F.col("family_size") * F.count("*")).cast("long").alias("n_docs"),
        ((F.col("family_size") - 1) * F.count("*"))
        .cast("long")
        .alias("n_removable"),
    )

@query(
    "q215_stop_phrases",
    oracle=f"""
    WITH dsh AS {_DUCK_DSH},
    df AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
           FROM dsh GROUP BY shingle),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_shingles,
                   CAST(SUM(CASE WHEN df > {MAX_SHINGLE_DF} THEN 1 ELSE 0 END)
                       AS BIGINT) AS n_capped,
                   CAST(SUM(CASE WHEN df > {MAX_SHINGLE_DF} THEN df ELSE 0 END)
                       AS BIGINT) AS postings_dropped
            FROM df)
    SELECT shingle, df.df,
           CAST(df.df > {MAX_SHINGLE_DF} AS BOOLEAN) AS is_capped,
           tot.n_shingles, tot.n_capped, tot.postings_dropped,
           CAST(ROW_NUMBER() OVER (ORDER BY df.df DESC, shingle) AS INT)
               AS rnk
    FROM df, tot
    ORDER BY df.df DESC, shingle LIMIT 20
    """,
)
def q215_stop_phrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup tier's doc-frequency cap made AUDITABLE: the top-20
    highest-DF shingles with their capped/kept verdict, plus the global
    accounting (how many shingle types the cap touches and how many
    posting-list entries it drops — zero at toy SF, boilerplate-sized on
    a web crawl). A curation reviewer reads THIS table to confirm the
    cap eats boilerplate ('terms of service'), not content; every
    capped phrase is also a candidate for an upstream boilerplate
    stripper. One DF aggregate + a 1-row rollup; the top-20 LIMIT runs
    FIRST as TakeOrderedAndProject (per-partition heaps, no global
    sort), and only the surviving 20 rows enter the ranking window — a
    window over the full shingle vocabulary would single-partition
    billions of rows at corpus scale."""
    dsh = distinct_shingles(spark, sf_dir)
    df = dsh.groupBy("shingle").agg(F.count("*").alias("df"))
    tot = df.agg(
        F.count("*").cast("long").alias("n_shingles"),
        F.sum(F.when(F.col("df") > MAX_SHINGLE_DF, 1).otherwise(0))
        .cast("long")
        .alias("n_capped"),
        F.sum(F.when(F.col("df") > MAX_SHINGLE_DF, F.col("df")).otherwise(0))
        .cast("long")
        .alias("postings_dropped"),
    )
    top20 = df.orderBy(F.desc("df"), "shingle").limit(20)
    wr = Window.orderBy(F.desc("df"), "shingle")
    return (
        top20.join(F.broadcast(tot))
        .withColumn("rnk", F.row_number().over(wr).cast("int"))
        .select(
            "shingle",
            "df",
            (F.col("df") > MAX_SHINGLE_DF).alias("is_capped"),
            "n_shingles",
            "n_capped",
            "postings_dropped",
            "rnk",
        )
    )



# ---------------------------------------------------------------------------
# Split-leakage audit — dedup-aware train/val/test integrity
# ---------------------------------------------------------------------------


def _split_leak_oracle() -> str:
    from hive_reflex_spark.operators.sampling import _SPLIT_SQL

    return f"""
    WITH fp AS {duck_fp_cte()},
    fam AS (
        SELECT fingerprint,
               string_agg(DISTINCT {_SPLIT_SQL}, '+'
                          ORDER BY {_SPLIT_SQL}) AS combo,
               CAST(COUNT(*) AS BIGINT) AS n_docs
        FROM fp GROUP BY fingerprint)
    SELECT combo,
           CAST(combo LIKE '%+%' AS BOOLEAN) AS is_leak,
           CAST(COUNT(*) AS BIGINT) AS n_families,
           CAST(SUM(n_docs) AS BIGINT) AS n_docs
    FROM fam GROUP BY combo
    """


@query("q224_split_leakage", oracle=_split_leak_oracle())
def q224_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dedup-AWARE split integrity: the q85 hash split is leak-free for
    exact duplicates of the KEY, but near-duplicate *content* (q206's
    fingerprint families) can still straddle train/val/test — the
    contamination that survives naive dedup-then-split pipelines and
    inflates eval scores. Per fingerprint family, the sorted set of
    splits its members land in; any '+' combo is a leak, and the report
    counts leaking families and the documents they cover (the rows a
    leak-free pipeline must re-assign family-wise, e.g. split on
    min(doc_id) per family). One fingerprint scan + two hash
    aggregates; nothing joins at data scale."""
    from hive_reflex_spark.operators.sampling import _split_col

    fp = doc_fingerprints(spark, sf_dir).select(
        "fingerprint", _split_col("doc_id").alias("split")
    )
    fam = fp.groupBy("fingerprint").agg(
        F.array_join(F.array_sort(F.collect_set("split")), "+").alias(
            "combo"
        ),
        F.count("*").alias("n_docs"),
    )
    return fam.groupBy("combo").agg(
        F.col("combo").contains("+").alias("is_leak"),
        F.count("*").alias("n_families"),
        F.sum("n_docs").cast("long").alias("n_docs"),
    )


# ---------------------------------------------------------------------------
# Blocked record linkage (entity resolution on catalog names)
# ---------------------------------------------------------------------------

MAX_LINKAGE_BLOCK = 256  # skew guard: cap any blocking key's member count


@query(
    "q247_name_linkage",
    oracle=f"""
    WITH names AS (SELECT p_name AS name,
                          CAST(COUNT(*) AS BIGINT) AS n_parts
                   FROM part GROUP BY p_name),
         toks AS (SELECT name, n_parts,
                         split_part(name, ' ', 1) AS t1,
                         split_part(name, ' ', 2) AS t2
                  FROM names),
         b1 AS (SELECT t1 FROM toks GROUP BY t1
                HAVING COUNT(*) <= {MAX_LINKAGE_BLOCK}),
         b2 AS (SELECT t2 FROM toks GROUP BY t2
                HAVING COUNT(*) <= {MAX_LINKAGE_BLOCK}),
         cand AS (SELECT DISTINCT a.name AS name_a, b.name AS name_b,
                         a.n_parts AS n_parts_a, b.n_parts AS n_parts_b
                  FROM toks a JOIN toks b
                    ON (a.t1 = b.t1 AND a.t1 IN (SELECT t1 FROM b1))
                       OR (a.t2 = b.t2 AND a.t2 IN (SELECT t2 FROM b2))
                  WHERE a.name < b.name)
    SELECT name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS INTEGER) AS lev,
           n_parts_a, n_parts_b
    FROM cand
    WHERE levenshtein(name_a, name_b) BETWEEN 1 AND 2
    """,
)
def q247_name_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Blocked record linkage over the part catalog: find DISTINCT name
    pairs within edit distance 2 (typo-grade variants like 'old gear' /
    'cold gear') without ever forming the all-pairs cross product. Two
    disciplines make this scale:
    (1) canonicalize-first — linkage runs on the DISTINCT name table
        (catalogs are heavy-tailed: records >> entities), so the pair
        space is entities², not records²;
    (2) multi-pass blocking — candidate pairs come from equi-joins on
        each name token (the record-linkage analog of LSH bands; recall
        CONTRACT: pairs sharing t1 or t2 verbatim — a lev-2 pair that
        spends one edit in EACH token preserves neither key and is
        missed by design, the banding trade of bounded blocks over
        guaranteed recall); the block cap is PER POSITION — a t1 value
        is admitted iff its t1-count <= MAX_LINKAGE_BLOCK, regardless
        of its count as a t2 — and a too-big block is a stop-token,
        dropped like q47's viral shingles so no single key can go
        quadratic.
    Levenshtein runs ONLY on surviving candidates — both engines
    implement the classic unit-cost edit distance, so the refine
    predicate agrees exactly.

    Scale (100 TB): the name dedup is one shuffle; each blocking pass is
    an equi-join on a bounded key; the refine is map-side on candidate
    rows. This is the q49 LSH shape applied to entity resolution.
    The tokenized entity table is corpus-tier materialized (r12;
    r13: lazy persist): four downstream references (blocks + blocked
    in each of two block passes) would otherwise each re-run the
    record-scale name dedup — the unshared-subplan discipline of the
    graph family (guide §2.4)."""
    part = read_table(spark, sf_dir, "part")
    names = part.groupBy(F.col("p_name").alias("name")).agg(
        F.count("*").alias("n_parts")
    )
    # corpus tier (r13): one row per distinct entity name — grows with
    # the catalog; lazy persist keeps lineage + evictable blocks
    toks = corpus_checkpoint(
        names.select(
            "name",
            "n_parts",
            F.split_part(F.col("name"), F.lit(" "), F.lit(1)).alias("t1"),
            F.split_part(F.col("name"), F.lit(" "), F.lit(2)).alias("t2"),
        )
    )

    def _block_pass(key: str) -> DataFrame:
        blocks = (
            toks.groupBy(key)
            .agg(F.count("*").alias("n"))
            .filter(F.col("n") <= MAX_LINKAGE_BLOCK)
            .select(key)
        )
        blocked = toks.join(F.broadcast(blocks), key)
        a = blocked.alias("a")
        b = blocked.alias("b")
        return (
            a.join(
                b,
                (F.col(f"a.{key}") == F.col(f"b.{key}"))
                & (F.col("a.name") < F.col("b.name")),
            )
            .select(
                F.col("a.name").alias("name_a"),
                F.col("b.name").alias("name_b"),
                F.col("a.n_parts").alias("n_parts_a"),
                F.col("b.n_parts").alias("n_parts_b"),
            )
        )

    cand = _block_pass("t1").unionAll(_block_pass("t2")).distinct()
    lev = F.levenshtein(F.col("name_a"), F.col("name_b"))
    return cand.filter(lev.between(1, 2)).select(
        "name_a",
        "name_b",
        lev.cast("int").alias("lev"),
        "n_parts_a",
        "n_parts_b",
    )


# ---------------------------------------------------------------------------
# Prefix-filtering similarity join (AllPairs/PPJoin family)
# ---------------------------------------------------------------------------

PPJOIN_CAP = 8192  # q51a-style fence: candidate generation is bounded by
# sum C(df_in_prefix, 2); on Zipf-tailed real text that is small, but the
# synthetic fixture's ~60-word vocabulary makes even the rarest shingles
# df~300 at 50k docs (218M candidate pairs, measured) — the cap keeps the
# registered plan bounded on ANY corpus shape.


@query(
    "q258_prefix_filter_join",
    oracle=f"""
    WITH toks AS (SELECT DISTINCT doc_id, shingle FROM {DUCK_SHINGLES} sh
                  WHERE doc_id < {PPJOIN_CAP}),
         sigs AS (SELECT doc_id,
                         md5(string_agg(shingle, chr(31)
                             ORDER BY shingle)) AS sig
                  FROM toks GROUP BY doc_id),
         reps AS (SELECT sig, MIN(doc_id) AS rep,
                         CAST(COUNT(*) AS BIGINT) AS fam
                  FROM sigs GROUP BY sig),
         rtoks AS (SELECT t.doc_id, t.shingle FROM toks t
                   WHERE t.doc_id IN (SELECT rep FROM reps)),
         dfreq AS (SELECT shingle, CAST(COUNT(*) AS BIGINT) AS df
                   FROM rtoks GROUP BY shingle),
         ranked AS (SELECT t.doc_id, t.shingle,
                           ROW_NUMBER() OVER (PARTITION BY t.doc_id
                               ORDER BY d.df, t.shingle) AS pos,
                           COUNT(*) OVER (PARTITION BY t.doc_id) AS n
                    FROM rtoks t JOIN dfreq d USING (shingle)),
         prefix AS (SELECT doc_id, shingle, pos, n FROM ranked
                    WHERE pos <= n - (n + 1) // 2 + 1),
         cand AS (SELECT DISTINCT a.doc_id AS rep_a, b.doc_id AS rep_b
                  FROM prefix a JOIN prefix b
                    ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                  WHERE 2 * b.n >= a.n AND b.n <= 2 * a.n
                    AND LEAST(a.n - a.pos, b.n - b.pos) + 1
                        >= (a.n + b.n + 2) // 3),
         sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
                   FROM rtoks GROUP BY doc_id),
         inter AS (SELECT c.rep_a, c.rep_b,
                          CAST(COUNT(*) AS BIGINT) AS i
                   FROM cand c
                   JOIN rtoks ta ON ta.doc_id = c.rep_a
                   JOIN rtoks tb ON tb.doc_id = c.rep_b
                              AND tb.shingle = ta.shingle
                   GROUP BY c.rep_a, c.rep_b)
    SELECT rep_a, rep_b, fa.fam AS fam_a, fb.fam AS fam_b,
           i AS intersection, sa.n + sb.n - i AS union_size,
           ROUND(i * 1.0 / (sa.n + sb.n - i), 6) AS jaccard
    FROM inter
    JOIN sizes sa ON rep_a = sa.doc_id
    JOIN sizes sb ON rep_b = sb.doc_id
    JOIN (SELECT s.doc_id, r.fam FROM sigs s JOIN reps r USING (sig)) fa
      ON rep_a = fa.doc_id
    JOIN (SELECT s.doc_id, r.fam FROM sigs s JOIN reps r USING (sig)) fb
      ON rep_b = fb.doc_id
    WHERE 2 * i >= sa.n + sb.n - i
    """,
)
def q258_prefix_filter_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PPJoin prefix-filtering similarity join with the canonicalize-
    first discipline: exact UNCAPPED shingle-Jaccard pairs at J >= 0.5
    between DISTINCT shingle-set representatives. Three stacked LOSSLESS
    filters bound the candidate join (all classic PPJoin theorems at
    t = 1/2, verified against brute force by test):
    - prefix filter: sets with J >= t must share a token among their
      floor(n/2)+1 RAREST shingles under the global (df, shingle) order;
    - length filter: J >= 1/2 forces n_b in [n_a/2, 2*n_a];
    - positional filter: a match at prefix positions (pa, pb) can only
      reach overlap alpha = ceil((na+nb)/3) if
      min(na-pa, nb-pb) + 1 >= alpha.
    The J test on survivors is exact-integer (2i >= union). This is the
    OTHER skew family to q47's df-cap: q47 bounds posting lists and
    redefines Jaccard over the capped universe; q258 keeps exact
    full-universe Jaccard and bounds the JOIN instead.

    The corpus fence (doc_id < PPJOIN_CAP) is load-bearing on ADVERSE
    corpus shapes: candidate volume is sum C(df_in_prefix, 2), tiny on
    Zipf-tailed real text but ~218M pairs (measured) on the synthetic
    fixture's ~60-word vocabulary at 50k docs, where even the rarest
    shingle of a doc is common. Production corpora drop the fence;
    vocabulary-starved ones belong on q49's banded MinHash instead —
    the docstring IS the decision rule.

    Join-free tail (r12): the representative token stream carries its
    family count (reps joined once, inner — reps.rep is unique so row
    multiplicity is the old semi join's), the ranked prefix carries
    |doc| = n, and both ride the candidate pairs through the
    verification aggregate as extra group keys (functionally dependent
    on the doc ids — no group changes). The r11 tail re-derived them
    with FOUR corpus-scale shuffled-hash joins (sizes x2, fam x2) per
    query (guide §2.4). rtoks and prefix are corpus-tier materialized
    (r13: lazy persist — lineage kept for fault tolerance at cluster
    scale, blocks evictable): rtoks has four downstream legs (dfreq,
    ranked, two verification sides) and prefix two (the candidate
    self-join's sides), and each would otherwise re-evaluate its whole
    upstream pipeline — the same unshared-subplan discipline as the
    graph family."""
    toks = distinct_shingles(spark, sf_dir).filter(
        F.col("doc_id") < PPJOIN_CAP
    )
    sigs = toks.groupBy("doc_id").agg(
        F.md5(
            F.array_join(F.sort_array(F.collect_set("shingle")), "\x1f")
        ).alias("sig")
    )
    reps = sigs.groupBy("sig").agg(
        F.min("doc_id").alias("rep"), F.count("*").alias("fam")
    )
    rep_fams = reps.select(F.col("rep").alias("doc_id"), "fam")
    # corpus tier (r13, VERDICT #2): rtoks is every shingle of every
    # representative doc — the round's canonical corpus-scale waist
    rtoks = corpus_checkpoint(toks.join(rep_fams, "doc_id"))
    dfreq = rtoks.groupBy("shingle").agg(F.count("*").alias("df"))
    wdoc = Window.partitionBy("doc_id").orderBy("df", "shingle")
    ranked = (
        rtoks.join(dfreq.hint("shuffle_hash"), "shingle")
        .withColumn("pos", F.row_number().over(wdoc))
        .withColumn("n", F.count("*").over(Window.partitionBy("doc_id")))
    )
    prefix = corpus_checkpoint(
        ranked.filter(
            F.col("pos") <= F.col("n") - F.expr("(n + 1) div 2") + 1
        ).select("doc_id", "shingle", "pos", "n", "fam")
    )
    a = prefix.alias("a")
    b = prefix.alias("b")
    cand = (
        a.join(
            b,
            (F.col("a.shingle") == F.col("b.shingle"))
            & (F.col("a.doc_id") < F.col("b.doc_id"))
            & (2 * F.col("b.n") >= F.col("a.n"))
            & (F.col("b.n") <= 2 * F.col("a.n"))
            & (
                F.least(
                    F.col("a.n") - F.col("a.pos"),
                    F.col("b.n") - F.col("b.pos"),
                )
                + 1
                >= F.expr("(a.n + b.n + 2) div 3")
            ),
        )
        .select(
            F.col("a.doc_id").alias("rep_a"),
            F.col("b.doc_id").alias("rep_b"),
            F.col("a.n").alias("na"),
            F.col("b.n").alias("nb"),
            F.col("a.fam").alias("fam_a"),
            F.col("b.fam").alias("fam_b"),
        )
        .distinct()
    )
    ta = rtoks.select("doc_id", "shingle").alias("ta")
    tb = rtoks.select("doc_id", "shingle").alias("tb")
    inter = (
        cand.hint("shuffle_hash")
        .join(ta, F.col("rep_a") == F.col("ta.doc_id"))
        .join(
            tb,
            (F.col("rep_b") == F.col("tb.doc_id"))
            & (F.col("ta.shingle") == F.col("tb.shingle")),
        )
        .groupBy("rep_a", "rep_b", "na", "nb", "fam_a", "fam_b")
        .agg(F.count("*").alias("i"))
    )
    union_sz = F.col("na") + F.col("nb") - F.col("i")
    return (
        inter.filter(2 * F.col("i") >= union_sz)
        .select(
            "rep_a",
            "rep_b",
            F.col("fam_a").cast("long").alias("fam_a"),
            F.col("fam_b").cast("long").alias("fam_b"),
            F.col("i").cast("long").alias("intersection"),
            union_sz.cast("long").alias("union_size"),
            F.round(F.col("i") * 1.0 / union_sz, 6).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# LSH banding planner: S-curve configs scored on the observed corpus
# ---------------------------------------------------------------------------

_LSH_BUDGET = 8  # signature budget (hashes per doc — q48's MinHash count)


def _lsh_planner_oracle() -> str:
    from hive_reflex_spark.registry import ORACLES

    q47_sql = ORACLES["q47_jaccard_pairs"].strip()
    configs = ", ".join(
        f"({b}, {_LSH_BUDGET // b})"
        for b in (1, 2, 4, 8)
    )
    return f"""
    WITH pairs AS MATERIALIZED (SELECT jaccard FROM ({q47_sql}) p),
         cfg AS (SELECT * FROM (VALUES {configs}) AS t(b, r)),
         scored AS (SELECT cfg.b, cfg.r, pairs.jaccard,
                           1 - power(1 - power(pairs.jaccard, cfg.r), cfg.b)
                               AS pcand
                    FROM cfg, pairs)
    SELECT CAST(b AS INTEGER) AS bands, CAST(r AS INTEGER) AS rows_per_band,
           ROUND(power(1.0 / b, 1.0 / r), 6) AS j_at_half,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           ROUND({duck_unit_sum("pcand", 9)} / (COUNT(*) * 1000000000.0), 6)
               AS expected_recall,
           ROUND(1 - power(1 - power(0.5, r * 1.0), b * 1.0), 6) AS p_at_05,
           ROUND(1 - power(1 - power(0.7, r * 1.0), b * 1.0), 6) AS p_at_07,
           ROUND(1 - power(1 - power(0.9, r * 1.0), b * 1.0), 6) AS p_at_09
    FROM scored GROUP BY b, r
    """


@query("q260_lsh_banding_planner", oracle=_lsh_planner_oracle())
def q260_lsh_banding_planner(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH banding planner: for every (bands, rows) split of the 8-hash
    signature budget, the S-curve P(candidate | J) = 1-(1-J^r)^b scored
    against the CORPUS'S OWN verified near-dup pairs (q47's J >= 0.5
    set) — expected recall is the mean S-curve value over the real
    Jaccard distribution, not a textbook J. j_at_half = (1/b)^(1/r) is
    each config's threshold midpoint; p_at_{{0.5,0.7,0.9}} read the
    curve at reference similarities. This is the tuning table that
    justifies q49's b=4, r=2 choice — and re-running it after a corpus
    shift shows when the banding needs to move. Per-pair S-curve values
    convert to 1e-9 integer units before averaging (order-independent
    sum, the house float-aggregate discipline).

    Scale (100 TB): the pair side is q47's verified near-dup set
    (linear in corpus dups); the config side is 4 rows. Everything
    downstream of the pair join is a 4-group aggregate."""
    from hive_reflex_spark.operators.dedup import q47_jaccard_pairs

    pairs = q47_jaccard_pairs(spark, sf_dir).select("jaccard")
    cfg = spark.createDataFrame(
        [(b, _LSH_BUDGET // b) for b in (1, 2, 4, 8)], "b int, r int"
    )
    scored = pairs.crossJoin(F.broadcast(cfg)).select(
        "b",
        "r",
        (
            1
            - F.pow(
                1 - F.pow(F.col("jaccard"), F.col("r").cast("double")),
                F.col("b").cast("double"),
            )
        ).alias("pcand"),
    )
    return (
        scored.groupBy(
            F.col("b").cast("int").alias("bands"),
            F.col("r").cast("int").alias("rows_per_band"),
        )
        .agg(
            F.count("*").alias("n_pairs"),
            F.sum(
                F.round(F.col("pcand") * 1_000_000_000).cast("long")
            ).alias("u"),
        )
        .select(
            "bands",
            "rows_per_band",
            F.round(
                F.pow(
                    1.0 / F.col("bands"),
                    1.0 / F.col("rows_per_band").cast("double"),
                ),
                6,
            ).alias("j_at_half"),
            "n_pairs",
            F.round(
                F.col("u") / (F.col("n_pairs") * 1_000_000_000.0), 6
            ).alias("expected_recall"),
            F.round(
                1
                - F.pow(
                    1
                    - F.pow(
                        F.lit(0.5), F.col("rows_per_band").cast("double")
                    ),
                    F.col("bands").cast("double"),
                ),
                6,
            ).alias("p_at_05"),
            F.round(
                1
                - F.pow(
                    1
                    - F.pow(
                        F.lit(0.7), F.col("rows_per_band").cast("double")
                    ),
                    F.col("bands").cast("double"),
                ),
                6,
            ).alias("p_at_07"),
            F.round(
                1
                - F.pow(
                    1
                    - F.pow(
                        F.lit(0.9), F.col("rows_per_band").cast("double")
                    ),
                    F.col("bands").cast("double"),
                ),
                6,
            ).alias("p_at_09"),
        )
    )


# ---------------------------------------------------------------------------
# Containment pairs (asymmetric near-dup: quotes / subset duplication)
# ---------------------------------------------------------------------------


@query(
    "q263_containment_pairs",
    oracle=f"""
    WITH dsh_all AS {_DUCK_DSH},
         dsh AS (SELECT * FROM dsh_all WHERE shingle NOT IN
                 (SELECT shingle FROM dsh_all
                  GROUP BY shingle HAVING COUNT(*) > {MAX_SHINGLE_DF})),
         sizes AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n
                   FROM dsh GROUP BY doc_id),
         pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                          CAST(COUNT(*) AS BIGINT) AS i
                   FROM dsh a JOIN dsh b
                     ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                   GROUP BY a.doc_id, b.doc_id),
         directed AS (SELECT doc_a AS contained, doc_b AS container, i
                      FROM pairs
                      UNION ALL
                      SELECT doc_b, doc_a, i FROM pairs)
    SELECT d.contained, d.container, d.i AS intersection,
           sc.n AS contained_size, sb.n AS container_size,
           ROUND(d.i * 1.0 / sc.n, 6) AS containment,
           ROUND(d.i * 1.0 / (sc.n + sb.n - d.i), 6) AS jaccard
    FROM directed d
    JOIN sizes sc ON d.contained = sc.doc_id
    JOIN sizes sb ON d.container = sb.doc_id
    WHERE 10 * d.i >= 7 * sc.n
    """,
)
def q263_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric containment near-dup pairs: C(a in b) = |a∩b| / |a|
    >= 0.7 over the df-capped shingle universe — the QUOTE/SUBSET
    detector symmetric Jaccard misses (a 50-shingle doc fully embedded
    in a 500-shingle doc has J≈0.1 but C=1.0; training corpora are full
    of these — quoted posts, boilerplate-wrapped articles, excerpt
    pages). Both directions are tested per co-occurring pair; the
    jaccard column shows what the symmetric score would have said. The
    0.7 threshold is the exact-integer test 10·i >= 7·|contained| — no
    float boundary.

    Scale (100 TB): the pair generator is q47's capped inverted index
    (one groupBy(shingle), posting lists bounded by MAX_SHINGLE_DF, no
    all-pairs anywhere); directionality is a projection, not a second
    join. This is the third member of the skew-guard family: df-cap
    (q47), join-bounding prefix filter (q258), and here the cap reused
    for an asymmetric measure."""
    grouped = capped_postings(spark, sf_dir)
    # sized postings (r12): the pair expansion carries both doc sizes, so
    # directionality is a projection over the expansion and the r11
    # shape's two shuffled-hash joins against a sizes table are gone
    # (guide §2.4) — same join-free layout as collision_jaccard_pairs.
    pair_expr = F.expr(
        "flatten(transform(docs, (x, i) -> "
        "transform(slice(docs, i + 2, size(docs)), "
        "y -> struct(x.d AS doc_a, x.n AS na, "
        "y.d AS doc_b, y.n AS nb))))"
    )
    pairs = (
        grouped.filter(F.size("docs") >= 2)
        .select(F.explode(pair_expr).alias("pr"))
        .select("pr.doc_a", "pr.na", "pr.doc_b", "pr.nb")
        .groupBy("doc_a", "na", "doc_b", "nb")
        .agg(F.count("*").alias("i"))
    )
    # both directions from ONE pass: a unionAll of two selects over
    # `pairs` would duplicate the whole pair-expansion subtree in the
    # plan (Catalyst does not share unreferenced common subplans — the
    # q94 lesson of this round), doubling the expansion work; a 2-row
    # explode per pair is the single-pass form
    directed = pairs.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("doc_a").alias("contained"),
                    F.col("doc_b").alias("container"),
                    F.col("na").alias("nc"),
                    F.col("nb").alias("ns"),
                    F.col("i"),
                ),
                F.struct(
                    F.col("doc_b").alias("contained"),
                    F.col("doc_a").alias("container"),
                    F.col("nb").alias("nc"),
                    F.col("na").alias("ns"),
                    F.col("i"),
                ),
            )
        ).alias("dr")
    ).select("dr.contained", "dr.container", "dr.nc", "dr.ns", "dr.i")
    return (
        directed.filter(10 * F.col("i") >= 7 * F.col("nc"))
        .select(
            "contained",
            "container",
            F.col("i").cast("long").alias("intersection"),
            F.col("nc").cast("long").alias("contained_size"),
            F.col("ns").cast("long").alias("container_size"),
            F.round(F.col("i") * 1.0 / F.col("nc"), 6).alias(
                "containment"
            ),
            F.round(
                F.col("i")
                * 1.0
                / (F.col("nc") + F.col("ns") - F.col("i")),
                6,
            ).alias("jaccard"),
        )
    )


# ---------------------------------------------------------------------------
# Weighted (multiset) Jaccard — tf-aware near-dup similarity
# ---------------------------------------------------------------------------


@query(
    "q264_weighted_jaccard",
    oracle=f"""
    WITH sh_all AS (SELECT doc_id, shingle FROM {DUCK_SHINGLES} sh),
         hot AS (SELECT shingle FROM (SELECT DISTINCT doc_id, shingle
                                      FROM sh_all)
                 GROUP BY shingle HAVING COUNT(*) > {MAX_SHINGLE_DF}),
         tf AS (SELECT doc_id, shingle, CAST(COUNT(*) AS BIGINT) AS tf
                FROM sh_all WHERE shingle NOT IN (SELECT shingle FROM hot)
                GROUP BY doc_id, shingle),
         totals AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS total
                    FROM tf GROUP BY doc_id),
         shared AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                           CAST(SUM(LEAST(a.tf, b.tf)) AS BIGINT) AS minsum
                    FROM tf a JOIN tf b
                      ON a.shingle = b.shingle AND a.doc_id < b.doc_id
                    GROUP BY a.doc_id, b.doc_id)
    SELECT doc_a, doc_b, minsum,
           ta.total AS total_a, tb.total AS total_b,
           ROUND(minsum * 1.0 / (ta.total + tb.total - minsum), 6)
               AS weighted_jaccard
    FROM shared
    JOIN totals ta ON doc_a = ta.doc_id
    JOIN totals tb ON doc_b = tb.doc_id
    WHERE 5 * minsum >= 2 * (ta.total + tb.total - minsum)
    """,
)
def q264_weighted_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted (multiset) Jaccard near-dup pairs at wJ >= 0.4:
    wJ = Σ min(tf_a, tf_b) / Σ max(tf_a, tf_b) over shingle term
    frequencies — the tf-aware fourth member of the similarity family
    (q47 exact set-J, q258 PPJoin, q263 containment). Set-Jaccard
    treats a shingle repeated 50x the same as once, so template spam
    with a repeated block looks less similar than it is; the multiset
    form counts multiplicity. Σ max falls out of totals
    (Ta + Tb - Σ min), so only the SHARED-shingle min-sum needs the
    join; the wJ >= 0.4 test is exact-integer (5·minsum >= 2·union).
    The df-cap applies to the same distinct-doc frequency rule as q47,
    so a viral shingle bounds this pair stream identically.

    Scale (100 TB): one tf reduce keyed on (doc, shingle), two window
    passes (df gate on the shingle key, totals on the doc key), one
    posting regroup on the shingle key, one grouped sum over the
    in-list pair expansion. Join-free (r12): each tf-weighted posting
    carries its doc's capped-universe total, so the pair expansion
    emits (doc_a, ta, doc_b, tb, min-tf) directly and ONE grouped sum
    finishes the score — the r11 shape evaluated the tf subtree three
    times (two self-join legs + totals) and paid two corpus-scale
    shuffled-hash totals joins on every query (guide §2.4). The df gate
    as a count-over-shingle window is the same distinct-doc frequency
    rule as before: tf has exactly one row per (doc, shingle). ta/tb
    are functionally dependent on the doc ids, so adding them to the
    group keys changes no group."""
    sh_all = doc_shingles(spark, sf_dir)
    tf = sh_all.groupBy("doc_id", "shingle").agg(F.count("*").alias("tf"))
    tfd = (
        tf.withColumn(
            "df", F.count("*").over(Window.partitionBy("shingle"))
        )
        .filter(F.col("df") <= MAX_SHINGLE_DF)
        .withColumn(
            "total", F.sum("tf").over(Window.partitionBy("doc_id"))
        )
    )
    posts = (
        tfd.groupBy("shingle")
        .agg(
            F.sort_array(
                F.collect_list(
                    F.struct(
                        F.col("doc_id").alias("d"),
                        F.col("tf"),
                        F.col("total").alias("t"),
                    )
                )
            ).alias("docs")
        )
        .filter(F.size("docs") >= 2)
    )
    pair_expr = F.expr(
        "flatten(transform(docs, (x, i) -> "
        "transform(slice(docs, i + 2, size(docs)), "
        "y -> struct(x.d AS doc_a, x.t AS ta, y.d AS doc_b, y.t AS tb, "
        "least(x.tf, y.tf) AS m))))"
    )
    shared = (
        posts.select(F.explode(pair_expr).alias("pr"))
        .select("pr.doc_a", "pr.ta", "pr.doc_b", "pr.tb", "pr.m")
        .groupBy("doc_a", "ta", "doc_b", "tb")
        .agg(F.sum("m").alias("minsum"))
    )
    union_w = F.col("ta") + F.col("tb") - F.col("minsum")
    return (
        shared.filter(5 * F.col("minsum") >= 2 * union_w)
        .select(
            "doc_a",
            "doc_b",
            F.col("minsum").cast("long").alias("minsum"),
            F.col("ta").cast("long").alias("total_a"),
            F.col("tb").cast("long").alias("total_b"),
            F.round(F.col("minsum") * 1.0 / union_w, 6).alias(
                "weighted_jaccard"
            ),
        )
    )
