"""Similarity search over the ``embeddings`` table (array<float>, 64-dim).

Three tiers, trading exactness for scale:
1. q51 brute-force cosine top-k on the coordinate table — the exact
   baseline; O(queries × corpus) but fully distributed (join on dim,
   grouped dot products).
2. q52 JVM array fast path — zip_with/aggregate fold over the arrays,
   no explode, no per-dim shuffle rows; the per-row cost is a tight
   codegen loop. Same results, ~64× fewer intermediate rows.
3. ANN indexes, each with ONE search path — its registered,
   oracle-checked query:
   - q53 random-hyperplane LSH buckets: 8 signed projections → 8-bit
     bucket; q178/q228 probe it with one equi-join on bucket, so only
     near-colliding vectors are compared;
   - IVF: one coarse quantizer (:func:`_coarse_ranked`, stride-seeded
     centroids, max-dot) assigns (q54a, q106, q269) and probes
     (q54b; q102b composes it with q102a's PQ ADC scoring).

Hyperplanes are pseudo-random but engine-portable: the sign of plane p at
dim d is derived from a hex digit of md5(p||':'||d).
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
    corpus_checkpoint,
    maybe_local_checkpoint,
    read_table,
    tracked_persist,
)
from hive_reflex_spark.operators.tensor import _duck_coords, embedding_coords
from hive_reflex_spark.registry import query

N_QUERIES = 8  # vec_id < 8 are the query vectors
TOP_K = 5
N_PLANES = 8


_COSINE_TOPK_ORACLE = f"""
    WITH coords AS (SELECT * FROM {_duck_coords(None)} c),
         norms AS (SELECT vec_id,
                          sqrt({duck_exact_sum("v * v", 9)}) AS nrm
                   FROM coords GROUP BY vec_id),
         dots AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                         {duck_exact_sum("q.v * c.v", 9)} AS dot
                  FROM coords q JOIN coords c ON q.dim = c.dim
                  WHERE q.vec_id < {N_QUERIES} AND q.vec_id != c.vec_id
                  GROUP BY q.vec_id, c.vec_id),
         scored AS (SELECT query_id, neighbor_id,
                           ROUND(dot / (nq.nrm * nc.nrm), 6) AS cosine
                    FROM dots
                    JOIN norms nq ON query_id = nq.vec_id
                    JOIN norms nc ON neighbor_id = nc.vec_id)
    SELECT query_id, neighbor_id, cosine, rnk FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM scored)
    WHERE rnk <= {TOP_K}
    """


@query("q51_cosine_topk", oracle=_COSINE_TOPK_ORACLE)
def q51_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k (the exact ANN baseline): coordinate join
    on dim → exact grouped dot products → norms → ranked neighbors.
    The query side is tiny → broadcast; the corpus side streams."""
    coords = embedding_coords(spark, sf_dir)
    norms = coords.groupBy("vec_id").agg(
        F.sqrt(exact_sum(F.col("v") * F.col("v"), 9)).alias("nrm")
    )
    q = coords.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), "dim", F.col("v").alias("qv")
    )
    dots = (
        F.broadcast(q)
        .join(coords, "dim")
        .filter(F.col("query_id") != F.col("vec_id"))
        .groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(exact_sum(F.col("qv") * F.col("v"), 9).alias("dot"))
    )
    nq = norms.alias("nq")
    nc = norms.alias("nc")
    scored = (
        dots.join(F.broadcast(nq), F.col("query_id") == F.col("nq.vec_id"))
        .join(F.broadcast(nc), F.col("neighbor_id") == F.col("nc.vec_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("dot") / (F.col("nq.nrm") * F.col("nc.nrm")), 6).alias(
                "cosine"
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        # long: DuckDB ROW_NUMBER is BIGINT; exact arrow-dtype parity
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
    )


_COSINE_TOPK_FLOAT_ORACLE = f"""
    WITH coords AS (SELECT * FROM {_duck_coords(None)} c),
         norms AS (SELECT vec_id, sqrt(SUM(v * v)) AS nrm
                   FROM coords GROUP BY vec_id),
         dots AS (SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                         SUM(q.v * c.v) AS dot
                  FROM coords q JOIN coords c ON q.dim = c.dim
                  WHERE q.vec_id < {N_QUERIES} AND q.vec_id != c.vec_id
                  GROUP BY q.vec_id, c.vec_id),
         scored AS (SELECT query_id, neighbor_id,
                           ROUND(dot / (nq.nrm * nc.nrm), 6) AS cosine
                    FROM dots
                    JOIN norms nq ON query_id = nq.vec_id
                    JOIN norms nc ON neighbor_id = nc.vec_id)
    SELECT query_id, neighbor_id, cosine, rnk FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM scored)
    WHERE rnk <= {TOP_K}
    """


def _fold_dot(units: bool):
    """Array dot product as a zip_with/aggregate fold. ``units=True``
    accumulates 9dp integer units per element (order-independent, shares
    q51's oracle bit-exactly); ``units=False`` folds raw double products
    and rounds once downstream — ~3× cheaper per pair (no per-element
    round+cast), the production fast path.

    Built as ONE parsed SQL expression per dot (not ~10 nested py4j
    Column calls): the fold is the chattiest expression in the similarity
    family and the headline bench times plan construction — single-parse
    halves q52's Python-side build (guide §7.3 planning overhead;
    plan-identical, the parser emits the same zip_with/aggregate tree)."""

    def col_name(c) -> str:
        # accept either a column name or a Column that wraps a plain
        # attribute (F.col("e")) — the fold is only ever applied to those
        if isinstance(c, str):
            return c
        return c._jc.toString()

    if units:
        # NOTE: divide by 1e9 (a DOUBLE literal), never 1000000000.0 —
        # SQL decimal-point literals parse as DECIMAL and would switch
        # the fold's quotient to decimal arithmetic; the Column form this
        # replaces divided by a Python float (double)
        return lambda a, b: F.expr(
            f"aggregate(zip_with({col_name(a)}, {col_name(b)}, "
            "(x, y) -> CAST(round(x * y * 1e9) AS BIGINT)), "
            "CAST(0 AS BIGINT), (acc, x) -> acc + x) / 1e9"
        )
    return lambda a, b: F.expr(
        f"aggregate(zip_with({col_name(a)}, {col_name(b)}, "
        "(x, y) -> x * y), CAST(0.0 AS DOUBLE), (acc, x) -> acc + x)"
    )


def _cosine_topk_arrays(
    spark: SparkSession, sf_dir: str, units: bool
) -> DataFrame:
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    dot = _fold_dot(units)
    # norms once per vector BEFORE the pair join (q51's grouped-norm
    # shape) — the per-pair fold then does one dot, not dot+two norms
    emb = emb.withColumn("nrm", F.sqrt(dot(F.col("e"), F.col("e"))))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("e").alias("qe"),
        F.col("nrm").alias("qnrm"),
    )
    scored = (
        emb.join(F.broadcast(q))
        .filter(F.col("query_id") != F.col("vec_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            F.round(
                dot(F.col("qe"), F.col("e"))
                / (F.col("qnrm") * F.col("nrm")),
                6,
            ).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    # rnk as long: row_number is int32 in Spark, BIGINT in the oracle —
    # benign for the driver hash but the schemas should agree exactly
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
    )


@query("q52_cosine_topk_arrays", oracle=_COSINE_TOPK_FLOAT_ORACLE)
def q52_cosine_topk_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JVM array fast path for brute-force top-k: cross-join queries ×
    corpus (queries broadcast), dot product via zip_with + aggregate
    fold over raw double products, cosine rounded once at 6dp — no
    explode, no per-dim rows, no Python workers. (The old per-element
    integer rounding cost 2.8× the column baseline; that fold lives on
    as exactness twin q52a, and 4dp parity with q51 is asserted in
    tests.) Measured crossover note: the interpreted fold costs ~15 µs
    per vector; past ~10⁵ corpus vectors per core the Arrow/numpy
    variant q52b wins despite its ~0.3 s fixed Python-worker cost."""
    return _cosine_topk_arrays(spark, sf_dir, units=False)


@query("q52b_cosine_topk_numpy", oracle=_COSINE_TOPK_FLOAT_ORACLE)
def q52b_cosine_topk_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force top-k at corpus scale: Arrow-batched numpy matmul over
    mapInPandas. The query matrix is bounded (N_QUERIES × 64 — the same
    k×d collect budget as the IVF centroids) and closes over the UDF;
    each corpus Arrow batch computes ALL query dot products as one BLAS
    matmul (batch × Qᵀ), so the per-element cost is SIMD, not an
    interpreted fold — Spark's higher-order functions never enter
    whole-stage codegen. Below ~10⁵ vectors/core the fixed Python-worker
    cost loses to q52's fold; above it this path dominates (the brief's
    vectorized-pandas-UDF ANN baseline)."""
    import numpy as np

    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    qrows = sorted(
        emb.filter(F.col("vec_id") < N_QUERIES).collect(),
        key=lambda r: r["vec_id"],
    )
    qids = np.array([r["vec_id"] for r in qrows], dtype="int64")
    qmat = np.array([r["e"] for r in qrows], dtype="float64")  # (q, d)
    qnorm = np.sqrt((qmat * qmat).sum(axis=1))

    def score(batches):
        import pandas as pd

        for pdf in batches:
            m = np.array(list(pdf["e"]), dtype="float64")  # (n, d)
            ids = pdf["vec_id"].to_numpy(dtype="int64")
            dots = m @ qmat.T  # (n, q) — one BLAS call per Arrow batch
            nrm = np.sqrt((m * m).sum(axis=1))
            cos = dots / (nrm[:, None] * qnorm[None, :])
            n, q = cos.shape
            yield pd.DataFrame(
                {
                    "query_id": np.tile(qids, n),
                    "neighbor_id": np.repeat(ids, q),
                    "raw_cosine": cos.ravel(),
                }
            )

    scored = (
        emb.mapInPandas(
            score, "query_id long, neighbor_id long, raw_cosine double"
        )
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(F.col("raw_cosine"), 6).alias("cosine"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.col("neighbor_id")
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
    )


@query("q52a_cosine_topk_units", oracle=_COSINE_TOPK_ORACLE)
def q52a_cosine_topk_units(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q52's exactness twin: identical plan, but the fold accumulates 9dp
    INTEGER units (cast(round(x*y*1e9) as bigint)), so its total is the
    order-independent sum q51's coordinate plan computes — bit-identical
    cosines, sharing q51's oracle verbatim. Slower per pair; exists to
    prove the array path's arithmetic, not to run at scale."""
    return _cosine_topk_arrays(spark, sf_dir, units=True)


@query(
    "q53_lsh_buckets",
    oracle=f"""
    WITH coords AS (SELECT * FROM {_duck_coords(None)} c),
         planes AS (SELECT unnest(range({N_PLANES})) AS p),
         proj AS (SELECT vec_id, p,
                         {duck_exact_sum(
                             "CASE WHEN substr(md5(p || ':' || dim), 1, 1) >= '8'"
                             " THEN -v ELSE v END", 9)} AS s
                  FROM coords, planes
                  GROUP BY vec_id, p),
         buckets AS (SELECT vec_id,
                            CAST(SUM(CASE WHEN s > 0
                                     THEN CAST(pow(2, p) AS BIGINT)
                                     ELSE 0 END) AS BIGINT) AS bucket
                     FROM proj GROUP BY vec_id)
    SELECT bucket, COUNT(*) AS n_vectors, MIN(vec_id) AS min_vec_id
    FROM buckets GROUP BY bucket
    """,
)
def q53_lsh_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Random-hyperplane LSH bucketing (the ANN scale path): 8 signed
    pseudo-random projections → sign bits → 8-bit bucket id; the bucket
    histogram shows the partitioning an LSH-ANN join would use. Collision
    probability per bit is 1 − θ/π — same-bucket vectors are near in
    angle.

    The sign of plane p at dim d is a CONSTANT (first md5 hex digit of
    "p:d" ≥ '8' → −1), so the P×D sign matrix is built driver-side with
    the same md5 definition and broadcast, pivoted by plane: one hash
    join on dim and ONE groupBy(vec_id) computing all 8 projections —
    no per-row md5, no 8× row explosion. The DuckDB oracle keeps the
    inline-md5 formulation; results are identical by construction."""
    return (
        lsh_bucket_assignment(spark, sf_dir)
        .groupBy("bucket")
        .agg(F.count("*").alias("n_vectors"), F.min("vec_id").alias("min_vec_id"))
    )


def lsh_bucket_assignment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, bucket): the LSH index itself — the precomputed structure
    every ANN probe joins against, shared by q53, q178 and q228 and
    persisted once in bench mode (an ANN index is built once, probed many
    times)."""
    from hive_reflex_spark.io import cached_df

    return cached_df(
        ("lsh_buckets", sf_dir), lambda: _lsh_bucket_assignment_cold(spark, sf_dir)
    )


def _lsh_bucket_assignment_cold(spark: SparkSession, sf_dir: str) -> DataFrame:
    import hashlib

    coords = embedding_coords(spark, sf_dir)
    n_dims = int(
        read_table(spark, sf_dir, "embeddings")
        .select(F.size("embedding").alias("n"))
        .first()["n"]
    )
    sign_rows = [
        tuple(
            [d]
            + [
                -1.0
                if hashlib.md5(f"{p}:{d}".encode()).hexdigest()[0] >= "8"
                else 1.0
                for p in range(N_PLANES)
            ]
        )
        for d in range(n_dims)
    ]
    schema = "dim int, " + ", ".join(f"s{p} double" for p in range(N_PLANES))
    signs = spark.createDataFrame(sign_rows, schema)
    proj = (
        coords.join(F.broadcast(signs), "dim")
        .groupBy("vec_id")
        .agg(
            *[
                exact_sum(F.col("v") * F.col(f"s{p}"), 9).alias(f"proj{p}")
                for p in range(N_PLANES)
            ]
        )
    )
    bucket = sum(
        [
            F.when(F.col(f"proj{p}") > 0, F.lit(1 << p)).otherwise(F.lit(0))
            for p in range(N_PLANES)
        ],
        F.lit(0),
    ).cast("long")
    return proj.select("vec_id", bucket.alias("bucket"))


# ---------------------------------------------------------------------------
# IVF (inverted-file) ANN: coarse quantizer + cluster-restricted search
# ---------------------------------------------------------------------------

N_CENTROIDS_STRIDE = 50  # centroids = vec_id % 50 == 0 (deterministic seed)
N_PROBE = 2


def _coarse_ranked(coords: DataFrame, cid: str = "cid") -> DataFrame:
    """The IVF coarse quantizer: (vec_id, <cid>, dot, rn) — every vector
    of the (vec_id, dim, v) coordinate frame scored against the stride
    seed centroids (vec_id % N_CENTROIDS_STRIDE == 0) by exact_sum dot,
    ranked by (dot desc, cid). rn = 1 is the vector's cluster, rn <= n
    its n nearest. One corpus × centroids coordinate join — centroids
    broadcast, corpus streams; embeddings are ~unit-norm, so max-dot ≡
    max-cosine. ``cid`` names the cluster column (q102b's is ``ccid``,
    beside its PQ code ``cid``)."""
    cents = coords.filter(
        F.col("vec_id") % N_CENTROIDS_STRIDE == 0
    ).select(F.col("vec_id").alias(cid), "dim", F.col("v").alias("cv"))
    w = Window.partitionBy("vec_id").orderBy(F.desc("dot"), cid)
    return (
        coords.join(F.broadcast(cents), "dim")
        .groupBy("vec_id", cid)
        .agg(exact_sum(F.col("v") * F.col("cv"), 9).alias("dot"))
        .withColumn("rn", F.row_number().over(w))
    )


def _duck_coarse_ranked(cid: str = "cid") -> str:
    """DuckDB twin of :func:`_coarse_ranked` over the ``coords``
    (vec_id, dim, v) relation in scope, as a FROM-able subquery:
    (vec_id, <cid>, dot, rn)."""
    return f"""(
        SELECT vec_id, {cid}, dot,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY dot DESC, {cid}) AS rn
        FROM (SELECT x.vec_id, c.{cid},
                     {duck_exact_sum("x.v * c.cv", 9)} AS dot
              FROM coords x
              JOIN (SELECT vec_id AS {cid}, dim, v AS cv FROM coords
                    WHERE vec_id % {N_CENTROIDS_STRIDE} = 0) c USING (dim)
              GROUP BY x.vec_id, c.{cid}))"""


def _probe_candidates(
    coords: DataFrame, n_queries: int, cid: str = "cid"
) -> DataFrame:
    """(<cid>, query_id, vec_id): the IVF probe — each query vector
    (vec_id < n_queries) paired with every other vector assigned to one
    of its N_PROBE nearest clusters. One materialized pass keeps the
    assignment rows plus the queries' probe rows (corpus tier: one row
    per vector), so the corpus-scale scoring window runs once, not once
    per reference; each consumer re-applies its own predicate. The probe
    list is tiny and broadcasts; the assignment streams."""
    is_probe = (F.col("vec_id") < n_queries) & (F.col("rn") <= N_PROBE)
    keep = corpus_checkpoint(
        _coarse_ranked(coords, cid)
        .filter((F.col("rn") == 1) | is_probe)
        .select("vec_id", cid, "rn")
    )
    assign = keep.filter(F.col("rn") == 1).select("vec_id", cid)
    probes = keep.filter(is_probe).select(
        F.col("vec_id").alias("query_id"), cid
    )
    return (
        F.broadcast(probes)
        .join(assign, cid)
        .filter(F.col("query_id") != F.col("vec_id"))
    )


@query(
    "q54a_ivf_assign",
    oracle=f"""
    WITH coords AS (SELECT * FROM {_duck_coords(None)} c),
         assign AS (SELECT vec_id, cid FROM {_duck_coarse_ranked()} r
                    WHERE rn = 1)
    SELECT cid AS centroid_id, COUNT(*) AS n_assigned,
           MIN(vec_id) AS min_vec, MAX(vec_id) AS max_vec
    FROM assign GROUP BY cid
    """,
)
def q54a_ivf_assign(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF coarse quantization (the inverted-file ANN tier next to LSH):
    every vector assigned to its max-dot centroid by the shared coarse
    quantizer (deterministic seed centroids: vec_id multiples of 50);
    the resulting cluster id becomes the partition key for the
    cluster-restricted search q54b."""
    assign = _coarse_ranked(embedding_coords(spark, sf_dir)).filter(
        F.col("rn") == 1
    )
    return assign.groupBy(F.col("cid").alias("centroid_id")).agg(
        F.count("*").alias("n_assigned"),
        F.min("vec_id").alias("min_vec"),
        F.max("vec_id").alias("max_vec"),
    )


@query(
    "q54b_ivf_topk",
    oracle=f"""
    WITH coords AS (SELECT * FROM {_duck_coords(None)} c),
         ranked AS MATERIALIZED {_duck_coarse_ranked()},
         assign AS (SELECT vec_id, cid FROM ranked WHERE rn = 1),
         probes AS (SELECT vec_id AS query_id, cid FROM ranked
                    WHERE vec_id < {N_QUERIES} AND rn <= {N_PROBE}),
         cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
                  FROM probes p JOIN assign a ON p.cid = a.cid
                  WHERE p.query_id != a.vec_id),
         norms AS (SELECT vec_id,
                          sqrt({duck_exact_sum("v * v", 9)}) AS nrm
                   FROM coords GROUP BY vec_id),
         dots AS (SELECT k.query_id, k.neighbor_id,
                         {duck_exact_sum("q.v * c.v", 9)} AS dot
                  FROM cand k
                  JOIN coords q ON q.vec_id = k.query_id
                  JOIN coords c ON c.vec_id = k.neighbor_id
                       AND c.dim = q.dim
                  GROUP BY k.query_id, k.neighbor_id),
         scored AS (SELECT query_id, neighbor_id,
                           ROUND(dot / (nq.nrm * nc.nrm), 6) AS cosine
                    FROM dots
                    JOIN norms nq ON query_id = nq.vec_id
                    JOIN norms nc ON neighbor_id = nc.vec_id)
    SELECT query_id, neighbor_id, cosine, rnk FROM (
        SELECT query_id, neighbor_id, cosine,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY cosine DESC, neighbor_id) AS rnk
        FROM scored)
    WHERE rnk <= {TOP_K}
    """,
)
def q54b_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN search end-to-end, driver-checked — the IVF index's one
    search path: centroid scoring → corpus assignment → per-query
    n_probe cluster probe (:func:`_probe_candidates`) → exact cosine
    rank restricted to probed clusters. The cluster id is the partition
    key, so at 100 TB each query only touches n_probe/n_centroids of the
    corpus. Coordinate/exact_sum formulation for engine-deterministic
    floats; recall against q51's brute force is tested."""
    coords = embedding_coords(spark, sf_dir)
    cand = _probe_candidates(coords, N_QUERIES).select(
        "query_id", F.col("vec_id").alias("neighbor_id")
    )
    # per-vector norms feed both broadcast legs — materialized
    # (corpus tier r13: one row per vector)
    norms = corpus_checkpoint(
        coords.groupBy("vec_id").agg(
            F.sqrt(exact_sum(F.col("v") * F.col("v"), 9)).alias("nrm")
        )
    )
    q = coords.select(F.col("vec_id").alias("query_id"), "dim", F.col("v").alias("qv"))
    c = coords.select(F.col("vec_id").alias("neighbor_id"), "dim", F.col("v").alias("cv2"))
    dots = (
        F.broadcast(cand)
        .join(q, "query_id")
        .join(c, ["neighbor_id", "dim"])
        .groupBy("query_id", "neighbor_id")
        .agg(exact_sum(F.col("qv") * F.col("cv2"), 9).alias("dot"))
    )
    nq = norms.alias("nq")
    nc = norms.alias("nc")
    scored = (
        dots.join(F.broadcast(nq), F.col("query_id") == F.col("nq.vec_id"))
        .join(F.broadcast(nc), F.col("neighbor_id") == F.col("nc.vec_id"))
        .select(
            "query_id",
            "neighbor_id",
            F.round(
                F.col("dot") / (F.col("nq.nrm") * F.col("nc.nrm")), 6
            ).alias("cosine"),
        )
    )
    wr = Window.partitionBy("query_id").orderBy(F.desc("cosine"), "neighbor_id")
    return (
        scored.withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= TOP_K)
    )


# ---------------------------------------------------------------------------
# IVF index BUILD: distributed Lloyd's k-means on the coarse quantizer
# ---------------------------------------------------------------------------

KM_ITERS = 2
_E9 = 1_000_000_000


def kmeans_train(
    spark: SparkSession, coords: DataFrame, *, iters: int = KM_ITERS
) -> tuple[dict, list[dict]]:
    """Distributed Lloyd's k-means over (vec_id, dim, v) coordinates —
    how the q54a/q54b IVF coarse quantizer gets TRAINED rather than
    seeded. Same 100-TB shape as the GD loops (`operators/training.py`):
    the k x d centroid table is the small operand, broadcast to every
    executor each round; the corpus never moves. One iteration = one
    assignment aggregate (argmin L2 per vector) + one mean aggregate
    (k x d numbers back to the driver). Seeds are the stride vectors
    (vec_id % N_CENTROIDS_STRIDE == 0) so init is deterministic.

    Determinism for the oracle boundary: distances 6dp, means 9dp,
    inertia/shift via integer-unit sums (order-independent); argmin ties
    break to the lowest cid.
    """
    from hive_reflex_spark.operators.training import _round_away

    # FIFO-tracked (r13): the per-call corpus persist used to leak one
    # cached RDD per invocation over a long session (VERDICT #6)
    coords = tracked_persist(coords)
    seed = (
        coords.filter(F.col("vec_id") % N_CENTROIDS_STRIDE == 0)
        .select(F.col("vec_id").alias("cid"), "dim", F.col("v").alias("cv"))
        .collect()
    )
    cents = {(r["cid"], r["dim"]): float(r["cv"]) for r in seed}
    history: list[dict] = []
    for it in range(1, iters + 1):
        cdf = spark.createDataFrame(
            [(c, d, v) for (c, d), v in cents.items()],
            "cid long, dim int, cv double",
        )
        d2 = (
            coords.join(F.broadcast(cdf), "dim")
            .groupBy("vec_id", "cid")
            .agg(
                exact_sum(
                    (F.col("v") - F.col("cv")) * (F.col("v") - F.col("cv")), 9
                ).alias("d2r")
            )
            .select("vec_id", "cid", F.round("d2r", 6).alias("d2"))
        )
        wv = Window.partitionBy("vec_id").orderBy(F.col("d2").asc(), F.col("cid").asc())
        assign = (
            d2.withColumn("rn", F.row_number().over(wv))
            .filter(F.col("rn") == 1)
            .select("vec_id", "cid", "d2")
            .persist()
        )
        m = assign.agg(
            exact_sum(F.col("d2"), 9).alias("inertia"),
            F.countDistinct("cid").alias("k_live"),
        ).first()
        max_cluster = (
            assign.groupBy("cid").count().agg(F.max("count")).first()[0]
        )
        means = (
            assign.join(coords, "vec_id")
            .groupBy("cid", "dim")
            .agg(
                F.round(exact_sum(F.col("v"), 9) / F.count("*"), 9).alias("mv")
            )
            .collect()
        )
        assign.unpersist()
        new_cents = dict(cents)  # empty clusters keep their old centroid
        for r in means:
            new_cents[(r["cid"], r["dim"])] = r["mv"]
        shift_units = sum(
            int(_round_away(abs(new_cents[key] - cents[key]) * _E9, 0))
            for key in cents
        )
        history.append(
            {
                "iter": it,
                "inertia": _round_away(m["inertia"], 6),
                "k_live": m["k_live"],
                "max_cluster": max_cluster,
                "centroid_shift": _round_away(shift_units / _E9, 6),
            }
        )
        cents = new_cents
    return cents, history


def _kmeans_oracle() -> str:
    parts = [
        f"coords AS (SELECT vec_id, dim, v FROM {_duck_coords(None)} cx)",
        f"""c0 AS (SELECT vec_id AS cid, dim, v AS cv FROM coords
               WHERE vec_id % {N_CENTROIDS_STRIDE} = 0)""",
    ]
    metric_selects = []
    prev = "c0"
    for k in range(1, KM_ITERS + 1):
        parts.append(
            f"""d{k} AS (SELECT x.vec_id, c.cid,
                ROUND({duck_exact_sum("(x.v - c.cv) * (x.v - c.cv)", 9)}, 6) AS d2
                FROM coords x JOIN {prev} c USING (dim)
                GROUP BY x.vec_id, c.cid)"""
        )
        parts.append(
            f"""a{k} AS (SELECT vec_id, cid, d2 FROM (
                    SELECT vec_id, cid, d2,
                           ROW_NUMBER() OVER (PARTITION BY vec_id
                                              ORDER BY d2, cid) AS rn
                    FROM d{k}) WHERE rn = 1)"""
        )
        parts.append(
            f"""mn{k} AS (SELECT a.cid, x.dim,
                ROUND(({duck_exact_sum("x.v", 9)}) / COUNT(*), 9) AS mv
                FROM a{k} a JOIN coords x USING (vec_id)
                GROUP BY a.cid, x.dim)"""
        )
        parts.append(
            f"""c{k} AS (SELECT o.cid, o.dim, COALESCE(m.mv, o.cv) AS cv
                FROM {prev} o LEFT JOIN mn{k} m
                  ON o.cid = m.cid AND o.dim = m.dim)"""
        )
        parts.append(
            f"""m{k} AS (SELECT {k} AS iter,
                (SELECT ROUND({duck_exact_sum("d2", 9)}, 6) FROM a{k}) AS inertia,
                (SELECT CAST(COUNT(DISTINCT cid) AS BIGINT) FROM a{k}) AS k_live,
                (SELECT CAST(MAX(n) AS BIGINT) FROM
                    (SELECT COUNT(*) AS n FROM a{k} GROUP BY cid) cz) AS max_cluster,
                (SELECT ROUND({duck_exact_sum("ABS(n.cv - o.cv)", 9)}, 6)
                 FROM c{k} n JOIN {prev} o
                   ON n.cid = o.cid AND n.dim = o.dim) AS centroid_shift)"""
        )
        metric_selects.append(f"SELECT * FROM m{k}")
        prev = f"c{k}"
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    "
        + " UNION ALL ".join(metric_selects)
        + " ORDER BY iter"
    )


@query("q88_ivf_kmeans", oracle=_kmeans_oracle())
def q88_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train the IVF coarse quantizer: 2 Lloyd iterations of distributed
    k-means from the deterministic stride seeds. One row per iteration
    (inertia, live clusters, biggest cluster, total centroid movement) —
    inertia falls and the shift shrinks as Lloyd converges. The oracle
    unrolls both iterations as chained CTEs, so the assignment argmin and
    the mean updates are hash-checked end to end."""
    coords = embedding_coords(spark, sf_dir).select("vec_id", "dim", "v")
    _, history = kmeans_train(spark, coords)
    return spark.createDataFrame(
        [
            (
                h["iter"],
                h["inertia"],
                h["k_live"],
                h["max_cluster"],
                h["centroid_shift"],
            )
            for h in history
        ],
        "iter int, inertia double, k_live long, max_cluster long,"
        " centroid_shift double",
    )


# ---------------------------------------------------------------------------
# Embedding compression: per-vector int8 quantization + fidelity report
# ---------------------------------------------------------------------------


@query(
    "q96_embedding_int8",
    oracle=f"""
    WITH coords AS (SELECT * FROM {_duck_coords()} c),
    scaled AS (SELECT vec_id, label, dim, v,
                      MAX(abs(v)) OVER (PARTITION BY vec_id) / 127.0
                          AS scale
               FROM coords),
    rec AS (SELECT vec_id, label, v, scale,
                   CASE WHEN scale = 0 THEN 0
                        ELSE GREATEST(-127, LEAST(127, ROUND(v / scale)))
                   END * scale AS r
            FROM scaled),
    per_vec AS (SELECT vec_id, label,
                       {duck_unit_sum("(v - r) * (v - r)", 9)} AS e2_9,
                       MAX(ROUND(abs(v - r), 9)) AS max_err,
                       COUNT(*) AS d,
                       {duck_unit_sum("v * r", 9)} AS dot_9,
                       {duck_unit_sum("v * v", 9)} AS n2a_9,
                       {duck_unit_sum("r * r", 9)} AS n2b_9
                FROM rec GROUP BY vec_id, label),
    cosv AS (SELECT vec_id, label, e2_9, max_err, d,
                    CAST(ROUND(dot_9 / sqrt(n2a_9 * 1.0)
                               / sqrt(n2b_9 * 1.0) * 1e6) AS BIGINT)
                        AS cos_6
             FROM per_vec)
    SELECT label,
           COUNT(*) AS n_vecs,
           ROUND(SUM(e2_9) / (SUM(d) * 1e9), 9) AS mse,
           MAX(max_err) AS max_abs_err,
           ROUND(SUM(cos_6) / (COUNT(*) * 1e6), 6) AS mean_cosine
    FROM cosv GROUP BY label
    """,
)
def q96_embedding_int8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding compression for ANN serving: symmetric per-vector int8
    quantization (scale = max|v| / 127) and the fidelity metrics that
    decide whether the compressed index is usable — per-label MSE, max
    reconstruction error, and mean cosine(original, reconstructed).
    4 bytes -> 1 byte per dim is the difference between an in-memory and
    a spilling 100 TB vector index.

    Engine-portable numerics: round(v/scale) is IEEE-identical both
    sides (both engines round half away from zero); every per-vector and
    per-label sum runs in integer 1e-9 / 1e-6 units so float summation
    order can never flip the hash. Scale shape: one window keyed by
    vec_id (co-partitioned with the per-vector aggregate that follows),
    then a partial-aggregated rollup to #labels rows — no joins, no
    UDFs."""
    coords = embedding_coords(spark, sf_dir)
    w_vec = Window.partitionBy("vec_id")
    scaled = coords.withColumn(
        "scale", F.max(F.abs("v")).over(w_vec) / 127.0
    )
    rec = scaled.withColumn(
        "r",
        F.when(F.col("scale") == 0, F.lit(0.0)).otherwise(
            F.greatest(
                F.lit(-127.0),
                F.least(F.lit(127.0), F.round(F.col("v") / F.col("scale"))),
            )
        )
        * F.col("scale"),
    )
    e = F.col("v") - F.col("r")
    i9 = lambda c: F.sum(F.round(c * 1e9).cast("long"))  # noqa: E731
    per_vec = rec.groupBy("vec_id", "label").agg(
        i9(e * e).alias("e2_9"),
        F.max(F.round(F.abs(e), 9)).alias("max_err"),
        F.count("*").alias("d"),
        i9(F.col("v") * F.col("r")).alias("dot_9"),
        i9(F.col("v") * F.col("v")).alias("n2a_9"),
        i9(F.col("r") * F.col("r")).alias("n2b_9"),
    )
    cosv = per_vec.withColumn(
        "cos_6",
        F.round(
            F.col("dot_9")
            / F.sqrt(F.col("n2a_9") * 1.0)
            / F.sqrt(F.col("n2b_9") * 1.0)
            * 1e6
        ).cast("long"),
    )
    return cosv.groupBy("label").agg(
        F.count("*").alias("n_vecs"),
        F.round(F.sum("e2_9") / (F.sum("d") * 1e9), 9).alias("mse"),
        F.max("max_err").alias("max_abs_err"),
        F.round(F.sum("cos_6") / (F.count("*") * 1e6), 6).alias(
            "mean_cosine"
        ),
    )


# ---------------------------------------------------------------------------
# Product quantization: subspace codebooks + code assignment (the PQ half
# of IVF-PQ, the standard billion-vector ANN memory layout)
# ---------------------------------------------------------------------------

PQ_SUBDIM = 16  # 64 dims -> 4 subspaces of 16; one byte-sized code each


def _pq_sub(coords: DataFrame) -> DataFrame:
    return coords.withColumn("sub", (F.col("dim") / PQ_SUBDIM).cast("int"))


def _pq_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subspaced coordinate view of the embeddings. Routed through the
    opt-in bench cache (pass-through otherwise) — NOT session-persisted:
    a registered query returns a lazy plan and could never unpersist, so
    an unconditional persist() would leak executor storage for the whole
    driver run and alias cached fragments into later queries' plans."""
    from hive_reflex_spark.io import cached_df

    return cached_df(
        ("pq_coords", sf_dir),
        lambda: _pq_sub(
            embedding_coords(spark, sf_dir).select("vec_id", "dim", "v")
        ),
    )


def _pq_assign(coords: DataFrame, codebook: DataFrame) -> DataFrame:
    """Nearest code per (vector, subspace): broadcast the k x d codebook,
    one distance aggregate + one argmin window — the corpus never
    shuffles on anything but (vec_id, sub)."""
    d2 = (
        coords.join(F.broadcast(codebook), ["sub", "dim"])
        .groupBy("vec_id", "sub", "cid")
        .agg(
            exact_sum(
                (F.col("v") - F.col("cv")) * (F.col("v") - F.col("cv")), 9
            ).alias("d2r")
        )
        .select("vec_id", "sub", "cid", F.round("d2r", 6).alias("d2"))
    )
    w = Window.partitionBy("vec_id", "sub").orderBy(
        F.col("d2").asc(), F.col("cid").asc()
    )
    return (
        d2.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "sub", "cid", "d2")
    )


def _pq_cte_prefix() -> str:
    """Shared CTE chain (coords → seed codebook → Lloyd step → final
    assignment a1 / codebook cb1) for the PQ oracles."""
    stride = N_CENTROIDS_STRIDE
    sq = duck_exact_sum("(x.v - c.cv) * (x.v - c.cv)", 9)
    return f"""
    WITH coords AS (SELECT vec_id, CAST(dim // {PQ_SUBDIM} AS INT) AS sub,
                           dim, v
                    FROM {_duck_coords(None)} cx),
    cb0 AS (SELECT sub, dim, vec_id AS cid, v AS cv FROM coords
            WHERE vec_id % {stride} = 0),
    d0 AS (SELECT x.vec_id, x.sub, c.cid, ROUND({sq}, 6) AS d2
           FROM coords x JOIN cb0 c ON x.sub = c.sub AND x.dim = c.dim
           GROUP BY x.vec_id, x.sub, c.cid),
    a0 AS (SELECT vec_id, sub, cid FROM (
               SELECT vec_id, sub, cid,
                      ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                         ORDER BY d2, cid) AS rn
               FROM d0) WHERE rn = 1),
    mn AS (SELECT a.sub, a.cid, x.dim,
                  ROUND(({duck_exact_sum("x.v", 9)}) / COUNT(*), 9) AS mv
           FROM a0 a JOIN coords x ON a.vec_id = x.vec_id AND a.sub = x.sub
           GROUP BY a.sub, a.cid, x.dim),
    cb1 AS (SELECT s.sub, s.dim, s.cid, COALESCE(m.mv, s.cv) AS cv
            FROM cb0 s LEFT JOIN mn m
              ON s.sub = m.sub AND s.cid = m.cid AND s.dim = m.dim),
    d1 AS (SELECT x.vec_id, x.sub, c.cid, ROUND({sq}, 6) AS d2
           FROM coords x JOIN cb1 c ON x.sub = c.sub AND x.dim = c.dim
           GROUP BY x.vec_id, x.sub, c.cid),
    a1 AS (SELECT vec_id, sub, cid, d2 FROM (
               SELECT vec_id, sub, cid, d2,
                      ROW_NUMBER() OVER (PARTITION BY vec_id, sub
                                         ORDER BY d2, cid) AS rn
               FROM d1) WHERE rn = 1)"""


def _pq_oracle() -> str:
    return _pq_cte_prefix() + f"""
    SELECT sub, cid, CAST(COUNT(*) AS BIGINT) AS n_vectors,
           ROUND(({duck_exact_sum("d2", 9)}) / COUNT(*), 6) AS avg_qerr
    FROM a1 GROUP BY sub, cid
    """


PQ_N_QUERIES = 4  # query vectors for the oracled ADC search


def _pq_adc_oracle() -> str:
    sqq = duck_exact_sum("(q.qv - c.cv) * (q.qv - c.cv)", 9)
    return _pq_cte_prefix() + f""",
    qd AS (SELECT vec_id AS query_id, sub, dim, v AS qv FROM coords
           WHERE vec_id < {PQ_N_QUERIES}),
    dt AS (SELECT q.query_id, c.sub, c.cid, ROUND({sqq}, 6) AS dpart
           FROM qd q JOIN cb1 c ON q.sub = c.sub AND q.dim = c.dim
           GROUP BY q.query_id, c.sub, c.cid),
    ad AS (SELECT d.query_id, a.vec_id AS neighbor_id,
                  {duck_exact_sum("d.dpart", 6)} AS adist
           FROM a1 a JOIN dt d ON a.sub = d.sub AND a.cid = d.cid
           GROUP BY d.query_id, a.vec_id)
    SELECT query_id, neighbor_id, adist, rnk FROM (
        SELECT query_id, neighbor_id, adist,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adist, neighbor_id) AS rnk
        FROM ad WHERE query_id != neighbor_id)
    WHERE rnk <= {TOP_K}
    """


def pq_train(
    spark: SparkSession, coords: DataFrame
) -> tuple[DataFrame, DataFrame, DataFrame]:
    """Train the PQ codebooks (stride seeds + one distributed Lloyd step)
    and assign codes. ``coords`` must carry the ``sub`` column
    (:func:`_pq_sub`). Returns ``(codebook, assignment, seed_assignment)``
    where codebook is (sub, dim, cid, cv) and the assignments are
    (vec_id, sub, cid, d2) — seed_assignment is the pre-refinement pass
    (exposed so tests check Lloyd monotonicity on the SAME plan the
    production path runs; a hand-rebuilt unhinted twin would alias into
    Spark's plan cache and change later queries' physical plans)."""
    seeds = coords.filter(
        F.col("vec_id") % N_CENTROIDS_STRIDE == 0
    ).select(
        "sub", "dim", F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    a0 = _pq_assign(coords, seeds)
    means = (
        a0.join(coords, ["vec_id", "sub"])
        .groupBy("sub", "cid", "dim")
        .agg(
            F.round(exact_sum(F.col("v"), 9) / F.count("*"), 9).alias("mv")
        )
    )
    # means is bounded by k x d rows (post-agg, so no stats — hint it);
    # the codebook update must never sort-merge
    cb1 = seeds.join(F.broadcast(means), ["sub", "cid", "dim"], "left").select(
        "sub", "dim", "cid", F.coalesce("mv", "cv").alias("cv")
    )
    # the k x d codebook is referenced by every caller TWICE (distance
    # table + assignment), each reference re-running the corpus-scale
    # Lloyd mean aggregate — materialized (r12, guide §3.3/§5)
    cb1 = maybe_local_checkpoint(cb1)
    return cb1, _pq_assign(coords, cb1), a0


@query("q102_pq_encode", oracle=_pq_oracle())
def q102_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: split 64-dim embeddings into 4 subspaces of
    16, refine stride-seeded codebooks with one distributed Lloyd step
    per subspace, assign every vector its nearest code per subspace, and
    report per-(subspace, code) occupancy + mean quantization error.

    4 codes/vector ≈ 4 bytes vs 64 float bytes (16x compression, vs q96's
    8x int8 scalar path) — the memory layout that lets IVF-PQ hold
    billion-vector indexes in RAM. All 4 subspaces train and assign in
    the SAME jobs (subspace is a grouping key, not a driver loop): the
    codebook is the broadcast small operand, the corpus shuffles only on
    (vec_id, sub) — the q88/training.py 100-TB shape. Oracle unrolls
    seed-assign → mean-update → re-assign as chained CTEs; every argmin
    and centroid mean is hash-checked."""
    coords = _pq_coords(spark, sf_dir)
    _, a1, _ = pq_train(spark, coords)
    return a1.groupBy("sub", "cid").agg(
        F.count("*").alias("n_vectors"),
        F.round(exact_sum(F.col("d2"), 9) / F.count("*"), 6).alias(
            "avg_qerr"
        ),
    )


def pq_topk(
    spark: SparkSession,
    sf_dir: str,
    query_ids: list[int],
    k: int = TOP_K,
    cand: DataFrame | None = None,
) -> DataFrame:
    """PQ search by Asymmetric Distance Computation (ADC): the query
    scores each codebook entry ONCE (a k x M distance table, M=4
    subspaces), then every corpus vector's approximate L2 distance is
    just the sum of M table lookups over its stored codes — the original
    vectors are never touched at scoring time. Both aggregations are
    rounded integer-unit sums (order-independent), so the results cross
    the DuckDB oracle boundary (q102a; q102b with ``cand``).

    Scale shape: the distance table (n_queries x k x M rows) broadcasts;
    the codes table (n x M rows, ~4 bytes/vector of true payload) is the
    only big operand and it streams through one hash join + one
    aggregation. At 100 TB this composes with IVF (q102b) — probe
    clusters first, ADC-score only the probed partitions. Recall vs
    exact L2 is measured in pytest (approximation governed by codebook
    size)."""
    coords = _pq_coords(spark, sf_dir)
    codebook, assignment, _ = pq_train(spark, coords)
    codes = assignment.select("vec_id", "sub", "cid")
    q = coords.filter(F.col("vec_id").isin(query_ids)).select(
        F.col("vec_id").alias("query_id"), "sub", "dim",
        F.col("v").alias("qv"),
    )
    sq = (F.col("qv") - F.col("cv")) * (F.col("qv") - F.col("cv"))
    dtab = (
        q.join(F.broadcast(codebook), ["sub", "dim"])
        .groupBy("query_id", "sub", "cid")
        .agg(F.round(exact_sum(sq, 9), 6).alias("dpart"))
    )
    wr = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id")
    )
    if cand is not None:
        # IVF restriction: score only (query, vector) pairs whose coarse
        # cluster is probed. cand scales with the corpus, so it joins as
        # a plain hash join on vec_id; only dtab broadcasts.
        base = codes.join(cand, "vec_id").join(
            F.broadcast(dtab), ["query_id", "sub", "cid"]
        )
    else:
        base = codes.join(F.broadcast(dtab), ["sub", "cid"])
    return (
        base.groupBy("query_id", F.col("vec_id").alias("neighbor_id"))
        .agg(exact_sum(F.col("dpart"), 6).alias("adist"))
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("rnk", F.row_number().over(wr).cast("long"))
        .filter(F.col("rnk") <= k)
    )


@query("q102a_pq_adc_topk", oracle=_pq_adc_oracle())
def q102a_pq_adc_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked ADC search: :func:`pq_topk` for the first 4
    vectors as queries — distance table from the trained codebooks,
    approximate L2 as the order-independent integer-unit sum
    of 4 code lookups, ranked top-5 per query. The oracle extends the
    q102 CTE chain with the distance table and the lookup aggregation,
    so the entire IVF-PQ scoring path (train -> encode -> ADC rank) is
    hash-checked end to end."""
    return pq_topk(spark, sf_dir, list(range(PQ_N_QUERIES)), k=TOP_K)


def _ivfpq_oracle() -> str:
    """q54b's pinned dot-based coarse probing composed with q102a's ADC
    chain, restricted to probed candidates — the full IVF-PQ pipeline as
    one CTE graph."""
    sqq = duck_exact_sum("(q.qv - c.cv) * (q.qv - c.cv)", 9)
    return _pq_cte_prefix() + f""",
    cranked AS MATERIALIZED {_duck_coarse_ranked("ccid")},
    cassign AS (SELECT vec_id, ccid FROM cranked WHERE rn = 1),
    probes AS (SELECT vec_id AS query_id, ccid FROM cranked
               WHERE vec_id < {PQ_N_QUERIES} AND rn <= {N_PROBE}),
    cand AS (SELECT p.query_id, a.vec_id AS neighbor_id
             FROM probes p JOIN cassign a ON p.ccid = a.ccid
             WHERE p.query_id != a.vec_id),
    qd AS (SELECT vec_id AS query_id, sub, dim, v AS qv FROM coords
           WHERE vec_id < {PQ_N_QUERIES}),
    dt AS (SELECT q.query_id, c.sub, c.cid, ROUND({sqq}, 6) AS dpart
           FROM qd q JOIN cb1 c ON q.sub = c.sub AND q.dim = c.dim
           GROUP BY q.query_id, c.sub, c.cid),
    ad AS (SELECT k.query_id, k.neighbor_id,
                  {duck_exact_sum("d.dpart", 6)} AS adist
           FROM cand k
           JOIN a1 a ON a.vec_id = k.neighbor_id
           JOIN dt d ON d.query_id = k.query_id AND d.sub = a.sub
                AND d.cid = a.cid
           GROUP BY k.query_id, k.neighbor_id)
    SELECT query_id, neighbor_id, adist, rnk FROM (
        SELECT query_id, neighbor_id, adist,
               ROW_NUMBER() OVER (PARTITION BY query_id
                                  ORDER BY adist, neighbor_id) AS rnk
        FROM ad)
    WHERE rnk <= {TOP_K}
    """


@query("q102b_ivfpq_topk", oracle=_ivfpq_oracle())
def q102b_ivfpq_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Driver-checked IVF-PQ: coarse probing (the q54b probe,
    :func:`_probe_candidates`) restricts each query to N_PROBE clusters,
    then the q102a ADC scores ONLY the restricted candidates from their
    PQ codes. Every stage of the production billion-vector composition —
    coarse train/assign/probe, PQ train/encode, distance table,
    candidate-restricted ranking — hash-checks against one CTE graph."""
    cand = _probe_candidates(
        _pq_coords(spark, sf_dir), PQ_N_QUERIES, cid="ccid"
    ).select("query_id", "vec_id")
    return pq_topk(
        spark, sf_dir, list(range(PQ_N_QUERIES)), k=TOP_K, cand=cand
    )


@query(
    "q106_diversity_sample",
    oracle=f"""
    WITH coords AS (SELECT * FROM {_duck_coords(None)} c),
         assign AS (SELECT vec_id, cid, dot FROM {_duck_coarse_ranked()} r
                    WHERE rn = 1),
         sized AS (SELECT vec_id, cid, dot,
                          ROW_NUMBER() OVER (PARTITION BY cid
                                             ORDER BY dot DESC, vec_id) AS rnk,
                          COUNT(*) OVER (PARTITION BY cid) AS n_members
                   FROM assign)
    SELECT cid AS centroid_id, vec_id, CAST(rnk AS BIGINT) AS rnk,
           CAST(n_members AS BIGINT) AS n_members
    FROM sized
    WHERE rnk <= CAST(ceil(sqrt(n_members)) AS BIGINT)
    """,
)
def q106_diversity_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-based diversity subsampling (the SemDeDup-style curation
    step): assign every embedding to its coarse cluster, then keep only
    ceil(sqrt(cluster_size)) prototypes per cluster (highest centroid
    affinity first, deterministic tie-break) — over-represented regions
    of embedding space are downsampled hardest while small clusters
    survive whole.

    q54a's assignment (the shared coarse quantizer) plus ONE window
    over the cluster partitioning — the keep decision never leaves the
    cluster's partition, so the sample scales with the corpus, not with
    pairwise comparisons."""
    assign = (
        _coarse_ranked(embedding_coords(spark, sf_dir))
        .filter(F.col("rn") == 1)
        .select("vec_id", "cid", "dot")
    )
    wc = Window.partitionBy("cid").orderBy(F.desc("dot"), "vec_id")
    wn = Window.partitionBy("cid")
    sized = assign.select(
        "vec_id", "cid", "dot",
        F.row_number().over(wc).alias("rnk"),
        F.count("*").over(wn).alias("n_members"),
    )
    return sized.filter(
        F.col("rnk") <= F.ceil(F.sqrt(F.col("n_members"))).cast("long")
    ).select(
        F.col("cid").alias("centroid_id"),
        "vec_id",
        F.col("rnk").cast("long").alias("rnk"),
        F.col("n_members").cast("long").alias("n_members"),
    )


# ---------------------------------------------------------------------------
# Embedding distribution drift monitor
# ---------------------------------------------------------------------------


@query(
    "q117_embedding_drift",
    oracle=f"""
    WITH coords AS (SELECT * FROM {_duck_coords(None)} c),
         cent AS (SELECT label, vec_id % 2 AS half, dim,
                         CAST(COUNT(DISTINCT vec_id) AS BIGINT) AS n,
                         {duck_exact_sum("v", 9)}
                             / COUNT(DISTINCT vec_id) AS c
                  FROM coords GROUP BY label, half, dim),
         paired AS (SELECT a.label, a.dim,
                           a.n AS n_ref, b.n AS n_cand,
                           a.c AS ca, b.c AS cb
                    FROM cent a JOIN cent b
                      ON a.label = b.label AND a.dim = b.dim
                     AND a.half = 0 AND b.half = 1),
         sums AS (SELECT label, MIN(n_ref) AS n_ref, MIN(n_cand) AS n_cand,
                         {duck_exact_sum("ca * cb", 9)} AS dot,
                         {duck_exact_sum("ca * ca", 9)} AS na,
                         {duck_exact_sum("cb * cb", 9)} AS nb,
                         {duck_exact_sum("(ca - cb) * (ca - cb)", 9)} AS sq
                  FROM paired GROUP BY label)
    SELECT label, n_ref, n_cand,
           ROUND(sqrt(sq), 6) AS l2_drift,
           ROUND(dot / (sqrt(na) * sqrt(nb)), 6) AS centroid_cosine
    FROM sums
    """,
)
def q117_embedding_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding distribution-shift monitor: split the corpus into a
    reference half and a candidate half (vec_id parity — in production,
    yesterday's batch vs today's), compute per-label centroids for each
    half, and report the L2 drift and cosine between the paired
    centroids. The drift gate a pipeline checks before trusting a new
    embedding batch (encoder regression, upstream distribution shift).

    Scale: one grouped aggregate reduces 100 TB of coordinates to
    labels x 2 x dims rows; everything after operates on that bounded
    table. Centroid sums accumulate 9dp integer units, and the centroid
    products re-freeze to 9dp before the dim-sum, so both engines hash
    identically."""
    coords = embedding_coords(spark, sf_dir)
    UNIT = 1_000_000_000
    cent = (
        coords.withColumn("half", (F.col("vec_id") % 2).cast("long"))
        .groupBy("label", "half", "dim")
        .agg(
            F.countDistinct("vec_id").alias("n"),
            (
                F.sum(F.round(F.col("v") * UNIT).cast("long")) / float(UNIT)
                / F.countDistinct("vec_id")
            ).alias("c"),
        )
    )
    a = cent.filter(F.col("half") == 0).select(
        "label", "dim", F.col("n").alias("n_ref"), F.col("c").alias("ca")
    )
    b = cent.filter(F.col("half") == 1).select(
        "label", "dim", F.col("n").alias("n_cand"), F.col("c").alias("cb")
    )
    paired = a.join(b, ["label", "dim"])
    i9 = lambda col: F.round(col * UNIT).cast("long")  # noqa: E731
    sums = paired.groupBy("label").agg(
        F.min("n_ref").alias("n_ref"),
        F.min("n_cand").alias("n_cand"),
        (F.sum(i9(F.col("ca") * F.col("cb"))) / float(UNIT)).alias("dot"),
        (F.sum(i9(F.col("ca") * F.col("ca"))) / float(UNIT)).alias("na"),
        (F.sum(i9(F.col("cb") * F.col("cb"))) / float(UNIT)).alias("nb"),
        (
            F.sum(i9((F.col("ca") - F.col("cb")) * (F.col("ca") - F.col("cb"))))
            / float(UNIT)
        ).alias("sq"),
    )
    return sums.select(
        "label",
        "n_ref",
        "n_cand",
        F.round(F.sqrt("sq"), 6).alias("l2_drift"),
        F.round(
            F.col("dot") / (F.sqrt("na") * F.sqrt("nb")), 6
        ).alias("centroid_cosine"),
    )

_BUCKETS_SQL = f"""(
    SELECT vec_id,
           CAST(SUM(CASE WHEN s > 0 THEN CAST(pow(2, p) AS BIGINT)
                    ELSE 0 END) AS BIGINT) AS bucket
    FROM (SELECT vec_id, p,
                 {duck_exact_sum(
                     "CASE WHEN substr(md5(p || ':' || dim), 1, 1) >= '8'"
                     " THEN -v ELSE v END", 9)} AS s
          FROM {_duck_coords(None)} c,
               (SELECT unnest(range({N_PLANES})) AS p) planes
          GROUP BY vec_id, p)
    GROUP BY vec_id)"""


@query(
    "q178_multiprobe_lsh",
    oracle=f"""
    WITH buckets AS (SELECT * FROM {_BUCKETS_SQL} b),
    q AS (SELECT vec_id AS query_id, bucket FROM buckets
          WHERE vec_id < {N_QUERIES}),
    probes AS (
        SELECT query_id, q.bucket AS own_bucket,
               CASE WHEN p = -1 THEN q.bucket
                    ELSE q.bucket
                         + (1 - 2 * ((q.bucket >> p) & 1))
                           * CAST(pow(2, p) AS BIGINT) END AS probe_bucket
        FROM q, (SELECT unnest(range(-1, {N_PLANES})) AS p) ps),
    cand AS (
        SELECT pr.query_id, pr.own_bucket, pr.probe_bucket, b.vec_id
        FROM probes pr JOIN buckets b ON b.bucket = pr.probe_bucket
        WHERE b.vec_id != pr.query_id)
    SELECT query_id,
           CAST(SUM(CASE WHEN probe_bucket = own_bucket
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_single_probe,
           COUNT(*) AS n_multi_probe,
           CAST(COUNT(DISTINCT probe_bucket) AS BIGINT)
               AS n_nonempty_buckets
    FROM cand GROUP BY query_id
    """,
)
def q178_multiprobe_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-probe LSH (Lv et al. 2007): each query probes its own
    hyperplane bucket PLUS the 8 one-bit-flip neighbors — the standard
    recall lever that multiplies candidates ~(1+bits)× without touching
    index size (the alternative, more tables, multiplies memory). The
    report compares single-probe vs multi-probe candidate counts per
    query. Probe set is queries×9 rows (broadcast); the corpus index is
    probed by ONE equi-join on bucket — the flip arithmetic is plain
    shift/mask shared verbatim with the oracle."""
    buckets = lsh_bucket_assignment(spark, sf_dir)
    q = buckets.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("bucket").alias("own_bucket")
    )
    ps = buckets.sparkSession.range(-1, N_PLANES).select(
        F.col("id").cast("int").alias("p")
    )
    flip = F.expr(
        "own_bucket + (1 - 2 * (shiftright(own_bucket, p) & 1)) "
        "* cast(pow(2, p) as bigint)"
    )
    probes = (
        q.join(F.broadcast(ps))
        .select(
            "query_id",
            "own_bucket",
            F.when(F.col("p") == -1, F.col("own_bucket"))
            .otherwise(flip)
            .alias("probe_bucket"),
        )
    )
    cand = (
        F.broadcast(probes)
        .join(
            buckets.withColumnRenamed("bucket", "probe_bucket"),
            "probe_bucket",
        )
        .filter(F.col("vec_id") != F.col("query_id"))
    )
    return cand.groupBy("query_id").agg(
        F.sum(
            F.when(F.col("probe_bucket") == F.col("own_bucket"), 1).otherwise(0)
        )
        .cast("long")
        .alias("n_single_probe"),
        F.count("*").alias("n_multi_probe"),
        F.countDistinct("probe_bucket").alias("n_nonempty_buckets"),
    )

@query(
    "q201_fisher_separability",
    oracle=f"""
    WITH coords AS (SELECT * FROM {_duck_coords(None)} c),
    per AS (SELECT label, dim, CAST(COUNT(*) AS BIGINT) AS n,
                   {duck_unit_sum("v", 6)}
                       AS s,
                   CAST(SUM(CAST(ROUND(v * 1000) AS BIGINT)
                        * CAST(ROUND(v * 1000) AS BIGINT)) AS BIGINT)
                       AS ss
            FROM coords GROUP BY label, dim),
    tot AS (SELECT dim, CAST(SUM(n) AS BIGINT) AS nt,
                   CAST(SUM(s) AS BIGINT) AS st
            FROM per GROUP BY dim),
    parts AS (
        SELECT p.dim,
               SUM(p.n * ((p.s * 1.0 / p.n / 1e6) - (t.st * 1.0 / t.nt / 1e6))
                       * ((p.s * 1.0 / p.n / 1e6)
                          - (t.st * 1.0 / t.nt / 1e6))) AS between_ss,
               SUM((p.ss * 1.0 / 1e6) - p.n * (p.s * 1.0 / p.n / 1e6)
                       * (p.s * 1.0 / p.n / 1e6)) AS within_ss
        FROM per p JOIN tot t USING (dim) GROUP BY p.dim)
    SELECT CAST(dim AS INT) AS dim,
           ROUND(between_ss, 6) AS between_ss,
           ROUND(within_ss, 6) AS within_ss,
           ROUND(between_ss / within_ss, 6) AS fisher_ratio
    FROM parts
    """,
)
def q201_fisher_separability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-space class separability per dimension: the Fisher
    ratio between-class-scatter / within-class-scatter — the embedding
    QA that says whether the labels are linearly separable at all (a
    ratio near 0 everywhere means the encoder ignored the labels) and
    WHICH dimensions carry the signal. All scatter comes from exact
    integer moment sums per (label, dim) — |labels|×|dims| bounded rows
    — so the ratios hash-match; the corpus is touched by one grouped
    aggregate."""
    coords = embedding_coords(spark, sf_dir)
    # unit scales sized for 64-bit headroom at corpus scale: means in
    # 1e-6 units (|u| <= ~1e8 -> 1e12-row groups fit), squares in 1e-3
    # units (u3^2 <= ~1e8 -> 9e10-row groups fit); a 1e-9-unit square
    # overflows int64 silently past ~10 rows per group (observed at sf1)
    u = F.round(F.col("v") * 1_000_000).cast("long")
    u3 = F.round(F.col("v") * 1_000).cast("long")
    per = coords.groupBy("label", "dim").agg(
        F.count("*").alias("n"),
        F.sum(u).cast("long").alias("s"),
        F.sum(u3 * u3).cast("long").alias("ss"),
    )
    tot = per.groupBy("dim").agg(
        F.sum("n").cast("long").alias("nt"),
        F.sum("s").cast("long").alias("st"),
    )
    pmean = F.col("s") * 1.0 / F.col("n") / 1e6
    gmean = F.col("st") * 1.0 / F.col("nt") / 1e6
    parts = (
        per.join(tot, "dim")
        .groupBy("dim")
        .agg(
            F.sum(F.col("n") * (pmean - gmean) * (pmean - gmean)).alias(
                "between_ss"
            ),
            F.sum(
                (F.col("ss") * 1.0 / 1e6) - F.col("n") * pmean * pmean
            ).alias("within_ss"),
        )
    )
    return parts.select(
        F.col("dim").cast("int").alias("dim"),
        F.round("between_ss", 6).alias("between_ss"),
        F.round("within_ss", 6).alias("within_ss"),
        F.round(F.col("between_ss") / F.col("within_ss"), 6).alias(
            "fisher_ratio"
        ),
    )


# ---------------------------------------------------------------------------
# ANN recall audit — exact top-k vs LSH candidate generation
# ---------------------------------------------------------------------------


def _ann_recall_oracle() -> str:
    # everything up to (excluding) the oracle's final top-level SELECT —
    # i.e. the coords/norms/dots/scored CTE chain, reused verbatim
    cut = _COSINE_TOPK_ORACLE.index(
        "SELECT query_id, neighbor_id, cosine, rnk FROM ("
    )
    exact_cte = _COSINE_TOPK_ORACLE[:cut].strip()
    return f"""
    {exact_cte},
    exact AS (
        SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id)
                       AS rnk
            FROM scored)
        WHERE rnk <= {TOP_K}),
    buckets AS (SELECT * FROM {_BUCKETS_SQL} b),
    q AS (SELECT vec_id AS query_id, bucket FROM buckets
          WHERE vec_id < {N_QUERIES}),
    probes AS (
        SELECT query_id, q.bucket AS own_bucket,
               CASE WHEN p = -1 THEN q.bucket
                    ELSE q.bucket
                         + (1 - 2 * ((q.bucket >> p) & 1))
                           * CAST(pow(2, p) AS BIGINT) END AS probe_bucket
        FROM q, (SELECT unnest(range(-1, {N_PLANES})) AS p) ps),
    cand AS (
        SELECT pr.query_id, b.vec_id,
               MAX(CASE WHEN pr.probe_bucket = pr.own_bucket
                   THEN 1 ELSE 0 END) AS in_single
        FROM probes pr JOIN buckets b ON b.bucket = pr.probe_bucket
        WHERE b.vec_id != pr.query_id
        GROUP BY pr.query_id, b.vec_id),
    counts AS (
        SELECT query_id,
               CAST(SUM(in_single) AS BIGINT) AS n_single_cand,
               CAST(COUNT(*) AS BIGINT) AS n_multi_cand
        FROM cand GROUP BY query_id),
    hits AS (
        SELECT e.query_id,
               CAST(SUM(COALESCE(c.in_single, 0)) AS BIGINT) AS hits_single,
               CAST(COUNT(c.vec_id) AS BIGINT) AS hits_multi
        FROM exact e LEFT JOIN cand c
          ON e.query_id = c.query_id AND e.neighbor_id = c.vec_id
        GROUP BY e.query_id)
    SELECT q.query_id,
           COALESCE(n_single_cand, 0) AS n_single_cand,
           COALESCE(n_multi_cand, 0) AS n_multi_cand,
           COALESCE(hits_single, 0) AS hits_single,
           COALESCE(hits_multi, 0) AS hits_multi,
           ROUND(COALESCE(hits_single, 0) * 1.0 / {TOP_K}, 6)
               AS recall_single,
           ROUND(COALESCE(hits_multi, 0) * 1.0 / {TOP_K}, 6)
               AS recall_multi
    FROM q
    LEFT JOIN counts USING (query_id)
    LEFT JOIN hits USING (query_id)
    """


@query("q228_ann_recall", oracle=_ann_recall_oracle())
def q228_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN QUALITY audit: candidate-generation recall@{TOP_K} of the LSH
    index against the exact brute-force top-{TOP_K} (q51), for both
    single-probe (own bucket only) and multi-probe (q178's one-bit
    flips). Candidate recall is THE number an ANN deployment tunes —
    if the true neighbor reaches the candidate set, exact re-ranking
    recovers it; if not, no amount of re-ranking helps — and the
    single→multi delta prices the 9× probe cost against its recall
    gain, per query, before anyone ships an index.

    Scale: the exact side is the fenced q51 baseline (8 probes ×
    corpus, linear); the LSH side joins the probe set against the
    bucket index exactly as production would. Everything downstream of
    the two candidate tables is per-query arithmetic on ≤ {TOP_K}
    rows."""
    exact = q51_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    # the (vec_id, bucket) index is referenced three times (query rows,
    # probe expansion, candidate join) — materialized so the corpus-
    # scale hashing runs once on cold paths (bench mode already persists
    # it; r12, guide §3.3/§5)
    buckets = corpus_checkpoint(lsh_bucket_assignment(spark, sf_dir))
    q = buckets.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("bucket").alias("own_bucket")
    )
    ps = buckets.sparkSession.range(-1, N_PLANES).select(
        F.col("id").cast("int").alias("p")
    )
    flip = F.expr(
        "own_bucket + (1 - 2 * (shiftright(own_bucket, p) & 1)) "
        "* cast(pow(2, p) as bigint)"
    )
    probes = q.join(F.broadcast(ps)).select(
        "query_id",
        "own_bucket",
        F.when(F.col("p") == -1, F.col("own_bucket"))
        .otherwise(flip)
        .alias("probe_bucket"),
    )
    cand = (
        F.broadcast(probes)
        .join(
            buckets.withColumnRenamed("bucket", "probe_bucket"),
            "probe_bucket",
        )
        .filter(F.col("vec_id") != F.col("query_id"))
        .groupBy("query_id", "vec_id")
        .agg(
            F.max(
                (F.col("probe_bucket") == F.col("own_bucket")).cast("int")
            ).alias("in_single")
        )
    )
    # candidate table (queries x probed-bucket members), referenced by
    # counts AND hits — materialized; corpus tier (r13): bucket
    # membership grows with the corpus
    cand = corpus_checkpoint(cand)
    counts = cand.groupBy("query_id").agg(
        F.sum("in_single").cast("long").alias("n_single_cand"),
        F.count("*").alias("n_multi_cand"),
    )
    e = exact.alias("e")
    c = cand.alias("c")
    hits = (
        e.join(
            c,
            (F.col("e.query_id") == F.col("c.query_id"))
            & (F.col("e.neighbor_id") == F.col("c.vec_id")),
            "left",
        )
        .groupBy(F.col("e.query_id").alias("query_id"))
        .agg(
            F.sum(F.coalesce(F.col("c.in_single"), F.lit(0)))
            .cast("long")
            .alias("hits_single"),
            F.count(F.col("c.vec_id")).alias("hits_multi"),
        )
    )
    return (
        q.select("query_id")
        .join(counts, "query_id", "left")
        .join(hits, "query_id", "left")
        .select(
            "query_id",
            F.coalesce("n_single_cand", F.lit(0)).alias("n_single_cand"),
            F.coalesce("n_multi_cand", F.lit(0)).alias("n_multi_cand"),
            F.coalesce("hits_single", F.lit(0)).alias("hits_single"),
            F.coalesce("hits_multi", F.lit(0)).alias("hits_multi"),
            F.round(
                F.coalesce("hits_single", F.lit(0)) * 1.0 / TOP_K, 6
            ).alias("recall_single"),
            F.round(
                F.coalesce("hits_multi", F.lit(0)) * 1.0 / TOP_K, 6
            ).alias("recall_multi"),
        )
    )


# ---------------------------------------------------------------------------
# Johnson-Lindenstrauss random projection + distortion audit
# ---------------------------------------------------------------------------

JL_DIMS = 16  # target dimensionality (64 -> 16; scale 1/sqrt(16) = exact 0.25)
JL_PAIR_CAP = 128  # distortion audit fence: pairs among the first 128 vectors

# sign(j, d) = -1 iff first md5 hex digit of "jl{j}:{d}" >= '8' — the same
# engine-portable pseudo-random sign convention as q53's hyperplanes


@query(
    "q276_jl_projection",
    oracle=f"""
    WITH coords AS (SELECT * FROM {_duck_coords(JL_PAIR_CAP)} c),
         proj AS (SELECT vec_id, j,
                         0.25 * ({duck_exact_sum("v * s", 9)}) AS y
                  FROM (SELECT vec_id, dim, v, j,
                               CASE WHEN substr(md5('jl' || CAST(j AS VARCHAR)
                                        || ':' || CAST(dim AS VARCHAR)), 1, 1)
                                         >= '8'
                                    THEN -1.0 ELSE 1.0 END AS s
                        FROM coords,
                             (SELECT unnest(range({JL_DIMS})) AS j) js)
                  GROUP BY vec_id, j),
         od AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                       {duck_exact_sum("(a.v - b.v) * (a.v - b.v)", 9)} AS d2
                FROM coords a JOIN coords b
                  ON a.dim = b.dim AND a.vec_id < b.vec_id
                GROUP BY a.vec_id, b.vec_id),
         pd AS (SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
                       {duck_exact_sum("(a.y - b.y) * (a.y - b.y)", 9)} AS d2
                FROM proj a JOIN proj b
                  ON a.j = b.j AND a.vec_id < b.vec_id
                GROUP BY a.vec_id, b.vec_id),
         ratios AS (SELECT pd.d2 / od.d2 AS r
                    FROM od JOIN pd ON od.vec_a = pd.vec_a
                                   AND od.vec_b = pd.vec_b
                    WHERE od.d2 > 0)
    SELECT LEAST(CAST(floor(r * 4) AS BIGINT), CAST(7 AS BIGINT)) AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_pairs,
           {duck_exact_sum("r", 6)} / COUNT(*) AS mean_ratio_raw,
           ROUND({duck_exact_sum("r", 6)} / COUNT(*), 6) AS mean_ratio
    FROM ratios GROUP BY 1
    """,
)
def q276_jl_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection (64 -> {JL_DIMS} dims)
    with a measured distance-distortion audit — the dimensionality-
    reduction tier in front of ANN indexing (project once, index and
    probe in the cheap space): y_j = (1/sqrt(k)) * sum_d v_d * s_jd with
    the q53 sign convention (md5-derived ±1, engine-portable model
    constants; 1/sqrt(16) = 0.25 is binary-exact). The audit computes
    ||proj(a)-proj(b)||² / ||a-b||² for every pair among the first
    {JL_PAIR_CAP} vectors (the q51a-style fence — the audit is
    quadratic BY DEFINITION and runs on a sample; the projection itself
    is linear scan-side work) and histograms the ratio in 0.25-wide
    buckets: JL says it concentrates around 1 with var ~ 2/k.

    Exactness: projections and both squared distances are integer-unit
    sums of engine-identical doubles; ratio means freeze to 1e-6 units
    before averaging.

    Scale: the projection is one broadcast (dims × {JL_DIMS} signs)
    hash join + grouped exact sums — embarrassingly parallel, and the
    16-dim output is what a 100 TB ANN build would then bucket (q53) or
    coarse-quantize (q54a/q88); mean_ratio_raw rides unrounded for the
    driver's 9dp canonicalization, mean_ratio is the 6dp report.

    Reference anchor: the reference's PCA-free projection probes in
    `analysis/embedding_probe.py` (SURVEY J7 commentary) — same shape,
    with the distortion audit made a first-class report."""
    import hashlib

    coords = embedding_coords(spark, sf_dir, max_vec=JL_PAIR_CAP).select(
        "vec_id", "dim", "v"
    )
    n_dims = int(
        read_table(spark, sf_dir, "embeddings")
        .select(F.size("embedding").alias("n"))
        .first()["n"]
    )
    sign_rows = [
        tuple(
            [d]
            + [
                -1.0
                if hashlib.md5(f"jl{j}:{d}".encode()).hexdigest()[0] >= "8"
                else 1.0
                for j in range(JL_DIMS)
            ]
        )
        for d in range(n_dims)
    ]
    schema = "dim int, " + ", ".join(f"s{j} double" for j in range(JL_DIMS))
    signs = spark.createDataFrame(sign_rows, schema)
    proj_wide = (
        coords.join(F.broadcast(signs), "dim")
        .groupBy("vec_id")
        .agg(
            *[
                (exact_sum(F.col("v") * F.col(f"s{j}"), 9) * 0.25).alias(
                    f"y{j}"
                )
                for j in range(JL_DIMS)
            ]
        )
    )
    proj = proj_wide.select(
        "vec_id",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(j).alias("j"), F.col(f"y{j}").alias("y")
                    )
                    for j in range(JL_DIMS)
                ]
            )
        ).alias("p"),
    ).select("vec_id", F.col("p.j").alias("j"), F.col("p.y").alias("y"))
    a, b = coords.alias("a"), coords.alias("b")
    od = (
        a.join(
            b,
            (F.col("a.dim") == F.col("b.dim"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .groupBy(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .agg(
            exact_sum(
                (F.col("a.v") - F.col("b.v")) * (F.col("a.v") - F.col("b.v")),
                9,
            ).alias("d2")
        )
    )
    pa, pb = proj.alias("pa"), proj.alias("pb")
    pd_ = (
        pa.join(
            pb,
            (F.col("pa.j") == F.col("pb.j"))
            & (F.col("pa.vec_id") < F.col("pb.vec_id")),
        )
        .groupBy(
            F.col("pa.vec_id").alias("vec_a"),
            F.col("pb.vec_id").alias("vec_b"),
        )
        .agg(
            exact_sum(
                (F.col("pa.y") - F.col("pb.y"))
                * (F.col("pa.y") - F.col("pb.y")),
                9,
            ).alias("pd2")
        )
    )
    ratios = (
        od.join(pd_, ["vec_a", "vec_b"])
        .filter(F.col("d2") > 0)
        .select((F.col("pd2") / F.col("d2")).alias("r"))
    )
    mean_units = F.sum(F.round(F.col("r") * 1e6).cast("long")).cast("long")
    return (
        ratios.groupBy(
            F.least(F.floor(F.col("r") * 4), F.lit(7))
            .cast("long")
            .alias("bucket")
        )
        .agg(
            F.count("*").alias("n_pairs"),
            (mean_units / 1e6 / F.count("*")).alias("mean_ratio_raw"),
            F.round(mean_units / 1e6 / F.count("*"), 6).alias("mean_ratio"),
        )
    )


def ivf_own_arrays(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, own, a, b): every vector's max-dot IVF cluster (q54a's
    assignment rule), its cosine distance to that centroid (a) and to
    the nearest OTHER centroid (b) — the ARRAY-FOLD form of the
    corpus x centroids join shared by q294 (silhouette) and q297
    (cluster-label NMI). The per-pair dot is one zip_with/aggregate
    integer fold, bit-identical to the coordinate plan's exact_sum
    (the q52a contract), so the join carries |V| x k pair rows, not
    |V| x k x dims coordinate rows."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    dot = _fold_dot(units=True)
    emb = emb.withColumn("nrm", F.sqrt(dot(F.col("e"), F.col("e"))))
    cents_a = emb.filter(
        F.col("vec_id") % N_CENTROIDS_STRIDE == 0
    ).select(
        F.col("vec_id").alias("cid"),
        F.col("e").alias("ce"),
        F.col("nrm").alias("cnrm"),
    )
    # the fixture parquet has ~2 row groups; without a re-spread the
    # CPU-bound fold runs 2-wide (263 s at sf1) instead of cluster-wide
    # (the q272 lesson) — vec_id is uniform so this is a clean fan-out
    nparts = int(spark.conf.get("spark.sql.shuffle.partitions", "32"))
    paired = (
        emb.repartition(nparts, "vec_id")
        .join(F.broadcast(cents_a))
        .select(
            "vec_id",
            "cid",
            dot(F.col("e"), F.col("ce")).alias("dot"),
            "nrm",
            "cnrm",
        )
    )
    dist = paired.select(
        "vec_id",
        "cid",
        (1.0 - F.col("dot") / (F.col("nrm") * F.col("cnrm"))).alias("dd"),
        F.row_number()
        .over(Window.partitionBy("vec_id").orderBy(F.desc("dot"), "cid"))
        .alias("rn"),
    )
    return dist.groupBy("vec_id").agg(
        F.max(F.when(F.col("rn") == 1, F.col("cid"))).alias("own"),
        F.max(F.when(F.col("rn") == 1, F.col("dd"))).alias("a"),
        F.min(F.when(F.col("rn") > 1, F.col("dd"))).alias("b"),
    )


@query(
    "q294_simplified_silhouette",
    oracle=f"""
    WITH coords AS (SELECT * FROM {_duck_coords(None)} c),
         nx AS MATERIALIZED (
             SELECT vec_id, sqrt({duck_exact_sum("v * v", 9)}) AS nrm
             FROM coords GROUP BY vec_id),
         dist AS (SELECT d.vec_id, d.cid,
                         1.0 - d.dot / (nx.nrm * nc.nrm) AS dd, d.rn
                  FROM {_duck_coarse_ranked()} d
                  JOIN nx ON nx.vec_id = d.vec_id
                  JOIN nx nc ON nc.vec_id = d.cid),
         per_vec AS (SELECT vec_id,
                            MAX(CASE WHEN rn = 1 THEN cid END) AS own,
                            MAX(CASE WHEN rn = 1 THEN dd END) AS a,
                            MIN(CASE WHEN rn > 1 THEN dd END) AS b
                     FROM dist GROUP BY vec_id),
         sil AS (SELECT own,
                        CAST(ROUND(1e6 * (b - a)
                             / NULLIF(GREATEST(a, b), 0)) AS BIGINT)
                            AS s_units
                 FROM per_vec),
         per_c AS (SELECT own AS centroid_id,
                          CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(s_units) AS BIGINT) AS sum_sil_units
                   FROM sil GROUP BY own),
         g AS (SELECT CAST(SUM(sum_sil_units) AS BIGINT) AS gsum,
                      CAST(SUM(n) AS BIGINT) AS gn
               FROM per_c)
    SELECT per_c.centroid_id, per_c.n, per_c.sum_sil_units,
           ROUND(per_c.sum_sil_units * 1.0 / per_c.n / 1e6, 6)
               AS mean_sil,
           ROUND(g.gsum * 1.0 / g.gn / 1e6, 6) AS global_mean_sil
    FROM per_c, g
    """,
)
def q294_simplified_silhouette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SIMPLIFIED silhouette of the IVF clustering (q54a's max-dot
    assignment to the stride-50 seed centroids): per point,
    a = cosine distance to the OWN centroid, b = distance to the
    nearest OTHER centroid, s = (b-a)/max(a,b) — the clustering
    quality number that says whether the coarse quantizer's cells are
    tight (s near 1) or smeared (s near 0, ANN probes must widen).
    The 'simplified' form replaces full-silhouette's O(n^2) pairwise
    mean with centroid distances — O(n*k), which is exactly what
    makes silhouette computable at corpus scale (full silhouette on
    100 TB is an all-pairs join; this is the q269/q51a fence lesson
    as an evaluation metric).

    Exactness: dots and norms are the integer-unit exact sums every
    ANN query here uses; per-point s freezes to 1e-6 units before
    the per-cluster integer sums; the degenerate a=b=0 point (a
    centroid colliding with another) emits NULL via the guarded
    division on both engines.

    Scale: one corpus x centroids broadcast join (the q54a shape) in
    the ARRAY-FOLD form — the per-pair dot is one zip_with/aggregate
    integer fold (bit-identical to the coordinate plan's exact_sum,
    the q52a contract) so the join carries |V| x k pair rows, not
    |V| x k x dims coordinate rows (the coordinate form measured
    226 s at sf1 against ~4 s for the fold); then one per-vec reduce
    and |centroids|-row arithmetic."""
    per_vec = ivf_own_arrays(spark, sf_dir)
    # NOTE: the units expression must be the oracle's exact tree —
    # (1e6*(b-a))/g, NOT 1e6*((b-a)/g): the two associations round to
    # DIFFERENT 1e-6 units for some inputs (witness: a=0.12050849...,
    # b=0.94326703... gives ...243.49999999988 vs ...243.5).
    sil = per_vec.select(
        "own",
        F.round(
            F.try_divide(
                F.lit(1e6) * (F.col("b") - F.col("a")),
                F.nullif(F.greatest("a", "b"), F.lit(0.0)),
            )
        )
        .cast("long")
        .alias("s_units"),
    )
    per_c = sil.groupBy(F.col("own").alias("centroid_id")).agg(
        F.count("*").cast("long").alias("n"),
        F.sum("s_units").cast("long").alias("sum_sil_units"),
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return per_c.select(
        "centroid_id",
        "n",
        "sum_sil_units",
        F.round(
            F.col("sum_sil_units") * 1.0 / F.col("n") / F.lit(1e6), 6
        ).alias("mean_sil"),
        F.round(
            F.sum("sum_sil_units").over(wall)
            * 1.0
            / F.sum("n").over(wall)
            / F.lit(1e6),
            6,
        ).alias("global_mean_sil"),
    )


@query(
    "q297_cluster_label_nmi",
    oracle=f"""
    WITH coords AS (SELECT * FROM {_duck_coords(None)} c),
         assign AS (SELECT vec_id, cid FROM {_duck_coarse_ranked()} r
                    WHERE rn = 1),
         joint AS (SELECT a.cid, e.label,
                          CAST(COUNT(*) AS BIGINT) AS n_cl
                   FROM assign a JOIN embeddings e USING (vec_id)
                   GROUP BY a.cid, e.label),
         mc AS (SELECT cid, CAST(SUM(n_cl) AS BIGINT) AS n_c
                FROM joint GROUP BY cid),
         ml AS (SELECT label, CAST(SUM(n_cl) AS BIGINT) AS n_l
                FROM joint GROUP BY label),
         tot AS (SELECT CAST(SUM(n_cl) AS BIGINT) AS n FROM joint),
         iu AS (SELECT {duck_unit_sum(
                            "1e9 * (j.n_cl * 1.0 / tot.n)"
                            " * ln(tot.n * 1.0 * j.n_cl"
                            " / (mc.n_c * 1.0 * ml.n_l))", 0)} AS i_units
               FROM joint j
               JOIN mc ON mc.cid = j.cid
               JOIN ml ON ml.label = j.label
               CROSS JOIN tot),
         hcu AS (SELECT {duck_unit_sum(
                             "1e9 * (mc.n_c * 1.0 / tot.n)"
                             " * ln(tot.n * 1.0 / mc.n_c)", 0)} AS hc_units
                FROM mc, tot),
         hlu AS (SELECT {duck_unit_sum(
                             "1e9 * (ml.n_l * 1.0 / tot.n)"
                             " * ln(tot.n * 1.0 / ml.n_l)", 0)} AS hl_units
                FROM ml, tot),
         pur AS (SELECT CAST(SUM(mx) AS BIGINT) AS n_majority
                 FROM (SELECT cid, MAX(n_cl) AS mx
                       FROM joint GROUP BY cid))
    SELECT tot.n AS n_vecs,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM mc) AS n_clusters,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM ml) AS n_labels,
           iu.i_units, hcu.hc_units, hlu.hl_units,
           ROUND(iu.i_units * 1.0
                 / NULLIF(sqrt(hcu.hc_units * 1.0 * hlu.hl_units), 0),
                 6) AS nmi,
           pur.n_majority,
           ROUND(pur.n_majority * 1.0 / tot.n, 6) AS purity
    FROM tot, iu, hcu, hlu, pur
    """,
)
def q297_cluster_label_nmi(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Normalized mutual information (and purity) between the IVF
    clustering and the ground-truth labels — the external-validity
    companion to q294's internal silhouette: silhouette says the
    cells are geometrically tight, NMI says whether they align with
    anything REAL. NMI = I(C;L)/sqrt(H(C)H(L)) from the cluster x
    label contingency counts; purity = majority-label mass.

    Exactness: every count is an exact BIGINT from one grouped
    aggregate over the (assignment join labels) table; each
    p*ln(...) term freezes to integer 1e-9 units before the
    (order-independent) sums — the q271/q292 ln discipline; the
    final NMI is one identical double expression over three frozen
    integers, NULL-guarded for the degenerate single-cluster case.

    Scale: assignment reuses the shared array-fold join
    (ivf_own_arrays); everything after is |clusters| x |labels|
    dimension-scale arithmetic. The contingency table is
    localCheckpointed (r12): seven downstream references (marginals,
    total, the three entropy/MI aggregates, purity) would otherwise
    each re-run the corpus-scale assignment join — measured 74
    Exchange / 35 duplicated scans in the cold plan before, 28/0
    after (the survivors are |clusters| x |labels|-row aggregates;
    guide §2.4 unshared-subplan discipline)."""
    per_vec = ivf_own_arrays(spark, sf_dir)
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", "label"
    )
    joint = maybe_local_checkpoint(
        per_vec.select("vec_id", "own")
        .join(emb, "vec_id")
        .groupBy(F.col("own").alias("cid"), "label")
        .agg(F.count("*").cast("long").alias("n_cl"))
    )
    mc = joint.groupBy("cid").agg(F.sum("n_cl").cast("long").alias("n_c"))
    ml = joint.groupBy("label").agg(
        F.sum("n_cl").cast("long").alias("n_l")
    )
    tot = joint.agg(F.sum("n_cl").cast("long").alias("n"))
    iu = (
        joint.join(F.broadcast(mc), "cid")
        .join(F.broadcast(ml), "label")
        .join(F.broadcast(tot))
        .agg(
            F.sum(
                F.round(
                    F.lit(1e9)
                    * (F.col("n_cl") * 1.0 / F.col("n"))
                    * F.log(
                        F.col("n")
                        * 1.0
                        * F.col("n_cl")
                        / (F.col("n_c") * 1.0 * F.col("n_l"))
                    )
                ).cast("long")
            )
            .cast("long")
            .alias("i_units")
        )
    )
    hcu = mc.join(F.broadcast(tot)).agg(
        F.sum(
            F.round(
                F.lit(1e9)
                * (F.col("n_c") * 1.0 / F.col("n"))
                * F.log(F.col("n") * 1.0 / F.col("n_c"))
            ).cast("long")
        )
        .cast("long")
        .alias("hc_units")
    )
    hlu = ml.join(F.broadcast(tot)).agg(
        F.sum(
            F.round(
                F.lit(1e9)
                * (F.col("n_l") * 1.0 / F.col("n"))
                * F.log(F.col("n") * 1.0 / F.col("n_l"))
            ).cast("long")
        )
        .cast("long")
        .alias("hl_units")
    )
    nc = mc.agg(F.count("*").cast("long").alias("n_clusters"))
    nl = ml.agg(F.count("*").cast("long").alias("n_labels"))
    pur = (
        joint.groupBy("cid")
        .agg(F.max("n_cl").alias("mx"))
        .agg(F.sum("mx").cast("long").alias("n_majority"))
    )
    out = (
        tot.join(F.broadcast(iu))
        .join(F.broadcast(hcu))
        .join(F.broadcast(hlu))
        .join(F.broadcast(nc))
        .join(F.broadcast(nl))
        .join(F.broadcast(pur))
    )
    return out.select(
        F.col("n").alias("n_vecs"),
        "n_clusters",
        "n_labels",
        "i_units",
        "hc_units",
        "hl_units",
        F.round(
            F.try_divide(
                F.col("i_units") * 1.0,
                F.nullif(
                    F.sqrt(F.col("hc_units") * 1.0 * F.col("hl_units")),
                    F.lit(0.0),
                ),
            ),
            6,
        ).alias("nmi"),
        "n_majority",
        F.round(F.col("n_majority") * 1.0 / F.col("n"), 6).alias(
            "purity"
        ),
    )
