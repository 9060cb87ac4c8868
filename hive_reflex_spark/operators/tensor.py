"""Tensor algebra on coordinate tables (SURVEY §1.3, §2A J/A families).

A tensor is a table ``(tensor_id?, i, j, value)``; matmul is an equi-join
on the contraction index plus a grouped sum — Catalyst picks hash vs
sort-merge, broadcasts the small operand, and pushes sparsity filters
into the scan, which is exactly the reference's zero-skipping sparse MAC
(`rtl/sparse_cim_mac_array.v:93-130`) expressed declaratively.

Library functions operate on arbitrary coordinate DataFrames; the
registered queries instantiate them over the ``embeddings`` fixture
(vec_id × 64 dims, float32) with DuckDB oracle twins.

Scale notes:
- the weight operand of a model matmul is ≤512 KB in the reference
  (DATASHEET.md:34-38) → always broadcast-able; the activation side
  streams through without a shuffle;
- for big×big matmul both sides shuffle on the contraction key k —
  at 100 TB pre-bucket both tables on k to make it a zero-shuffle join;
- per-element products are summed with the integer-units trick
  (functions.exact_sum) so results are partition-order independent.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_reflex_spark.functions import (
    duck_exact_sum,
    exact_sum,
    spark_exact_sum,
)
from hive_reflex_spark.functions.tensor_fns import (
    gelu,
    relu,
    sigmoid,
    silu,
)
from hive_reflex_spark.io import read_table
from hive_reflex_spark.registry import query

# ---------------------------------------------------------------------------
# Library: coordinate-table linear algebra
# ---------------------------------------------------------------------------


def coord_matmul(
    a: DataFrame,
    b: DataFrame,
    *,
    broadcast_b: bool = False,
    sum_scale: int | None = None,
) -> DataFrame:
    """C[i,j] = Σ_k A[i,k]·B[k,j] — join on k, group by (i,j), sum.

    Mirrors `imc22_sdk/imc22_cim.c:87-142` (dense MatMul) / `simulator/
    sim_reflex.py:43-91`. Expects columns (i, k, v) on ``a`` and (k, j, v)
    on ``b``. ``broadcast_b`` for the ≤512 KB weight side. ``sum_scale``
    switches to the exact integer-units sum for oracle determinism.
    """
    bb = F.broadcast(b) if broadcast_b else b
    prod = a.alias("a").join(bb.alias("b"), F.col("a.k") == F.col("b.k")).select(
        F.col("a.i").alias("i"),
        F.col("b.j").alias("j"),
        (F.col("a.v") * F.col("b.v")).alias("p"),
    )
    agg = (
        exact_sum(F.col("p"), sum_scale) if sum_scale else F.sum("p")
    ).alias("v")
    return prod.groupBy("i", "j").agg(agg)


def sparse_matmul(
    a: DataFrame, b: DataFrame, threshold: float, **kw
) -> DataFrame:
    """Threshold-skip matmul (`imc22.py:507-530`, J2): filter both operands
    below |v| < threshold *before* the join — predicate pushdown gives the
    reference's MAC-skip for free, and shrinks the shuffle by the sparsity
    ratio."""
    return coord_matmul(
        a.filter(F.abs(F.col("v")) >= threshold),
        b.filter(F.abs(F.col("v")) >= threshold),
        **kw,
    )


def add_bias(c: DataFrame, bias: DataFrame) -> DataFrame:
    """C[i,j] += bias[j] — broadcast join on the output index (J8/J9)."""
    return (
        c.join(F.broadcast(bias.withColumnRenamed("v", "bias_v")), "j")
        .withColumn("v", F.col("v") + F.col("bias_v"))
        .drop("bias_v")
    )


def csr_from_coords(
    coords: DataFrame, n_rows_col: str = "i", n_buckets: int = 256
) -> DataFrame:
    """Reconstruct CSR row_ptr from a COO table (J3,
    `sparsity_optimizer.py:202-229`): nnz per row + exclusive cumulative sum.

    Distributed two-pass prefix sum — an unpartitioned ``Window.orderBy``
    would move every row to ONE partition. Instead: rows are binned into
    order-preserving buckets by row-id range; bucket totals (≤ n_buckets
    numbers) come to the driver for the exclusive bucket-offset scan and
    go back broadcast; the within-bucket cumsum is a *partitioned* window.
    Scales to any row count at a cost of one extra tiny aggregate."""
    per_row = coords.groupBy(n_rows_col).agg(F.count("*").alias("nnz"))
    bounds = per_row.agg(
        F.min(n_rows_col).alias("lo"), F.max(n_rows_col).alias("hi")
    ).first()
    if bounds.lo is None:
        return per_row.withColumn("row_ptr", F.lit(0).cast("long"))
    lo, hi = int(bounds.lo), int(bounds.hi)
    width = max(-(-(hi - lo + 1) // n_buckets), 1)
    pb = per_row.withColumn(
        "_bucket",
        F.floor((F.col(n_rows_col) - F.lit(lo)) / F.lit(width)).cast("long"),
    )
    totals = {
        r["_bucket"]: r["t"]
        for r in pb.groupBy("_bucket").agg(F.sum("nnz").alias("t")).collect()
    }
    offsets, acc = [], 0
    for b in sorted(totals):
        offsets.append((b, acc))
        acc += int(totals[b])
    off_df = coords.sparkSession.createDataFrame(
        offsets, "_bucket long, _boff long"
    )
    w = (
        Window.partitionBy("_bucket")
        .orderBy(n_rows_col)
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    return (
        pb.join(F.broadcast(off_df), "_bucket")
        .withColumn(
            "row_ptr",
            (
                F.col("_boff") + F.coalesce(F.sum("nnz").over(w), F.lit(0))
            ).cast("long"),
        )
        .drop("_bucket", "_boff")
    )


def softmax(df: DataFrame, group_cols: list[str], value_col: str = "v") -> DataFrame:
    """Numerically-stable softmax per group (P18,
    `firmware/middleware/cascade_model.c:95-118`): exp(x−max)/Σ via one
    window pass — no shuffle beyond the group key."""
    w = Window.partitionBy(*group_cols)
    e = F.exp(F.col(value_col) - F.max(value_col).over(w))
    return df.withColumn("softmax", e / F.sum(e).over(w))


def argmax(df: DataFrame, group_cols: list[str], value_col: str, index_col: str) -> DataFrame:
    """Deterministic argmax per group (W12, `firmware_sim.py:63-65`):
    row_number over (value desc, index asc) — ties break to lowest index."""
    w = Window.partitionBy(*group_cols).orderBy(
        F.desc(value_col), F.col(index_col)
    )
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def magnitude_prune_threshold(
    df: DataFrame, pct: float, value_col: str = "v"
) -> DataFrame:
    """Global magnitude-pruning threshold (A3, `sparsity_optimizer.py:136-144`):
    the pct-th percentile of |v|. Exact here; swap percentile→
    percentile_approx for the 100 TB single-pass sketch."""
    return df.agg(
        F.percentile(F.abs(F.col(value_col)), pct).alias("threshold")
    )


# ---------------------------------------------------------------------------
# Fixture plumbing: embeddings → coordinate table
# ---------------------------------------------------------------------------


def embedding_coords(
    spark: SparkSession, sf_dir: str, max_vec: int | None = None
) -> DataFrame:
    """embeddings(vec_id, embedding[64], label) → (vec_id, label, dim, v).
    The shared input of the whole similarity family — persisted once in
    bench mode (cached_df is a pass-through otherwise)."""
    from hive_reflex_spark.io import cached_df

    def build() -> DataFrame:
        emb = read_table(spark, sf_dir, "embeddings")
        return emb.select(
            "vec_id",
            "label",
            F.posexplode("embedding").alias("dim", "v"),
        ).withColumn("v", F.col("v").cast("double"))

    coords = cached_df(("emb_coords", sf_dir), build)
    if max_vec is not None:
        coords = coords.filter(F.col("vec_id") < max_vec)
    return coords


def _duck_coords(max_vec: int | None = None) -> str:
    """DuckDB twin of :func:`embedding_coords` (as a FROM-able subquery)."""
    where = f"WHERE vec_id < {max_vec}" if max_vec is not None else ""
    return f"""(
        SELECT vec_id, label,
               CAST(dim AS INTEGER) AS dim, CAST(v AS DOUBLE) AS v
        FROM (SELECT vec_id, label,
                     unnest(range(len(embedding))) AS dim,
                     unnest(embedding) AS v
              FROM embeddings {where}))"""


# ---------------------------------------------------------------------------
# Queries: J1/J2 matmul (Gram matrix over the embedding fixture)
# ---------------------------------------------------------------------------


@query(
    "q30_coord_matmul_gram",
    oracle=f"""
    SELECT a.vec_id AS i, b.vec_id AS j,
           {duck_exact_sum("a.v * b.v", 9)} AS dot
    FROM {_duck_coords(24)} a JOIN {_duck_coords(24)} b ON a.dim = b.dim
    WHERE a.vec_id <= b.vec_id
    GROUP BY a.vec_id, b.vec_id
    """,
)
def q30_coord_matmul_gram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dense coordinate matmul (J1): Gram matrix G = E·Eᵀ of the first 24
    embedding vectors — join on the contraction index (dim) + grouped
    exact sum, upper triangle only."""
    coords = embedding_coords(spark, sf_dir, max_vec=24)
    # single-parse projections/predicate — plan-identical (guide §7.3)
    a = coords.selectExpr("vec_id AS i", "dim AS k", "v")
    b = coords.selectExpr("vec_id AS j", "dim AS k", "v")
    prod = (
        a.alias("a")
        .join(b.alias("b"), "k")
        .filter("a.i <= b.j")
        .selectExpr("i", "j", "a.v * b.v AS p")
    )
    return prod.groupBy("i", "j").agg(F.expr(f"{spark_exact_sum('p', 9)} AS dot"))


@query(
    "q30a_gram_matmul_array",
    oracle=f"""
    SELECT a.vec_id AS i, b.vec_id AS j,
           {duck_exact_sum("a.v * b.v", 9)} AS dot
    FROM {_duck_coords(256)} a JOIN {_duck_coords(256)} b ON a.dim = b.dim
    WHERE a.vec_id <= b.vec_id
    GROUP BY a.vec_id, b.vec_id
    """,
)
def q30a_gram_matmul_array(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1's Gram matmul in its SCALE form: the dot product evaluated as
    a zip_with/aggregate fold over the stored array columns, pairs
    generated by a broadcast join on the triangle predicate — no
    explode, no shuffle keyed on the 64-value contraction index. Same
    exact-integer semantics as q30 (per-term ROUND to 1e-9 units,
    BIGINT fold), verified against the identical coordinate oracle over
    256 vectors instead of q30's 24.

    Why this exists next to q30: the coordinate join q30 registers IS
    the reference's contraction semantics (J1), but its shuffle key is
    the 64-value dim — at N vectors it moves N*64 x N rows through 64
    hash buckets. This form moves N rows once (the broadcast side is
    one factor matrix, exactly the bounded operand the reference
    streams from flash, `imc22_sdk`'s weight bank), and the fold runs
    inside whole-stage codegen. Measured at sf1 sizes it is ~5x faster
    than the coordinate plan at ANY size and inverts against DuckDB as
    the pair count grows (BASELINE.md r6 tensor-scale section)."""
    emb = (
        read_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 256)
        .select("vec_id", "embedding")
    )
    a = emb.select(F.col("vec_id").alias("i"), F.col("embedding").alias("ea"))
    b = emb.select(F.col("vec_id").alias("j"), F.col("embedding").alias("eb"))
    return a.join(F.broadcast(b), F.col("i") <= F.col("j")).select(
        "i",
        "j",
        (
            F.aggregate(
                F.zip_with(
                    "ea",
                    "eb",
                    lambda x, y: F.round(
                        x.cast("double") * y.cast("double") * 1_000_000_000
                    ).cast("long"),
                ),
                F.lit(0).cast("long"),
                lambda acc, x: acc + x,
            )
            / 1_000_000_000.0
        ).alias("dot"),
    )


@query(
    "q30b_gram_matmul_numpy",
    oracle=f"""
    SELECT a.vec_id AS i, b.vec_id AS j,
           {duck_exact_sum("a.v * b.v", 9)} AS dot
    FROM {_duck_coords(256)} a JOIN {_duck_coords(256)} b ON a.dim = b.dim
    WHERE a.vec_id <= b.vec_id
    GROUP BY a.vec_id, b.vec_id
    """,
)
def q30b_gram_matmul_numpy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1's Gram matmul on the numpy-blocked fast path: one factor
    matrix is collected and broadcast (the bounded operand — exactly the
    weight bank the reference streams from flash, `imc22_sdk`), the
    other streams through mapInPandas in Arrow batches, and each batch
    computes its block of G as 64 vectorized outer-product
    accumulations (per-term ROUND to 1e-9 units — half-away-from-zero
    via ``rounding.round_half_away``, bit-exact to C ``std::round`` =
    DuckDB ROUND: numpy's own round is half-even, and the naive
    sign*floor(|x|+0.5) spelling drifts across near-.5 boundaries).
    Identical exact-integer semantics to q30/q30a, same 256-vector
    oracle.

    Why this tier exists: of the three Gram plans, this is the one that
    inverts against a columnar in-process engine — sf1-size measurement
    (BASELINE.md r6): coordinate join 5.9x DuckDB, zip_with fold 4.9x,
    numpy-blocked 0.19x (26x faster than the coordinate plan). Dense
    contraction is the one workload where per-row expression evaluation
    loses to BLAS-shaped batch kernels by orders of magnitude; the
    Spark-first answer is Arrow batches + numpy, NOT a row-at-a-time
    UDF. At 100 TB the stream side tiles for free (it's the mapInPandas
    input); a both-sides-huge matmul tiles the broadcast side into
    column blocks the same way."""
    import numpy as np
    import pandas as pd

    from hive_reflex_spark.operators.rounding import round_half_away

    emb = (
        read_table(spark, sf_dir, "embeddings")
        .filter(F.col("vec_id") < 256)
        .select("vec_id", "embedding")
    )
    rows = emb.collect()  # bounded: one 256 x 64 factor matrix
    ids = np.array([r["vec_id"] for r in rows], dtype=np.int64)
    mat = np.array([r["embedding"] for r in rows], dtype=np.float64)
    b_ids = spark.sparkContext.broadcast(ids)
    b_mat = spark.sparkContext.broadcast(mat)

    def blocks(batches):
        B = b_mat.value
        Bi = b_ids.value
        for pdf in batches:
            A = np.array(list(pdf["embedding"]), dtype=np.float64)
            Ai = pdf["vec_id"].to_numpy(dtype=np.int64)
            C = np.zeros((len(Ai), len(Bi)), dtype=np.float64)
            for k in range(A.shape[1]):
                C += round_half_away(np.outer(A[:, k], B[:, k]) * 1e9)
            ii, jj = np.nonzero(Ai[:, None] <= Bi[None, :])
            yield pd.DataFrame(
                {
                    "i": Ai[ii],
                    "j": Bi[jj],
                    "dot_u": C[ii, jj].astype(np.int64),
                }
            )

    return (
        emb.mapInPandas(blocks, "i long, j long, dot_u long")
        .select("i", "j", (F.col("dot_u") / 1_000_000_000.0).alias("dot"))
    )


@query(
    "q31_sparse_matmul",
    oracle=f"""
    SELECT a.vec_id AS i, b.vec_id AS j,
           {duck_exact_sum("a.v * b.v", 9)} AS dot,
           COUNT(*) AS n_macs
    FROM {_duck_coords(24)} a JOIN {_duck_coords(24)} b ON a.dim = b.dim
    WHERE a.vec_id <= b.vec_id AND abs(a.v) >= 0.05 AND abs(b.v) >= 0.05
    GROUP BY a.vec_id, b.vec_id
    """,
)
def q31_sparse_matmul(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Threshold-skip sparse matmul (J2, `imc22.py:507-530`): |v| ≥ 0.05 on
    both operands *before* the join — the filter reaches the scan, the MAC
    count drops with sparsity exactly as in the reference's skip counter."""
    coords = embedding_coords(spark, sf_dir, max_vec=24).filter(
        F.abs(F.col("v")) >= 0.05
    )
    a = coords.select(F.col("vec_id").alias("i"), F.col("dim").alias("k"), "v")
    b = coords.select(F.col("vec_id").alias("j"), F.col("dim").alias("k"), "v")
    prod = (
        a.alias("a")
        .join(b.alias("b"), "k")
        .filter(F.col("a.i") <= F.col("b.j"))
        .select("i", "j", (F.col("a.v") * F.col("b.v")).alias("p"))
    )
    return prod.groupBy("i", "j").agg(
        exact_sum(F.col("p"), 9).alias("dot"), F.count("*").alias("n_macs")
    )


# ---------------------------------------------------------------------------
# Queries: P6/P7/P9 quantization family
# ---------------------------------------------------------------------------


@query(
    "q32_quantize_symmetric",
    oracle=f"""
    SELECT vec_id, dim,
           CAST(least(greatest(ROUND(v / (mx / 127.0)), -127), 127) AS INTEGER)
               AS q,
           mx / 127.0 AS scale
    FROM (SELECT vec_id, dim, v, MAX(abs(v)) OVER (PARTITION BY vec_id) AS mx
          FROM {_duck_coords(16)})
    """,
)
def q32_quantize_symmetric(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Symmetric int8 quantization (P7, `codegen_cim.py:461-464`):
    scale = max(|x|)/127 per tensor via a window max (one shuffle on
    vec_id), then round/clamp — all JVM-side expressions."""
    coords = embedding_coords(spark, sf_dir, max_vec=16)
    w = Window.partitionBy("vec_id")
    scale = F.max(F.abs(F.col("v"))).over(w) / 127.0
    with_scale = coords.withColumn("scale", scale)
    return with_scale.select(
        "vec_id",
        "dim",
        F.least(
            F.greatest(F.round(F.col("v") / F.col("scale")), F.lit(-127.0)),
            F.lit(127.0),
        )
        .cast("int")
        .alias("q"),
        "scale",
    )


@query(
    "q33_quant_error",
    oracle=f"""
    SELECT vec_id,
           {duck_exact_sum(
               "abs(v - ROUND(least(greatest(ROUND(v / (mx / 127.0)), -127),"
               " 127)) * (mx / 127.0))", 9)} / COUNT(*) AS mae,
           {duck_exact_sum(
               "pow(v - ROUND(least(greatest(ROUND(v / (mx / 127.0)), -127),"
               " 127)) * (mx / 127.0), 2)", 9)} / COUNT(*) AS mse
    FROM (SELECT vec_id, v, MAX(abs(v)) OVER (PARTITION BY vec_id) AS mx
          FROM {_duck_coords(None)})
    GROUP BY vec_id
    """,
)
def q33_quant_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantization round-trip error MAE/MSE per tensor (A12,
    `mlir_compiler/qat_trainer.py:447-479`): quantize → dequantize → join-free
    elementwise diff → exact grouped means."""
    coords = embedding_coords(spark, sf_dir)
    w = Window.partitionBy("vec_id")
    scale = F.max(F.abs(F.col("v"))).over(w) / 127.0
    q = F.least(F.greatest(F.round(F.col("v") / scale), F.lit(-127.0)), F.lit(127.0))
    # F.round with no scale keeps a double; DuckDB ROUND(...) likewise.
    err = F.col("v") - F.round(q) * scale
    with_err = coords.withColumn("abs_err", F.abs(err)).withColumn(
        "sq_err", F.pow(err, 2)
    )
    return with_err.groupBy("vec_id").agg(
        (exact_sum(F.col("abs_err"), 9) / F.count("*")).alias("mae"),
        (exact_sum(F.col("sq_err"), 9) / F.count("*")).alias("mse"),
    )


# ---------------------------------------------------------------------------
# Queries: A2 sparsity analysis (the SURVEY §7 flagship slice)
# ---------------------------------------------------------------------------


@query(
    "q34_sparsity_analysis",
    oracle=f"""
    SELECT label,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_zero,
           CAST(SUM(CASE WHEN abs(v) < 0.01 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_near_zero,
           CAST(SUM(CASE WHEN abs(v) < 0.01 THEN 1 ELSE 0 END) AS BIGINT)
               * 1.0 / COUNT(*) AS sparsity,
           CASE WHEN CAST(SUM(CASE WHEN abs(v) < 0.01 THEN 1 ELSE 0 END) AS BIGINT)
                     * 1.0 / COUNT(*) > 0.5
                THEN 'csr' ELSE 'dense' END AS recommended_format
    FROM {_duck_coords(None)}
    GROUP BY label
    """,
)
def q34_sparsity_analysis(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-layer sparsity analysis (A2, `sparsity_optimizer.py:66-112`):
    total / exact-zero / near-zero (<0.01) counts, sparsity ratio, and the
    reference's format recommendation rule (>50% sparse → CSR). This is the
    SURVEY §7 minimum end-to-end slice: scan → project → conditional agg."""
    coords = embedding_coords(spark, sf_dir)
    # single-parse expressions — plan-identical; 1e-2/1e0/5e-1 keep the
    # literals DOUBLE (bare SQL 0.01/1.0/0.5 would parse as DECIMAL)
    agged = coords.groupBy("label").agg(
        F.expr("count(*) AS n_total"),
        F.expr("sum(CASE WHEN v = 0 THEN 1 ELSE 0 END) AS n_zero"),
        F.expr(
            "sum(CASE WHEN abs(v) < 1e-2 THEN 1 ELSE 0 END) AS n_near_zero"
        ),
    )
    sparsity = "n_near_zero * 1e0 / n_total"
    return agged.selectExpr(
        "label",
        "n_total",
        "n_zero",
        "n_near_zero",
        f"{sparsity} AS sparsity",
        f"CASE WHEN {sparsity} > 5e-1 THEN 'csr' ELSE 'dense' END"
        " AS recommended_format",
    )


# ---------------------------------------------------------------------------
# Queries: P18 softmax + W12 argmax
# ---------------------------------------------------------------------------


@query(
    "q35_softmax",
    oracle=f"""
    SELECT vec_id, dim,
           ROUND(e / (CAST(SUM(CAST(ROUND(e * 1000000) AS BIGINT))
                           OVER (PARTITION BY vec_id) AS BIGINT) / 1000000.0),
                 6) AS softmax
    FROM (SELECT vec_id, dim,
                 ROUND(exp(v - MAX(v) OVER (PARTITION BY vec_id)), 6) AS e
          FROM {_duck_coords(8)})
    """,
)
def q35_softmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numerically-stable softmax (P18, `cascade_model.c:95-118`):
    exp(x−max)/Σ per vector. exp() can differ by 1 ulp across engines, so
    each exp is rounded to 6dp before the exact-integer sum — the oracle
    contract stays bit-stable without hiding the real operator shape."""
    coords = embedding_coords(spark, sf_dir, max_vec=8)
    w = Window.partitionBy("vec_id")
    e = F.round(F.exp(F.col("v") - F.max("v").over(w)), 6)
    with_e = coords.withColumn("e", e)
    denom = F.sum(F.round(F.col("e") * 1_000_000).cast("long")).over(w) / 1_000_000.0
    return with_e.select(
        "vec_id", "dim", F.round(F.col("e") / denom, 6).alias("softmax")
    )


@query(
    "q36_argmax",
    oracle=f"""
    SELECT vec_id, dim AS argmax_dim, v AS max_v FROM (
        SELECT vec_id, dim, v,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY v DESC, dim)
                   AS rn
        FROM {_duck_coords(None)})
    WHERE rn = 1
    """,
)
def q36_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-tensor argmax (W12/A13, `firmware_sim.py:63-65`):
    classifier top-class selection; ties break to the lowest index."""
    coords = embedding_coords(spark, sf_dir)
    top = argmax(coords, ["vec_id"], "v", "dim")
    return top.select(
        "vec_id", F.col("dim").alias("argmax_dim"), F.col("v").alias("max_v")
    )


# ---------------------------------------------------------------------------
# Queries: A3/A4 pruning
# ---------------------------------------------------------------------------


@query(
    "q37_magnitude_prune",
    oracle=f"""
    WITH thr AS (SELECT ROUND(quantile_cont(abs(v), 0.75), 6) AS t
                 FROM {_duck_coords(None)})
    SELECT label,
           COUNT(*) AS n_total,
           CAST(SUM(CASE WHEN abs(v) < t THEN 1 ELSE 0 END) AS BIGINT)
               AS n_pruned,
           CAST(SUM(CASE WHEN abs(v) < t THEN 1 ELSE 0 END) AS BIGINT) * 1.0
               / COUNT(*) AS prune_ratio
    FROM {_duck_coords(None)}, thr
    GROUP BY label
    """,
)
def q37_magnitude_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global magnitude pruning at the 75th percentile of |w| (A3,
    `sparsity_optimizer.py:136-144`): percentile threshold broadcast
    against the full table, conditional counts per layer."""
    coords = embedding_coords(spark, sf_dir)
    thr = coords.agg(
        F.round(F.percentile(F.abs(F.col("v")), 0.75), 6).alias("t")
    )
    return (
        coords.join(F.broadcast(thr))
        .groupBy("label")
        .agg(
            F.count("*").alias("n_total"),
            F.sum(F.when(F.abs(F.col("v")) < F.col("t"), 1).otherwise(0)).alias(
                "n_pruned"
            ),
        )
        .select(
            "label",
            "n_total",
            "n_pruned",
            (F.col("n_pruned") * 1.0 / F.col("n_total")).alias("prune_ratio"),
        )
    )


@query(
    "q38_channel_norms",
    oracle=f"""
    SELECT dim,
           ROUND(sqrt({duck_exact_sum("v * v", 9)}), 6) AS l2_norm,
           ROW_NUMBER() OVER (
               ORDER BY sqrt({duck_exact_sum("v * v", 9)}), dim) AS norm_rank
    FROM {_duck_coords(None)}
    GROUP BY dim
    """,
)
def q38_channel_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured (channel) pruning metric (A4, `sparsity_optimizer.py:
    151-159`): L2 norm per channel (dim) + rank — the lowest-norm channels
    are drop candidates."""
    coords = embedding_coords(spark, sf_dir)
    norms = coords.groupBy("dim").agg(
        F.sqrt(exact_sum(F.col("v") * F.col("v"), 9)).alias("raw_norm")
    )
    w = Window.orderBy("raw_norm", "dim")
    return norms.select(
        "dim",
        F.round(F.col("raw_norm"), 6).alias("l2_norm"),
        F.row_number().over(w).cast("long").alias("norm_rank"),
    )


# ---------------------------------------------------------------------------
# Queries: activations (P1-P5) + pooling
# ---------------------------------------------------------------------------


@query(
    "q39_activation_stats",
    oracle=f"""
    SELECT label,
           {duck_exact_sum("greatest(v, 0)", 6)} AS sum_relu,
           {duck_exact_sum("ROUND(1 / (1 + exp(-v)), 6)", 6)} AS sum_sigmoid,
           {duck_exact_sum("ROUND(1 - 2 / (exp(2 * v) + 1), 6)", 6)} AS sum_tanh,
           {duck_exact_sum(
               "ROUND(0.5 * v * (2 - 2 / (exp(2 * (0.7978845608028654"
               " * (v + 0.044715 * v * v * v))) + 1)), 6)", 6)} AS sum_gelu,
           {duck_exact_sum("ROUND(v / (1 + exp(-v)), 6)", 6)} AS sum_silu
    FROM {_duck_coords(None)}
    GROUP BY label
    """,
)
def q39_activation_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The activation family P1-P5 (`imc22_cim.c:274-293`, `transformer_ops
    .py:43-47,117-132`) as pure column expressions, aggregated per label.
    Transcendentals are rounded to 6dp before the exact sum (libm ulp
    differences across engines)."""
    coords = embedding_coords(spark, sf_dir)
    v = F.col("v")
    return coords.groupBy("label").agg(
        exact_sum(relu(v), 6).alias("sum_relu"),
        exact_sum(F.round(sigmoid(v), 6), 6).alias("sum_sigmoid"),
        exact_sum(F.round(F.tanh(v), 6), 6).alias("sum_tanh"),
        exact_sum(F.round(gelu(v), 6), 6).alias("sum_gelu"),
        exact_sum(F.round(silu(v), 6), 6).alias("sum_silu"),
    )


@query(
    "q40_pooling",
    oracle=f"""
    SELECT label, CAST(dim // 8 AS INTEGER) AS bucket,
           {duck_exact_sum("v", 9)} / COUNT(*) AS avg_pool,
           MAX(v) AS max_pool,
           COUNT(*) AS n_elems
    FROM {_duck_coords(None)}
    GROUP BY label, CAST(dim // 8 AS INTEGER)
    """,
)
def q40_pooling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Avg/max pooling over spatial buckets (`nn_topology.h:92-97,125-129`):
    groupBy floor(dim/stride) with avg/max — pooling is just a grouped
    aggregate over bucketed coordinates."""
    coords = embedding_coords(spark, sf_dir)
    bucket = (F.col("dim") / 8).cast("int")
    return (
        coords.withColumn("bucket", bucket)
        .groupBy("label", "bucket")
        .agg(
            (exact_sum(F.col("v"), 9) / F.count("*")).alias("avg_pool"),
            F.max("v").alias("max_pool"),
            F.count("*").alias("n_elems"),
        )
    )


# ---------------------------------------------------------------------------
# Queries: J7 embedding lookup
# ---------------------------------------------------------------------------


@query(
    "q41_embedding_lookup",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           {duck_exact_sum("CAST(embedding[1] AS DOUBLE)", 9)} AS sum_dim0
    FROM events JOIN embeddings ON user_id = vec_id
    GROUP BY event_type
    """,
)
def q41_embedding_lookup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-table lookup (J7, `export_bert_tiny.py:41,50`): token/id →
    embedding row via broadcast equi-join; the embedding table is the
    ≤512 KB weight operand, so the fact stream never shuffles."""
    events = read_table(spark, sf_dir, "events")
    emb = read_table(spark, sf_dir, "embeddings")
    return (
        events.join(F.broadcast(emb), events.user_id == emb.vec_id)
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n"),
            exact_sum(
                F.element_at("embedding", 1).cast("double"), 9
            ).alias("sum_dim0"),
        )
    )


SPARSE_OVERHEAD = 0.1  # sparsity_optimizer.py:368 — 10% index overhead
SPARSE_CAP = 5.0  # :373 — max 5x
RUNTIME_FACTOR = 0.9  # imc22.py:491 — runtime model 1/(1 - s*0.9)


@query(
    "q132_sparse_speedup_estimate",
    oracle=f"""
    WITH agg AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total,
                        CAST(SUM(CASE WHEN abs(v) < 0.01 THEN 1 ELSE 0 END)
                             AS BIGINT) AS n_skipped
                 FROM {_duck_coords(None)}),
         m AS (SELECT n_total, n_skipped,
                      n_skipped * 1.0 / n_total AS skip_ratio,
                      n_skipped * 1.0 / n_total * (1 - {SPARSE_OVERHEAD!r})
                          AS eff
               FROM agg)
    SELECT n_total, n_skipped,
           ROUND(skip_ratio, 6) AS skip_ratio,
           ROUND(LEAST(CASE WHEN eff < 1 THEN 1.0 / (1.0 - eff)
                            ELSE 10.0 END, {SPARSE_CAP!r}), 6)
               AS est_speedup,
           ROUND(CASE WHEN skip_ratio > 0
                      THEN 1.0 / (1.0 - skip_ratio * {RUNTIME_FACTOR!r})
                      ELSE 1.0 END, 6) AS runtime_speedup,
           ROUND((1 - 1.0 / LEAST(CASE WHEN eff < 1 THEN 1.0 / (1.0 - eff)
                                       ELSE 10.0 END, {SPARSE_CAP!r}))
                 * 100, 6) AS power_reduction_pct
    FROM m
    """,
)
def q132_sparse_speedup_estimate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's sparse-speedup estimators, both published models:
    the optimizer's planning estimate min(1/(1 - skip*(1-0.1)), 5)
    (`sparsity_optimizer.py:354-373` — 10% index overhead, 5x cap) and
    the runtime's measured-sparsity model 1/(1 - s*0.9)
    (`imc22_sdk/python/imc22.py:491`), plus the power-reduction figure
    the optimizer logs ((1-1/speedup)*100, `:350`). One global
    conditional aggregate over the weight coordinates — the 1-row
    planning summary a compile run prints, derived from the same scan
    q34 makes per-layer."""
    coords = embedding_coords(spark, sf_dir)
    agg = coords.agg(
        F.count("*").alias("n_total"),
        F.sum(F.when(F.abs(F.col("v")) < 0.01, 1).otherwise(0)).alias(
            "n_skipped"
        ),
    )
    skip = F.col("n_skipped") * 1.0 / F.col("n_total")
    eff = skip * (1 - SPARSE_OVERHEAD)
    est = F.least(
        F.when(eff < 1, 1.0 / (1.0 - eff)).otherwise(10.0), F.lit(SPARSE_CAP)
    )
    return agg.select(
        "n_total",
        "n_skipped",
        F.round(skip, 6).alias("skip_ratio"),
        F.round(est, 6).alias("est_speedup"),
        F.round(
            F.when(skip > 0, 1.0 / (1.0 - skip * RUNTIME_FACTOR)).otherwise(
                1.0
            ),
            6,
        ).alias("runtime_speedup"),
        F.round((1 - 1.0 / est) * 100, 6).alias("power_reduction_pct"),
    )


# ---------------------------------------------------------------------------
# CSR row_ptr reconstruction (J3) — driver-checked
# ---------------------------------------------------------------------------

CSR_NZ_THRESHOLD = 0.1  # |v| >= t nonzero rule, sparsity_optimizer.py:86


@query(
    "q145_csr_rowptr",
    oracle=f"""
    WITH nz AS (SELECT vec_id, dim, v FROM {_duck_coords(None)}
                WHERE abs(v) >= {CSR_NZ_THRESHOLD!r}),
    per_row AS (SELECT vec_id, COUNT(*) AS nnz FROM nz GROUP BY vec_id)
    SELECT vec_id, nnz,
           CAST(COALESCE(SUM(nnz) OVER (ORDER BY vec_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                         AND 1 PRECEDING), 0) AS BIGINT) AS row_ptr
    FROM per_row
    """,
)
def q145_csr_rowptr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CSR row-pointer reconstruction (J3,
    `sparsity_optimizer.py:202-229`) over the thresholded embedding
    matrix, through the DISTRIBUTED two-pass prefix sum
    (`csr_from_coords`): rows bin into order-preserving buckets, only
    the <=256 bucket totals visit the driver for the exclusive offset
    scan, and the within-bucket cumsum is a partitioned window — never
    the single-partition global window the oracle's plain
    ``SUM() OVER (ORDER BY ...)`` uses. The driver hash-match proves
    the bucketed scan equals the sequential definition."""
    coords = embedding_coords(spark, sf_dir)
    nz = coords.filter(F.abs(F.col("v")) >= CSR_NZ_THRESHOLD)
    csr = csr_from_coords(nz, n_rows_col="vec_id")
    return csr.select(
        "vec_id",
        "nnz",
        F.col("row_ptr").cast("long").alias("row_ptr"),
    )


# ---------------------------------------------------------------------------
# Array higher-order functions (the JVM-side lambda tier) — driver-checked
# ---------------------------------------------------------------------------

HOF_POS_THRESHOLD = 0.5


@query(
    "q152_array_hof",
    oracle=f"""
    WITH coords AS (SELECT vec_id, dim, v FROM {_duck_coords(None)})
    SELECT vec_id,
           CAST(COUNT(*) AS INTEGER) AS n_dims,
           CAST(SUM(CASE WHEN v > 0 THEN 1 ELSE 0 END) AS INTEGER)
               AS n_positive,
           {duck_exact_sum("v", 9)} AS total,
           ROUND(MAX(v), 6) AS vmax,
           CAST(MIN(CASE WHEN v > {HOF_POS_THRESHOLD!r} THEN dim END)
                AS INTEGER) AS first_hot_dim
    FROM coords GROUP BY vec_id
    """,
)
def q152_array_hof(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The array higher-order-function tier (transform / filter /
    aggregate / array_max / array_position — lambdas compiled INTO
    whole-stage codegen, zero explode, zero Python): per embedding, the
    dimension count, positive count via filter+size, the exact 9dp-unit
    aggregate fold (q52's order-independent-sum technique — a naive
    float fold would hash-mismatch the oracle's grouped sum), the max
    element, and the first dimension above {HOF_POS_THRESHOLD}. The
    oracle computes the same five values from exploded per-dimension
    rows — the HOF loop and the relational plan must agree exactly.

    Scale: one narrow projection over the vector column; per-row work
    is O(dims) inside codegen. The exploded twin shuffles
    rows x dims — this is why the HOF tier exists."""
    emb = read_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("e")
    )
    fold = F.aggregate(
        F.transform(
            F.col("e"), lambda x: F.round(x * 1_000_000_000).cast("long")
        ),
        F.lit(0).cast("long"),
        lambda acc, x: acc + x,
    ) / 1_000_000_000.0
    first_hot = F.array_position(
        F.transform(F.col("e"), lambda x: x > HOF_POS_THRESHOLD), F.lit(True)
    )
    return emb.select(
        "vec_id",
        F.size("e").cast("int").alias("n_dims"),
        F.size(F.filter(F.col("e"), lambda x: x > 0)).cast("int")
        .alias("n_positive"),
        fold.alias("total"),
        F.round(F.array_max("e"), 6).alias("vmax"),
        F.when(first_hot > 0, first_hot - 1).cast("int")
        .alias("first_hot_dim"),
    )

@query(
    "q177_nucleus_sampling",
    oracle=f"""
    WITH sm AS (
        SELECT vec_id, dim,
               ROUND(e / (CAST(SUM(CAST(ROUND(e * 1000000) AS BIGINT))
                          OVER (PARTITION BY vec_id) AS BIGINT)
                          / 1000000.0), 6) AS p
        FROM (SELECT vec_id, dim,
                     ROUND(exp(v - MAX(v) OVER (PARTITION BY vec_id)), 6)
                         AS e
              FROM {_duck_coords(8)})),
    ranked AS (
        SELECT vec_id, dim, p,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY p DESC, dim) AS rnk,
               CAST(SUM(CAST(ROUND(p * 1000000) AS BIGINT))
                    OVER (PARTITION BY vec_id ORDER BY p DESC, dim
                          ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) / 1000000.0 AS cum_p
        FROM sm),
    nucleus AS (
        SELECT *,
               CASE WHEN cum_p - p < 0.9 THEN 1 ELSE 0 END AS in_nucleus
        FROM ranked)
    SELECT vec_id,
           CAST(SUM(in_nucleus) AS BIGINT) AS nucleus_size,
           ROUND(CAST(SUM(CASE WHEN in_nucleus = 1
                    THEN CAST(ROUND(p * 1000000) AS BIGINT)
                    ELSE 0 END) AS BIGINT) / 1000000.0, 6) AS nucleus_mass,
           ROUND(MAX(CASE WHEN rnk = 1 THEN p END), 6) AS top_p1,
           CAST(MAX(CASE WHEN rnk = 1 THEN dim END) AS INTEGER) AS top_dim
    FROM nucleus GROUP BY vec_id
    """,
)
def q177_nucleus_sampling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nucleus (top-p, Holtzman et al. 2019) sampling analytics over the
    classifier distributions: per vector, softmax → probability-ranked
    cumulative mass → the smallest prefix whose mass reaches p=0.9 (a
    token is IN the nucleus iff the cumulative mass BEFORE it is still
    under p — the standard cutoff that always keeps the top token).
    Reports nucleus size, its renormalizable mass, and the greedy
    (top-1) choice — the sampling-entropy telemetry an LLM-serving or
    distillation pipeline tracks per batch. One window partition per
    vector; cumulative sums in exact integer units."""
    coords = embedding_coords(spark, sf_dir, max_vec=8)
    w = Window.partitionBy("vec_id")
    e = F.round(F.exp(F.col("v") - F.max("v").over(w)), 6)
    with_e = coords.withColumn("e", e)
    denom = (
        F.sum(F.round(F.col("e") * 1_000_000).cast("long")).over(w)
        / 1_000_000.0
    )
    sm = with_e.select(
        "vec_id", "dim", F.round(F.col("e") / denom, 6).alias("p")
    )
    wo = Window.partitionBy("vec_id").orderBy(F.desc("p"), "dim")
    wcum = wo.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ranked = sm.select(
        "vec_id",
        "dim",
        "p",
        F.row_number().over(wo).alias("rnk"),
        (
            F.sum(F.round(F.col("p") * 1_000_000).cast("long")).over(wcum)
            / 1_000_000.0
        ).alias("cum_p"),
    )
    in_nuc = F.when(F.col("cum_p") - F.col("p") < 0.9, 1).otherwise(0)
    nucleus = ranked.withColumn("in_nucleus", in_nuc)
    return nucleus.groupBy("vec_id").agg(
        F.sum("in_nucleus").cast("long").alias("nucleus_size"),
        F.round(
            F.sum(
                F.when(
                    F.col("in_nucleus") == 1,
                    F.round(F.col("p") * 1_000_000).cast("long"),
                ).otherwise(F.lit(0).cast("long"))
            )
            / 1_000_000.0,
            6,
        ).alias("nucleus_mass"),
        F.round(
            F.max(F.when(F.col("rnk") == 1, F.col("p"))), 6
        ).alias("top_p1"),
        F.max(F.when(F.col("rnk") == 1, F.col("dim")))
        .cast("int")
        .alias("top_dim"),
    )


# ---------------------------------------------------------------------------
# Spectral: top singular direction by integer-exact power iteration
# ---------------------------------------------------------------------------

_PI_ITERS = 64  # fixed power-iteration count (deterministic, unrolled oracle)
_PI_TOP = 5  # report the top-k dimensions by |loading|


def _pi_oracle_sql() -> str:
    """Unrolled power iteration over the normalized moment matrix as a
    CTE chain — every step is integer arithmetic (sign-guarded
    division: operands made nonnegative before `//`, so DuckDB/Spark's
    truncating division and Python's flooring `//` can never disagree
    on negatives)."""
    ctes = [
        f"""coords AS MATERIALIZED (
        SELECT vec_id, dim, CAST(ROUND(v * 1000) AS BIGINT) AS v3
        FROM {_duck_coords(None)} raw)""",   # DOUBLE-cast v: FLOAT*1000
        # in DuckDB would round on float32 grid (0.3195f*1000 == 319.5f)
        """m AS MATERIALIZED (SELECT a.dim AS i, b.dim AS j,
                      CAST(SUM(a.v3 * b.v3) AS BIGINT) AS mv
               FROM coords a JOIN coords b ON a.vec_id = b.vec_id
               GROUP BY a.dim, b.dim)""",
        "mm AS MATERIALIZED (SELECT MAX(ABS(mv)) AS mmax FROM m)",
        """mn AS MATERIALIZED (SELECT i, j,
                       CASE WHEN mv < 0 THEN -1 ELSE 1 END
                       * ((ABS(mv) * 1000000) // mmax) AS mv6
                FROM m, mm)""",
        """it0 AS MATERIALIZED (SELECT DISTINCT i AS dim, CAST(1000000 AS BIGINT) AS v
                 FROM m)""",
    ]
    for k in range(1, _PI_ITERS + 1):
        ctes.append(
            f"""x{k} AS MATERIALIZED (SELECT mn.i AS dim,
                       CAST(SUM(mn.mv6 * p.v) AS BIGINT) AS x
                FROM mn JOIN it{k - 1} p ON mn.j = p.dim GROUP BY mn.i)"""
        )
        ctes.append(
            f"""it{k} AS MATERIALIZED (SELECT dim,
                       CASE WHEN x < 0 THEN -1 ELSE 1 END
                       * ((ABS(x) * 1000000)
                          // (SELECT MAX(ABS(x)) FROM x{k})) AS v
                 FROM x{k})"""
        )
    ctes.append(
        f"xmax AS (SELECT CAST(MAX(ABS(x)) AS BIGINT) AS xm FROM x{_PI_ITERS})"
    )
    ctes.append(
        f"""sgn AS (SELECT CASE WHEN v < 0 THEN -1 ELSE 1 END AS s
               FROM it{_PI_ITERS} ORDER BY ABS(v) DESC, dim LIMIT 1)"""
    )
    ctes.append(
        f"""ranked AS (SELECT dim, CAST(v * s AS BIGINT) AS vs,
                       ROW_NUMBER() OVER (ORDER BY ABS(v) DESC, dim) AS rnk
                FROM it{_PI_ITERS}, sgn)"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + f"""
    SELECT CAST(rnk AS INTEGER) AS rank, dim,
           vs / 1000000.0 AS loading,
           ((xm + 500000) // 1000000) / 1000000.0 AS lambda_ratio
    FROM ranked, xmax WHERE rnk <= {_PI_TOP} ORDER BY rnk"""
    )


@query("q240_power_iteration", oracle=_pi_oracle_sql())
def q240_power_iteration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top singular direction of the embedding matrix by POWER ITERATION
    on the (uncentered) second-moment matrix M = X^T X — the dominant
    latent axis (LSA's first component; the direction the all-but-the-top
    ANN residualizers and the SemDeDup centroids lean on), computed with
    the repo's exact-integer discipline end to end: coordinates quantize
    to 1e-3 units, M accumulates as exact BIGINTs, the matrix normalizes
    by its max entry via sign-guarded division (sign(x)*(|x|*1e6
    div max) — written that way so DuckDB's truncating `//`, Spark's
    truncating `div`, and python's FLOORING `//` can never disagree on
    negative entries), and each of the 64 fixed iterations max-normalizes the
    vector back to 1e6 units. Every intermediate is an integer, so the
    eigenvector — not just its error bound — is bit-identical on both
    engines; sign canonicalizes at the max-|loading| dimension;
    lambda_ratio = dominant eigenvalue of M/max|M|, half-up-rounded to
    6dp AT THE INTEGER LEVEL ((xm+5e5)//1e6 — the exact_sum_round6
    discipline; float ROUND of xm/1e12 diverged at sf1 on a .5-boundary).

    Scale (100 TB): the corpus reduces ONCE to the 64x64 moment matrix
    (map-side partial sums; the 4096-row result is the bounded collect
    the registry contract audits, same class as IVF centroids); the
    iteration runs on that sketch driver-side in pure-int python — no
    per-iteration corpus pass, unlike Lloyd's (q88). The numpy-blocked
    Gram fast path (q30b) is the drop-in for the reduce when 64 -> 4k
    dims."""
    coords = embedding_coords(spark, sf_dir).select(
        "vec_id",
        "dim",
        F.round(F.col("v") * 1000).cast("long").alias("v3"),
    )
    a, b = coords.alias("a"), coords.alias("b")
    m = (
        a.join(b, F.col("a.vec_id") == F.col("b.vec_id"))
        .groupBy(
            F.col("a.dim").alias("i"), F.col("b.dim").alias("j")
        )
        .agg(F.sum(F.col("a.v3") * F.col("b.v3")).alias("mv"))
    )
    rows = m.collect()  # bounded: 64x64 moment sketch, never corpus-sized
    mmax = max(abs(r["mv"]) for r in rows)
    mn = {
        (r["i"], r["j"]): (-1 if r["mv"] < 0 else 1)
        * ((abs(r["mv"]) * 1_000_000) // mmax)
        for r in rows
    }
    dims = sorted({i for i, _ in mn})
    v = {d: 1_000_000 for d in dims}
    xm = 0
    for _ in range(_PI_ITERS):
        x = {
            i: sum(mn[(i, j)] * v[j] for j in dims if (i, j) in mn)
            for i in dims
        }
        xm = max(abs(xv) for xv in x.values())
        v = {
            i: (-1 if xv < 0 else 1) * ((abs(xv) * 1_000_000) // xm)
            for i, xv in x.items()
        }
    lead = min(dims, key=lambda d: (-abs(v[d]), d))
    s = -1 if v[lead] < 0 else 1
    ranked = sorted(dims, key=lambda d: (-abs(v[d]), d))[:_PI_TOP]
    out = [
        (rk + 1, int(d), s * v[d] / 1_000_000.0,
         ((xm + 500_000) // 1_000_000) / 1_000_000.0)
        for rk, d in enumerate(ranked)
    ]
    return spark.createDataFrame(
        out, "rank int, dim int, loading double, lambda_ratio double"
    )
