"""Neural-network composite operators (SURVEY §2A J4-J6): attention,
conv2d via im2col range-join, LSTM recurrence.

These are the reference's heaviest compute kernels re-expressed as
relational algebra over coordinate tables:
- attention = two coordinate matmuls with a softmax between them
  (`model_zoo/export_bert_tiny.py:17-30`, `transformer_ops.py:136-143`);
- conv2d = join pixels to a broadcast kernel-offset table, group by output
  pixel (`nn_topology.h:47-49`; the im2col strategy of SURVEY J4);
- LSTM = per-sequence numpy recurrence under applyInPandas
  (`imc22_sdk/imc22_cim.c:144-172`, `rtl/lstm_unit.v:10-138`) — state is
  sequential within a sequence, embarrassingly parallel across sequences.

Scale notes: Q/K/V and kernels are the bounded operands (broadcast); the
pixel/token stream is the unbounded side and never shuffles for the
kernel join — only the grouped reduction shuffles, at O(output) volume.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_reflex_spark.functions import (
    duck_exact_sum,
    duck_exact_sum_round6,
    exact_sum,
    exact_sum_round6,
    spark_exact_sum,
    spark_exact_sum_round6,
)
from hive_reflex_spark.io import corpus_checkpoint, read_table
from hive_reflex_spark.operators.tensor import _duck_coords, embedding_coords
from hive_reflex_spark.registry import query

N_Q = 4  # attention query vectors: vec_id 0..3
KV_LO, KV_HI = 100, 108  # keys/values: vec_id 100..107
SQRT_D = 8.0  # sqrt(64)


def _attn_oracle(n_q: int, kv_lo: int, kv_hi: int) -> str:
    """q66's attention oracle parameterized over the Q/KV id ranges."""
    return f"""
    WITH coords AS (SELECT * FROM {_duck_coords(None)} c),
         q AS (SELECT vec_id AS qid, dim, v FROM coords
               WHERE vec_id < {n_q}),
         kv AS (SELECT vec_id AS kid, dim, v FROM coords
                WHERE vec_id >= {kv_lo} AND vec_id < {kv_hi}),
         scores AS (SELECT qid, kid,
                           {duck_exact_sum(f"q.v * kv.v / {SQRT_D}", 9)} AS s
                    FROM q JOIN kv USING (dim) GROUP BY qid, kid),
         expd AS (SELECT qid, kid,
                         ROUND(exp(s - MAX(s) OVER (PARTITION BY qid)), 6) AS e
                  FROM scores),
         attn AS (SELECT qid, kid,
                         e / (CAST(SUM(CAST(ROUND(e * 1000000) AS BIGINT))
                              OVER (PARTITION BY qid) AS BIGINT) / 1000000.0)
                             AS w
                  FROM expd)
    SELECT qid, dim AS out_dim,
           {duck_exact_sum_round6("attn.w * kv.v")} AS out_v
    FROM attn JOIN kv USING (kid)
    GROUP BY qid, dim
    """


def _attention(
    spark: SparkSession, sf_dir: str, n_q: int, kv_lo: int, kv_hi: int
) -> DataFrame:
    """q66's attention chain over queries ``vec_id < n_q`` and keys/values
    ``kv_lo <= vec_id < kv_hi`` (shuffle shape: see q66)."""
    coords = embedding_coords(spark, sf_dir)
    q = (
        coords.filter(F.col("vec_id") < n_q)
        .select(F.col("vec_id").alias("qid"), "dim", "v")
        .repartition("qid")
    )
    kv = coords.filter(
        (F.col("vec_id") >= kv_lo) & (F.col("vec_id") < kv_hi)
    ).select(F.col("vec_id").alias("kid"), "dim", "v")
    scores = (
        q.alias("q")
        .join(F.broadcast(kv.alias("k")), "dim")
        .groupBy("qid", "kid")
        .agg(F.expr(f"{spark_exact_sum(f'q.v * k.v / {SQRT_D}', 9)} AS s"))
    )
    # softmax as two parsed window expressions (plan-identical: same two
    # qid-partitioned Window specs the Column form built; 1e6 is a DOUBLE
    # literal, matching the Python-float divisor — never write 1000000.0
    # in SQL, which parses as DECIMAL and changes the arithmetic)
    attn = scores.selectExpr(
        "qid",
        "kid",
        "round(exp(s - max(s) OVER (PARTITION BY qid)), 6) AS e",
    ).selectExpr(
        "qid",
        "kid",
        "e / (sum(CAST(round(e * 1e6) AS BIGINT))"
        " OVER (PARTITION BY qid) / 1e6) AS w",
    )
    return (
        attn.join(F.broadcast(kv), "kid")
        .groupBy("qid", F.col("dim").alias("out_dim"))
        .agg(F.expr(f"{spark_exact_sum_round6('w * v')} AS out_v"))
    )


@query("q66_attention", oracle=_attn_oracle(N_Q, KV_LO, KV_HI))
def q66_attention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scaled dot-product attention (J6): scores = Q·Kᵀ/√d → row softmax →
    ·V, as two coordinate matmuls around the P18 softmax. K/V (the bounded
    side) broadcast; exp pre-rounded to 6dp for engine parity.

    Shuffle shape: ONE exchange. The Q side is hash-partitioned on qid
    right after the scan; every downstream requirement — the score
    aggregation on (qid, kid), both softmax windows on qid, and the
    output aggregation on (qid, dim) — clusters on a superset of {qid},
    so HashPartitioning(qid) satisfies all of them and Catalyst inserts
    no further exchanges (K/V joins stream broadcast-side). At 100 TB
    that is the canonical attention layout: partition by query row once,
    keep scores, softmax and the context reduction co-located."""
    return _attention(spark, sf_dir, N_Q, KV_LO, KV_HI)


@query("q66c_attention_scaled", oracle=_attn_oracle(256, 256, 320))
def q66c_attention_scaled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q66's attention chain at a NON-fixture-bound size: 256 query rows
    against a 64-key/value block (vec_id 256..319) — 16k score pairs and
    a 16k-row softmax instead of q66's fixed 4x8 block, so the driver's
    check and the bench measure the PLAN (broadcast KV, one qid-keyed
    exchange serving scores, both softmax windows, and the output
    reduction), not the job floor. Identical exact-integer discipline
    and the identical single-exchange shuffle shape as q66 — see q66's
    docstring for the 100-TB layout argument; scaled evidence for the
    coordinate-join tensor tier lives in BASELINE.md ("Measured (round
    6)", attention at 4096 queries x 512 keys/values)."""
    return _attention(spark, sf_dir, 256, 256, 320)


def attention_blocked(
    q_df: DataFrame,
    kv_rows: list,
    sqrt_d: float = SQRT_D,
) -> DataFrame:
    """Scaled dot-product attention on the numpy-blocked fast path —
    the q30b lesson (Arrow batches + BLAS-shaped kernels, 26x the
    coordinate plan on dense Gram) applied to the full QKᵀ → softmax →
    ·V chain. K/V is the bounded operand (broadcast, exactly the weight
    bank the reference streams from flash — the 256-lane MAC array
    `rtl/cim_mac_array.v:1-63` exists to batch THIS contraction); the
    query stream tiles for free as mapInPandas input, each Arrow batch
    computing its block of scores, softmax and context with vectorized
    per-k outer products.

    Every rounding site replays the coordinate chain's exact-integer
    discipline so the SAME oracle verifies both plans bit-for-bit:
    score terms round half-away to 1e-9 units via
    ``rounding.round_half_away`` (bit-exact to C ``std::round`` =
    DuckDB ROUND — numpy's round is half-even and sign*floor(|x|+0.5)
    drifts at near-.5 boundaries), exp goes through libm math.exp
    (DuckDB's exp; numpy's SIMD exp can sit one ulp off a .5 boundary),
    softmax weights renormalize on the rounded 1e-6 grid, and the
    context reduction applies the exact_sum_round6 half-up at the
    integer level.

    ``q_df`` must have (qid long, embedding array) rows; ``kv_rows`` is
    the collected bounded side as (kid, embedding) rows."""
    import math

    from hive_reflex_spark.operators.rounding import round_half_away as _half_away

    kv_ids = np.array([r[0] for r in kv_rows], dtype=np.int64)
    kv_mat = np.array([list(r[1]) for r in kv_rows], dtype=np.float64)
    sc = q_df.sparkSession.sparkContext
    b_ids, b_mat = sc.broadcast(kv_ids), sc.broadcast(kv_mat)
    inv = 1.0 / sqrt_d  # power-of-two divisor: x*inv == x/sqrt_d exactly

    def blocks(batches):
        K = b_mat.value
        Ki = b_ids.value
        n_kv, d = K.shape
        for pdf in batches:
            Q = np.array(list(pdf["embedding"]), dtype=np.float64)
            Qi = pdf["qid"].to_numpy(dtype=np.int64)
            n = len(Qi)
            # scores: per-term round to 1e-9 units, exact int64 sums
            S = np.zeros((n, n_kv), dtype=np.float64)
            for k in range(d):
                S += _half_away(np.outer(Q[:, k], K[:, k]) * inv * 1e9)
            s = S / 1e9
            # softmax on the 1e-6 grid: e = ROUND(exp(s - max), 6)
            sm = s - s.max(axis=1, keepdims=True)
            ex = np.frompyfunc(math.exp, 1, 1)(sm).astype(np.float64)
            e6u = _half_away(ex * 1e6)  # exp >= 0: half-up == half-away
            e = e6u / 1e6
            w = e / (e6u.sum(axis=1, keepdims=True) / 1e6)
            # context: per-term round to 1e-9 units, half-up to 6dp
            T = np.zeros((n, d), dtype=np.float64)
            for j in range(n_kv):
                T += _half_away(np.outer(w[:, j], K[j, :]) * 1e9)
            out = np.floor((T + 500.0) / 1000.0) / 1e6
            ii, dd = np.indices((n, d))
            yield pd.DataFrame(
                {
                    "qid": Qi[ii.ravel()],
                    # int32, matching the shared _attn_oracle's `dim AS
                    # out_dim` and the coordinate-chain twins (q66/q66c):
                    # widening here alone would leave the one engine-side
                    # width mismatch in the family
                    "out_dim": dd.ravel().astype(np.int32),
                    "out_v": out.ravel(),
                }
            )

    return q_df.mapInPandas(blocks, "qid long, out_dim int, out_v double")


@query("q66d_attention_blocked", oracle=_attn_oracle(256, 256, 320))
def q66d_attention_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q66c's 256x64 attention on the numpy-blocked tier
    (``attention_blocked``): same Q/KV ranges, same exact-integer
    rounding sites, verified against the IDENTICAL oracle as the
    coordinate chain — the two plans are interchangeable by
    construction, and this is the one to reach for when the score
    matrix is work-bound rather than job-floor-bound (the Gram
    measurement: coordinate 4.9-5.9x DuckDB at sf1 sizes, blocked
    0.19x). V reuses K here exactly as q66/q66c's kv block does.

    Scale shape: ZERO shuffles — the only exchange q66c keeps (qid
    hash) exists to co-locate score/softmax/context rows, but in the
    blocked plan a query row never leaves its Arrow batch: scores,
    softmax and context for a qid all happen in one numpy block, so the
    plan is scan → mapInPandas → done, embarrassingly parallel over
    query tiles at any corpus size (K/V stays the broadcast-bounded
    operand; a both-sides-huge attention tiles K/V into column blocks
    inside the same kernel, FlashAttention-style)."""
    n_q, kv_lo, kv_hi = 256, 256, 320
    emb = read_table(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < n_q).select(
        F.col("vec_id").alias("qid"), "embedding"
    )
    kv = (
        emb.filter((F.col("vec_id") >= kv_lo) & (F.col("vec_id") < kv_hi))
        .select(F.col("vec_id").alias("kid"), "embedding")
        .collect()  # bounded: one 64 x 64 K/V block
    )
    return attention_blocked(q, kv)


@query(
    "q67_conv2d",
    oracle=f"""
    WITH img AS (SELECT vec_id AS y, dim AS x, v
                 FROM {_duck_coords(32)} c),
         kernel AS (SELECT dy, dx, 1.0 / 9 AS w
                    FROM (SELECT unnest(range(-1, 2)) AS dy) a,
                         (SELECT unnest(range(-1, 2)) AS dx) b)
    SELECT (y - dy) AS oy, (x - dx) AS ox,
           {duck_exact_sum_round6("v * w")} AS conv_v,
           COUNT(*) AS n_taps
    FROM img, kernel
    WHERE (y - dy) BETWEEN 1 AND 30 AND (x - dx) BETWEEN 1 AND 62
    GROUP BY oy, ox
    """,
)
def q67_conv2d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3x3 box Conv2D via im2col-as-join (J4): the 32x64 'image' (vec_id ×
    dim) cross-joins a broadcast 9-row kernel-offset table, shifts to the
    output pixel, groups. Valid padding → every output has 9 taps. At
    scale the image side streams; only the O(output-pixels) reduction
    shuffles. Depthwise = add a channel equality key; stride = filter on
    oy%s=0."""
    coords = embedding_coords(spark, sf_dir, max_vec=32)
    img = coords.select(
        F.col("vec_id").alias("y"), F.col("dim").alias("x"), "v"
    )
    offsets = [(dy, dx) for dy in (-1, 0, 1) for dx in (-1, 0, 1)]
    kernel = spark.createDataFrame(offsets, "dy int, dx int").withColumn(
        "w", F.lit(1.0) / 9
    )
    return (
        img.crossJoin(F.broadcast(kernel))
        .withColumn("oy", F.col("y") - F.col("dy"))
        .withColumn("ox", (F.col("x") - F.col("dx")).cast("long"))
        .filter(F.col("oy").between(1, 30) & F.col("ox").between(1, 62))
        .groupBy("oy", "ox")
        .agg(
            exact_sum_round6(F.col("v") * F.col("w")).alias("conv_v"),
            F.count("*").alias("n_taps"),
        )
    )


def conv2d_blocked(
    img_df: DataFrame,
    h: int,
    w_dim: int,
    kernel_w: float = 1.0 / 9,
) -> DataFrame:
    """3x3 valid-padding box Conv2D on the numpy-blocked tier — the
    q30b/q66d lesson applied to the third heavy kernel family (J4,
    `nn_topology.h:47-49`). ``img_df`` carries (img_id, y, x, v)
    coordinate rows; each IMAGE is the bounded operand (one Arrow batch
    per img_id via applyInPandas), so the kernel runs as 9 vectorized
    shifted-slice accumulations per image while images parallelize
    across the cluster — the layout a 100-TB image corpus convolves
    with (one group per decoded frame, exactly the multimodal decode
    tier's partitioning; channels/batch fold into img_id).

    Exact-integer parity with the coordinate-join oracle: per-tap terms
    compute as (v * w) * 1e9 in that association and round half-away
    via ``rounding.round_half_away`` (bit-exact to DuckDB ROUND —
    numpy's round is half-even, sign*floor(|x|+0.5) drifts at near-.5
    boundaries), per-pixel sums stay integer-exact in float64 (<2^53),
    finals apply the exact_sum_round6 half-up."""
    from hive_reflex_spark.operators.rounding import round_half_away

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        A = np.zeros((h, w_dim), dtype=np.float64)
        A[
            pdf["y"].to_numpy(dtype=np.int64),
            pdf["x"].to_numpy(dtype=np.int64),
        ] = pdf["v"].to_numpy(dtype=np.float64)
        T = np.zeros((h - 2, w_dim - 2), dtype=np.float64)
        for dy in (-1, 0, 1):
            for dx in (-1, 0, 1):
                sub = A[1 + dy : h - 1 + dy, 1 + dx : w_dim - 1 + dx]
                T += round_half_away((sub * kernel_w) * 1e9)
        out = np.floor((T + 500.0) / 1000.0) / 1e6
        oy, ox = np.indices(T.shape)
        return pd.DataFrame(
            {
                "oy": (oy.ravel() + 1).astype(np.int64),
                "ox": (ox.ravel() + 1).astype(np.int64),
                "conv_v": out.ravel(),
                "n_taps": np.full(T.size, 9, dtype=np.int64),
            }
        )

    return img_df.groupBy("img_id").applyInPandas(
        fn, "oy long, ox long, conv_v double, n_taps long"
    )


@query(
    "q67b_conv2d_blocked",
    oracle=f"""
    WITH img AS (SELECT vec_id AS y, dim AS x, v
                 FROM {_duck_coords(32)} c),
         kernel AS (SELECT dy, dx, 1.0 / 9 AS w
                    FROM (SELECT unnest(range(-1, 2)) AS dy) a,
                         (SELECT unnest(range(-1, 2)) AS dx) b)
    SELECT (y - dy) AS oy, (x - dx) AS ox,
           {duck_exact_sum_round6("v * w")} AS conv_v,
           COUNT(*) AS n_taps
    FROM img, kernel
    WHERE (y - dy) BETWEEN 1 AND 30 AND (x - dx) BETWEEN 1 AND 62
    GROUP BY oy, ox
    """,
)
def q67b_conv2d_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q67's 3x3 box conv on the numpy-blocked tier (``conv2d_blocked``)
    over the same 32x64 image, verified against the IDENTICAL
    coordinate-join oracle as q67 — the blocked-kernel tier now covers
    all three heavy families (Gram q30b, attention q66d, conv q67b).
    Plan shape: scan -> one img_id exchange -> FlatMapGroupsInPandas;
    at corpus scale that one exchange is the per-image co-location any
    decode step already needs, and the 9-tap arithmetic runs as
    vectorized slices instead of a 9-way row explosion (q67's
    coordinate join multiplies the pixel stream 9x before reducing)."""
    coords = embedding_coords(spark, sf_dir, max_vec=32)
    img = coords.select(
        F.lit(0).alias("img_id"),
        F.col("vec_id").alias("y"),
        F.col("dim").alias("x"),
        "v",
    )
    return conv2d_blocked(img, 32, 64)


# ---------------------------------------------------------------------------
# LSTM (library tier — recurrence, numpy-oracled in tests)
# ---------------------------------------------------------------------------


def lstm_forward(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    input_cols: list[str],
    wx: np.ndarray,
    wh: np.ndarray,
    b: np.ndarray,
    hidden: int,
) -> DataFrame:
    """LSTM layer over per-key sequences (J5, `imc22_cim.c:144-172`):
    gates = σ/tanh(Wx·x + Wh·h + b) with persistent (h, c).

    ``wx``: (4H, D), ``wh``: (4H, H), ``b``: (4H,) in i,f,g,o order —
    the same packed-gate layout as `rtl/lstm_unit.v:10-138`. Weights ride
    to executors inside the task closure (they are the ≤512 KB operand);
    sequences stay distributed and recur independently per key.
    """
    hcols = ", ".join(f"h{i}:double" for i in range(hidden))
    schema = f"{df.schema.simpleString()[7:-1]},{hcols}"

    def sigmoid(x):
        return 1.0 / (1.0 + np.exp(-x))

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        x_seq = pdf[input_cols].to_numpy(dtype="float64")
        h = np.zeros(hidden)
        c = np.zeros(hidden)
        outs = np.zeros((len(pdf), hidden))
        for t in range(len(pdf)):
            z = wx @ x_seq[t] + wh @ h + b
            i, f, g, o = (
                sigmoid(z[:hidden]),
                sigmoid(z[hidden : 2 * hidden]),
                np.tanh(z[2 * hidden : 3 * hidden]),
                sigmoid(z[3 * hidden :]),
            )
            c = f * c + i * g
            h = o * np.tanh(c)
            outs[t] = h
        for j in range(hidden):
            pdf[f"h{j}"] = outs[:, j]
        return pdf

    return df.groupBy(*key_cols).applyInPandas(fn, schema)


@query("q68_lstm_hidden")
def q68_lstm_hidden(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSTM hidden-state trace over each user's event-value sequence
    (4 hidden units, fixed deterministic weights). Rows-only driver check —
    the recurrence is numpy-oracled in tests/test_nn.py."""
    from hive_reflex_spark.io import read_table

    events = read_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        (F.col("value") / 500.0).alias("x0"),
    )
    rng = np.random.default_rng(42)
    h = 4
    wx = rng.normal(scale=0.5, size=(4 * h, 1))
    wh = rng.normal(scale=0.5, size=(4 * h, h))
    b = np.zeros(4 * h)
    out = lstm_forward(events, ["user_id"], "ts_us", ["x0"], wx, wh, b, h)
    return out.select(
        "event_id",
        "user_id",
        *[F.round(F.col(f"h{i}"), 6).alias(f"h{i}") for i in range(h)],
    )


def gru_forward(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    input_cols: list[str],
    wx: np.ndarray,
    wh: np.ndarray,
    b: np.ndarray,
    hidden: int,
) -> DataFrame:
    """GRU layer over per-key sequences (the LAYER_GRU enum,
    `imc22_sdk/nn_topology.h:51`): z/r/n gates in packed order.

    ``wx``: (3H, D), ``wh``: (3H, H), ``b``: (3H,) — update, reset,
    candidate. Same distribution strategy as lstm_forward."""
    hcols = ", ".join(f"h{i}:double" for i in range(hidden))
    schema = f"{df.schema.simpleString()[7:-1]},{hcols}"

    def sigmoid(x):
        return 1.0 / (1.0 + np.exp(-x))

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        x_seq = pdf[input_cols].to_numpy(dtype="float64")
        h = np.zeros(hidden)
        outs = np.zeros((len(pdf), hidden))
        for t in range(len(pdf)):
            zx = wx @ x_seq[t] + b
            zh = wh @ h
            z = sigmoid(zx[:hidden] + zh[:hidden])
            r = sigmoid(zx[hidden : 2 * hidden] + zh[hidden : 2 * hidden])
            n = np.tanh(zx[2 * hidden :] + r * zh[2 * hidden :])
            h = (1 - z) * n + z * h
            outs[t] = h
        for j in range(hidden):
            pdf[f"h{j}"] = outs[:, j]
        return pdf

    return df.groupBy(*key_cols).applyInPandas(fn, schema)


def fold_batchnorm(
    weights: DataFrame, bn: DataFrame, eps: float = 1e-5
) -> DataFrame:
    """BatchNorm folding into the preceding layer's weights
    (`mlir_compiler/qat_trainer.py:165-257`): w' = w·γ/√(σ²+ε) per output
    channel — a broadcast join on (layer, i) + elementwise rescale; the
    bias shift b' = (b−μ)·γ/√(σ²+ε) + β follows the same join shape.

    weights: (layer, i, j, value); bn: (layer, i, gamma, beta, mean, var).
    """
    scale = F.col("gamma") / F.sqrt(F.col("var") + eps)
    return (
        weights.join(F.broadcast(bn), ["layer", "i"])
        .withColumn("value", F.col("value") * scale)
        .select("layer", "i", "j", "value")
    )


@query(
    "q66a_causal_attention",
    oracle=f"""
    WITH coords AS (SELECT * FROM {_duck_coords(16)} c),
         toks AS (SELECT vec_id AS pos, dim, v FROM coords),
         scores AS (SELECT q.pos AS qpos, k.pos AS kpos,
                           {duck_exact_sum(f"q.v * k.v / {SQRT_D}", 9)} AS s
                    FROM toks q JOIN toks k USING (dim)
                    WHERE k.pos <= q.pos
                    GROUP BY q.pos, k.pos),
         expd AS (SELECT qpos, kpos,
                         ROUND(exp(s - MAX(s) OVER (PARTITION BY qpos)), 6) AS e
                  FROM scores),
         attn AS (SELECT qpos, kpos,
                         e / (CAST(SUM(CAST(ROUND(e * 1000000) AS BIGINT))
                              OVER (PARTITION BY qpos) AS BIGINT) / 1000000.0)
                             AS w
                  FROM expd)
    , ranked AS (SELECT qpos, kpos,
                        ROW_NUMBER() OVER (PARTITION BY qpos
                                           ORDER BY w DESC, kpos) AS rn
                 FROM attn)
    SELECT a.qpos, COUNT(*) AS n_visible,
           ROUND(MAX(a.w), 6) AS max_weight,
           MIN(r.kpos) AS top_kpos
    FROM attn a JOIN ranked r ON a.qpos = r.qpos AND r.rn = 1
    GROUP BY a.qpos
    """,
)
def q66a_causal_attention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Causal (autoregressive) attention mask (FIXTURES §10's
    `key_pos <= query_pos` filter; NanoLlama's decoder blocks,
    `export_tinyllama.py:44-56`): the mask is a join predicate, so masked
    pairs are never materialized — position t sees exactly t+1 keys.
    Output: per query position, visible count + strongest key."""
    coords = embedding_coords(spark, sf_dir, max_vec=16)
    toks = coords.select(F.col("vec_id").alias("pos"), "dim", "v")
    q = toks.alias("q")
    k = toks.alias("k")
    scores = (
        q.join(
            k,
            (F.col("q.dim") == F.col("k.dim"))
            & (F.col("k.pos") <= F.col("q.pos")),
        )
        .groupBy(F.col("q.pos").alias("qpos"), F.col("k.pos").alias("kpos"))
        .agg(exact_sum(F.col("q.v") * F.col("k.v") / SQRT_D, 9).alias("s"))
    )
    wq = Window.partitionBy("qpos")
    e = F.round(F.exp(F.col("s") - F.max("s").over(wq)), 6)
    attn = scores.withColumn("e", e).withColumn(
        "w",
        F.col("e")
        / (F.sum(F.round(F.col("e") * 1_000_000).cast("long")).over(wq) / 1_000_000.0),
    )
    top = Window.partitionBy("qpos").orderBy(F.desc("w"), F.col("kpos"))
    ranked = attn.withColumn("rn", F.row_number().over(top))
    return (
        attn.groupBy("qpos")
        .agg(
            F.count("*").alias("n_visible"),
            F.round(F.max("w"), 6).alias("max_weight"),
        )
        .join(
            ranked.filter(F.col("rn") == 1).select(
                "qpos", F.col("kpos").alias("top_kpos")
            ),
            "qpos",
        )
    )


@query(
    "q67a_depthwise_conv1d",
    oracle=f"""
    WITH sig AS (SELECT vec_id AS channel, dim AS t, v
                 FROM {_duck_coords(16)} c),
         kernel AS (SELECT unnest(range(-2, 3)) AS dt)
    SELECT channel, (t - dt) AS ot,
           {duck_exact_sum_round6("v * 0.2")} AS conv_v,
           COUNT(*) AS n_taps
    FROM sig, kernel
    WHERE (t - dt) BETWEEN 2 AND 61
    GROUP BY channel, ot
    """,
)
def q67a_depthwise_conv1d(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Depthwise Conv1D (J4's depthwise variant, `export_micro_kws.py:33-48`
    DS-CNN blocks): the channel equality key means each channel convolves
    only with its own 5-tap kernel — the join never crosses channels, so
    at scale channels partition perfectly (shuffle key = channel)."""
    coords = embedding_coords(spark, sf_dir, max_vec=16)
    sig = coords.select(
        F.col("vec_id").alias("channel"), F.col("dim").alias("t"), "v"
    )
    kernel = spark.createDataFrame(
        [(dt,) for dt in range(-2, 3)], "dt int"
    )
    return (
        sig.crossJoin(F.broadcast(kernel))
        .withColumn("ot", (F.col("t") - F.col("dt")).cast("long"))
        .filter(F.col("ot").between(2, 61))
        .groupBy("channel", "ot")
        .agg(
            exact_sum_round6(F.col("v") * 0.2).alias("conv_v"),
            F.count("*").alias("n_taps"),
        )
    )


# ---------------------------------------------------------------------------
# LayerNorm / RMSNorm (transformer normalization tier)
# ---------------------------------------------------------------------------

LN_EPS = 1e-5  # reference default: transformer_ops.py _analyze_rmsnorm
LN_VECS = 16  # vectors normalized by the q107 pair
_P9 = 1_000_000_000  # 9dp integer units for order-independent sums


def _exact_mean_over(col, w, n):
    """Order-independent windowed mean: integer-unit sum / 1e9, then / n.

    The two divisions happen in this exact order in the DuckDB oracles
    too — binary64 division is exactly rounded, so identical operand
    order gives bit-identical results across engines."""
    return (
        F.sum(F.round(col * _P9).cast("long")).over(w) / float(_P9)
    ) / n


def layernorm_coords(
    df: DataFrame,
    keys: list[str],
    v_col: str = "v",
    gamma=None,
    beta=None,
    eps: float = LN_EPS,
) -> DataFrame:
    """LayerNormalization over a coordinate tensor (one row per element,
    normalized within each ``keys`` group): (v - mean) / sqrt(var + eps)
    * gamma + beta, per `mlir_compiler/transformer_ops.py:36-38`
    (_analyze_layernorm) as used by the BERT-Tiny export
    (`model_zoo/export_bert_tiny.py:42-45`, nn.LayerNorm(embed_dim)).

    Shuffle shape: ONE exchange on ``keys`` — the mean window, the
    variance window and the output projection all cluster on the same
    partitioning, so Catalyst chains the Window operators without
    re-shuffling. At 100 TB each token row-vector is one group; the
    stats never leave its partition.
    """
    w = Window.partitionBy(*keys)
    n = F.count(v_col).over(w)
    gamma = F.lit(1.0) if gamma is None else gamma
    beta = F.lit(0.0) if beta is None else beta
    out = (
        df.withColumn("_n", n)
        .withColumn("_mu", _exact_mean_over(F.col(v_col), w, F.col("_n")))
        .withColumn("_c", F.col(v_col) - F.col("_mu"))
        .withColumn(
            "_var",
            _exact_mean_over(F.col("_c") * F.col("_c"), w, F.col("_n")),
        )
        .withColumn(
            "ln_v",
            F.col("_c") / F.sqrt(F.col("_var") + F.lit(eps)) * gamma + beta,
        )
    )
    return out.drop("_n", "_mu", "_c", "_var")


def rmsnorm_coords(
    df: DataFrame,
    keys: list[str],
    v_col: str = "v",
    gamma=None,
    eps: float = LN_EPS,
) -> DataFrame:
    """RMSNorm (`transformer_ops.py:39,55-67` — "simplified LayerNorm
    without mean subtraction", the NanoLlama path): v / sqrt(mean(v²) +
    eps) * gamma. Same single-exchange shape as layernorm_coords, one
    window fewer."""
    w = Window.partitionBy(*keys)
    gamma = F.lit(1.0) if gamma is None else gamma
    out = (
        df.withColumn("_n", F.count(v_col).over(w))
        .withColumn(
            "_ms",
            _exact_mean_over(F.col(v_col) * F.col(v_col), w, F.col("_n")),
        )
        .withColumn(
            "rms_v",
            F.col(v_col) / F.sqrt(F.col("_ms") + F.lit(eps)) * gamma,
        )
    )
    return out.drop("_n", "_ms")


@query(
    "q107_layernorm",
    oracle=f"""
    WITH coords AS (SELECT vec_id, dim, v FROM {_duck_coords(LN_VECS)} c),
         st AS (SELECT vec_id, dim, v,
                       COUNT(*) OVER w AS n,
                       CAST(SUM(CAST(ROUND(v * 1000000000) AS BIGINT))
                            OVER w AS BIGINT) / 1000000000.0 AS su
                FROM coords WINDOW w AS (PARTITION BY vec_id)),
         cs AS (SELECT vec_id, dim, n, v - su / n AS c FROM st),
         vs AS (SELECT vec_id, dim, c, n,
                       CAST(SUM(CAST(ROUND(c * c * 1000000000) AS BIGINT))
                            OVER w2 AS BIGINT) / 1000000000.0 AS sv
                FROM cs WINDOW w2 AS (PARTITION BY vec_id))
    SELECT vec_id, dim,
           ROUND(c / sqrt(sv / n + 0.00001)
                 * (1 + dim / 128.0) + dim / 1000.0, 6) AS ln_v
    FROM vs
    """,
)
def q107_layernorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LayerNorm over the first 16 embedding vectors with a deterministic
    per-dim affine (gamma = 1 + dim/128, beta = dim/1000 — exercising the
    scale-shift path nn.LayerNorm learns). Completes the BERT-Tiny block
    inventory next to q66 attention + q39 GELU."""
    coords = embedding_coords(spark, sf_dir, max_vec=LN_VECS)
    out = layernorm_coords(
        coords.select("vec_id", "dim", "v"),
        keys=["vec_id"],
        gamma=F.lit(1.0) + F.col("dim") / F.lit(128.0),
        beta=F.col("dim") / F.lit(1000.0),
    )
    return out.select(
        "vec_id", "dim", F.round("ln_v", 6).alias("ln_v")
    )


@query(
    "q107a_rmsnorm",
    oracle=f"""
    WITH coords AS (SELECT vec_id, dim, v FROM {_duck_coords(LN_VECS)} c),
         st AS (SELECT vec_id, dim, v,
                       COUNT(*) OVER w AS n,
                       CAST(SUM(CAST(ROUND(v * v * 1000000000) AS BIGINT))
                            OVER w AS BIGINT) / 1000000000.0 AS s2
                FROM coords WINDOW w AS (PARTITION BY vec_id))
    SELECT vec_id, dim,
           ROUND(v / sqrt(s2 / n + 0.00001) * (1 + dim / 128.0), 6) AS rms_v
    FROM st
    """,
)
def q107a_rmsnorm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RMSNorm twin of q107 (no mean subtraction, no beta) — the
    NanoLlama-style normalization the reference compiler ingests as a
    custom ONNX op."""
    coords = embedding_coords(spark, sf_dir, max_vec=LN_VECS)
    out = rmsnorm_coords(
        coords.select("vec_id", "dim", "v"),
        keys=["vec_id"],
        gamma=F.lit(1.0) + F.col("dim") / F.lit(128.0),
    )
    return out.select(
        "vec_id", "dim", F.round("rms_v", 6).alias("rms_v")
    )


# ---------------------------------------------------------------------------
# Fixed-point hard-gate LSTM (oracle-checkable recurrence tier)
# ---------------------------------------------------------------------------

Q16 = 65536  # Q16.16 fixed point, the reference's hardware word format


def _lstm_fixed_weights(hidden: int) -> tuple[list, list, list]:
    """Deterministic dyadic Q16.16 packed-gate weights (i,f,g,o order).
    Dyadic rationals parse exactly from decimal in every engine, so the
    same numbers live in the Spark closure and the oracle SQL text."""
    n = 4 * hidden
    wxq, bq = [], []
    for k in range(n):
        gate, j = k // hidden, k % hidden  # 0=i, 1=f, 2=g, 3=o
        if gate == 0:  # input gate opens with the signal
            wxq.append(8192), bq.append(8192)
        elif gate == 1:  # forget gate decays under large inputs
            wxq.append(-4096), bq.append(49152)
        elif gate == 2:  # candidate: alternating sign per unit
            wxq.append(16384 if j % 2 == 0 else -16384)
            bq.append(-16384 if j % 2 == 0 else 16384)
        else:  # output gate ajar at rest
            wxq.append(4096), bq.append(16384)
    whq = [[((k + j) % 3 - 1) * 4096 for j in range(hidden)] for k in range(n)]
    return wxq, whq, bq


def lstm_fixed_forward(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    x_col: str,
    x_scale: float,
    hidden: int,
) -> DataFrame:
    """Q16.16 hard-gate LSTM over per-key sequences — the RTL semantics
    (`rtl/lstm_unit.v:57-80`: sigmoid/tanh are SATURATING CLAMPS, not
    transcendentals; `imc22_cim.c:145-172` dispatches the same packed
    i,f,g,o gate block) on the integer CIM word format (P12 Q16.16,
    `imc22_sdk` fixed-point conventions).

    Every step is integer arithmetic (products <= 2^40, exact in
    binary64; the only division is by the power-of-two scale, which is
    exact), so the trajectory is BIT-IDENTICAL in any engine — that is
    what makes this recurrence oracle-checkable via a recursive CTE
    (q68a) where the float LSTM (q68) can only be rows-only checked.

    Scale shape: sequences recur independently per key under
    applyInPandas — one exchange on ``key_cols``, weights ride in the
    task closure."""
    import math

    wxq, whq, bq = _lstm_fixed_weights(hidden)
    hcols = ", ".join(f"h{i}:double" for i in range(hidden))
    schema = f"{df.schema.simpleString()[7:-1]},{hcols}"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols).reset_index(drop=True)
        xs = pdf[x_col].to_numpy(dtype="float64")
        h = [0] * hidden
        c = [0] * hidden
        outs = np.zeros((len(pdf), hidden))
        for t in range(len(xs)):
            x = math.floor(xs[t] / x_scale * Q16)
            z = [0] * (4 * hidden)
            for k in range(4 * hidden):
                acc = wxq[k] * x
                for j in range(hidden):
                    acc += whq[k][j] * h[j]
                z[k] = math.floor(acc / float(Q16)) + bq[k]
            for j in range(hidden):
                i_g = min(max(z[j], 0), Q16)
                f_g = min(max(z[hidden + j], 0), Q16)
                g_g = min(max(z[2 * hidden + j], -Q16), Q16)
                o_g = min(max(z[3 * hidden + j], 0), Q16)
                c[j] = math.floor((f_g * c[j] + i_g * g_g) / float(Q16))
                tc = min(max(c[j], -Q16), Q16)
                h[j] = math.floor((o_g * tc) / float(Q16))
            for j in range(hidden):
                outs[t, j] = h[j] / float(Q16)
        for j in range(hidden):
            pdf[f"h{j}"] = outs[:, j]
        return pdf

    return df.groupBy(*key_cols).applyInPandas(fn, schema)


_LSTM_H = 2
_LSTM_XSCALE = 100.0


def _lstm_fixed_oracle(hidden: int = _LSTM_H) -> str:
    """Recursive-CTE replay of :func:`lstm_fixed_forward` — the q54-IIR
    technique extended to VECTOR state: the CTE carries (h, c) for every
    unit as BIGINT Q16.16 columns and each recursive step inlines the
    exact integer gate algebra. floor(x/65536.0) is used in both engines
    (never integer '/', whose negative semantics differ)."""
    wxq, whq, bq = _lstm_fixed_weights(hidden)

    def z(k: int) -> str:
        acc = f"({wxq[k]})*s.x"
        for j in range(hidden):
            acc += f" + ({whq[k][j]})*l.h{j}q"
        return f"(CAST(floor(({acc})/65536.0) AS BIGINT) + ({bq[k]}))"

    c_exprs, h_exprs = [], []
    for j in range(hidden):
        i_g = _clamp_sql(z(j), 0, Q16)
        f_g = _clamp_sql(z(hidden + j), 0, Q16)
        g_g = _clamp_sql(z(2 * hidden + j), -Q16, Q16)
        o_g = _clamp_sql(z(3 * hidden + j), 0, Q16)
        cj = (
            f"CAST(floor((({f_g})*l.c{j}q + ({i_g})*({g_g}))/65536.0)"
            " AS BIGINT)"
        )
        c_exprs.append(cj)
        tc = _clamp_sql(cj, -Q16, Q16)
        h_exprs.append(
            f"CAST(floor((({o_g})*({tc}))/65536.0) AS BIGINT)"
        )

    state_cols = ", ".join(
        f"{e} AS h{j}q" for j, e in enumerate(h_exprs)
    ) + ", " + ", ".join(f"{e} AS c{j}q" for j, e in enumerate(c_exprs))
    zero_state = ", ".join(
        f"CAST(0 AS BIGINT) AS h{j}q" for j in range(hidden)
    ) + ", " + ", ".join(f"CAST(0 AS BIGINT) AS c{j}q" for j in range(hidden))
    return _recurrence_oracle("lstm", zero_state, state_cols, hidden)


def _clamp_sql(e: str, lo: int, hi: int) -> str:
    return f"LEAST(GREATEST({e}, CAST({lo} AS BIGINT)), CAST({hi} AS BIGINT))"


def _recurrence_oracle(
    cte: str, zero_state: str, state_cols: str, hidden: int
) -> str:
    """The recursive CTE q68a-d's oracles share: each user's event
    sequence in (ts, event_id) order, advanced one row per step by
    ``state_cols`` from the previous row ``l``."""
    out_cols = ", ".join(f"h{j}q / 65536.0 AS h{j}" for j in range(hidden))
    return f"""
    WITH RECURSIVE seq AS MATERIALIZED (
        SELECT user_id, event_id,
               CAST(floor(value / {_LSTM_XSCALE} * 65536) AS BIGINT) AS x,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id) AS rn
        FROM events),
    {cte} AS (
        SELECT user_id, CAST(NULL AS BIGINT) AS event_id, 0 AS rn,
               CAST(0 AS BIGINT) AS x, {zero_state}
        FROM (SELECT DISTINCT user_id FROM seq)
        UNION ALL
        SELECT s.user_id, s.event_id, s.rn, s.x, {state_cols}
        FROM seq s JOIN {cte} l
          ON s.user_id = l.user_id AND s.rn = l.rn + 1)
    SELECT event_id, user_id, {out_cols} FROM {cte} WHERE rn >= 1
    """


@query("q68a_lstm_unrolled", oracle=_lstm_fixed_oracle())
def q68a_lstm_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked LSTM: the Q16.16 hard-gate recurrence over each
    user's event-value sequence (2 hidden units), replayed exactly by a
    recursive-CTE oracle. Closes J5's rows-only gap — q68 keeps the
    float LSTM (numpy-oracled), this pins the integer RTL semantics."""
    return _fixed_cell_query(spark, sf_dir, lstm_fixed_forward, ["user_id"])


def _fixed_cell_query(
    spark: SparkSession, sf_dir: str, forward, key
) -> DataFrame:
    """q68a-d: one Q16.16 recurrence ``forward`` (per-key or blocked,
    keyed by ``key``) over each user's event-value sequence."""
    events = read_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        "value",
    )
    out = forward(
        events, key, ["ts_us", "event_id"], "value", _LSTM_XSCALE, _LSTM_H
    )
    return out.select(
        "event_id", "user_id",
        *[F.col(f"h{j}") for j in range(_LSTM_H)],
    )


_LSTM_SALT = 16  # sequences per blocked-recurrence task group


def lstm_fixed_forward_blocked(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    x_col: str,
    x_scale: float,
    hidden: int,
) -> DataFrame:
    """Batched twin of :func:`lstm_fixed_forward`: the recurrence is
    sequential in TIME but embarrassingly parallel across SEQUENCES, so
    instead of one Python loop per key we salt keys into groups of many
    sequences, pad each group to its longest sequence, and advance ALL
    of them one step per numpy int64 operation — the classic batched-RNN
    layout (batch × hidden state matrix, H @ Whᵀ per step). Every
    arithmetic step is the same exact integer algebra as the per-key
    form (products ≤ 2^40 exact in int64; floor_divide == the
    floor(x/65536.0) both engines replay), so the trajectory — and the
    q68a recursive-CTE oracle — is bit-identical.

    Scale (100 TB): step count per task = the group's max sequence
    length, amortized over |group| sequences; Python-interpreter cost
    per element drops from ~4·h²+4·h ops to ~1/|group| of a vector op.
    The salt count tunes group width vs padding waste (sequences of
    wildly different lengths want length-bucketed salting)."""
    return _blocked_recurrence(
        df, key_col, order_cols, x_col, x_scale, hidden,
        _lstm_fixed_weights(hidden), _lstm_block_step,
    )


def _lstm_block_step(xt, h_st, c_st, wx, wh, bb, hidden):
    """One LSTM step for every sequence of a batch: (h, c) -> (h', c')."""
    acc = xt[:, None] * wx[None, :] + h_st @ wh.T  # (n, 4h)
    z = np.floor_divide(acc, Q16) + bb[None, :]
    i_g = np.clip(z[:, :hidden], 0, Q16)
    f_g = np.clip(z[:, hidden : 2 * hidden], 0, Q16)
    g_g = np.clip(z[:, 2 * hidden : 3 * hidden], -Q16, Q16)
    o_g = np.clip(z[:, 3 * hidden :], 0, Q16)
    c_new = np.floor_divide(f_g * c_st + i_g * g_g, Q16)
    tc = np.clip(c_new, -Q16, Q16)
    return np.floor_divide(o_g * tc, Q16), c_new


def _blocked_recurrence(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    x_col: str,
    x_scale: float,
    hidden: int,
    weights: tuple[list, list, list],
    step,
) -> DataFrame:
    """The salted, padded batch layout shared by the blocked LSTM and GRU:
    ``step(xt, h, c, wx, wh, bb, hidden) -> (h', c')`` advances every
    sequence of a group by one time step; padded slots keep their state."""
    wxq, whq, bq = weights
    wx = np.array(wxq, dtype="int64")  # (kh,)
    wh = np.array(whq, dtype="int64")  # (kh, h)
    bb = np.array(bq, dtype="int64")  # (kh,)
    hcols = ", ".join(f"h{i}:double" for i in range(hidden))
    schema = f"{df.schema.simpleString()[7:-1]},{hcols}"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.drop(columns=["_salt"])
        pdf = pdf.sort_values([key_col, *order_cols]).reset_index(drop=True)
        keys = pdf[key_col].to_numpy()
        uniq, inv = np.unique(keys, return_inverse=True)
        n = len(uniq)
        # position of each row within its sequence
        pos = np.zeros(len(pdf), dtype="int64")
        lens = np.zeros(n, dtype="int64")
        for i, u in enumerate(inv):
            pos[i] = lens[u]
            lens[u] += 1
        t_max = int(lens.max()) if n else 0
        xq = np.floor(
            pdf[x_col].to_numpy(dtype="float64") / x_scale * Q16
        ).astype("int64")
        xmat = np.zeros((n, t_max), dtype="int64")
        xmat[inv, pos] = xq
        valid = np.zeros((n, t_max), dtype=bool)
        valid[inv, pos] = True
        h_st = np.zeros((n, hidden), dtype="int64")
        c_st = np.zeros((n, hidden), dtype="int64")
        outs = np.zeros((n, t_max, hidden), dtype="int64")
        for t in range(t_max):
            h_new, c_new = step(xmat[:, t], h_st, c_st, wx, wh, bb, hidden)
            live = valid[:, t][:, None]
            c_st = np.where(live, c_new, c_st)
            h_st = np.where(live, h_new, h_st)
            outs[:, t, :] = h_st
        row_h = outs[inv, pos, :]  # (rows, hidden) back in row order
        for j in range(hidden):
            pdf[f"h{j}"] = row_h[:, j] / float(Q16)
        return pdf

    salted = df.withColumn(
        "_salt", (F.col(key_col) % _LSTM_SALT).cast("int")
    )
    return salted.groupBy("_salt").applyInPandas(fn, schema)


@query("q68c_lstm_blocked", oracle=_lstm_fixed_oracle())
def q68c_lstm_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q68a's blocked twin — completes the batched-kernel family (Gram
    q30b, attention q66d, conv q67b, now the recurrence tier): identical
    Q16.16 hard-gate trajectory (same recursive-CTE oracle), but the
    Python time loop advances a whole BATCH of user sequences per step
    (salted groups of many users, padded to the group's longest
    sequence) instead of one. Parity with q68a is pinned by test; the
    oracle hash is the cross-engine proof."""
    return _fixed_cell_query(
        spark, sf_dir, lstm_fixed_forward_blocked, "user_id"
    )


# ---------------------------------------------------------------------------
# Fixed-point hard-gate GRU (q68a's technique on the LAYER_GRU enum)
# ---------------------------------------------------------------------------


def _gru_fixed_weights(hidden: int) -> tuple[list, list, list]:
    """Deterministic dyadic Q16.16 packed z/r/n weights (update, reset,
    candidate — `nn_topology.h:51` gate order)."""
    n = 3 * hidden
    wxq, bq = [], []
    for k in range(n):
        gate, j = k // hidden, k % hidden
        if gate == 0:  # update gate follows the signal
            wxq.append(8192), bq.append(8192)
        elif gate == 1:  # reset gate mostly open
            wxq.append(-4096), bq.append(49152)
        else:  # candidate: alternating sign per unit
            wxq.append(16384 if j % 2 == 0 else -16384)
            bq.append(-16384 if j % 2 == 0 else 16384)
    whq = [[((k + j) % 3 - 1) * 4096 for j in range(hidden)] for k in range(n)]
    return wxq, whq, bq


def gru_fixed_forward(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    x_col: str,
    x_scale: float,
    hidden: int,
) -> DataFrame:
    """Q16.16 hard-gate GRU over per-key sequences — the saturating-clamp
    activation semantics of `rtl/lstm_unit.v:57-80` applied to the GRU
    gate algebra of :func:`gru_forward` (z/r/n packed order,
    `nn_topology.h:51`): z,r = clamp(zx+zh, 0, 1); n = clamp(zx_n +
    r·zh_n, -1, 1); h' = (1−z)·n + z·h. Integer arithmetic throughout →
    bit-identical trajectory in any engine (oracled by q68b's recursive
    CTE)."""
    import math

    wxq, whq, bq = _gru_fixed_weights(hidden)
    hcols = ", ".join(f"h{i}:double" for i in range(hidden))
    schema = f"{df.schema.simpleString()[7:-1]},{hcols}"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_cols).reset_index(drop=True)
        xs = pdf[x_col].to_numpy(dtype="float64")
        h = [0] * hidden
        outs = np.zeros((len(pdf), hidden))
        for t in range(len(xs)):
            x = math.floor(xs[t] / x_scale * Q16)
            zx = [
                math.floor((wxq[k] * x) / float(Q16)) + bq[k]
                for k in range(3 * hidden)
            ]
            zh = []
            for k in range(3 * hidden):
                acc = 0
                for j in range(hidden):
                    acc += whq[k][j] * h[j]
                zh.append(math.floor(acc / float(Q16)))
            new_h = list(h)
            for j in range(hidden):
                z_g = min(max(zx[j] + zh[j], 0), Q16)
                r_g = min(max(zx[hidden + j] + zh[hidden + j], 0), Q16)
                n_pre = zx[2 * hidden + j] + math.floor(
                    (r_g * zh[2 * hidden + j]) / float(Q16)
                )
                n_g = min(max(n_pre, -Q16), Q16)
                new_h[j] = math.floor(
                    ((Q16 - z_g) * n_g + z_g * h[j]) / float(Q16)
                )
            h = new_h
            for j in range(hidden):
                outs[t, j] = h[j] / float(Q16)
        for j in range(hidden):
            pdf[f"h{j}"] = outs[:, j]
        return pdf

    return df.groupBy(*key_cols).applyInPandas(fn, schema)


def _gru_fixed_oracle(hidden: int = _LSTM_H) -> str:
    """Recursive-CTE replay of :func:`gru_fixed_forward` (the q68a
    vector-state technique; note h' reads the PREVIOUS h of every unit,
    which the CTE gets for free by computing all units from row l)."""
    wxq, whq, bq = _gru_fixed_weights(hidden)

    def zx(k: int) -> str:
        return (
            f"(CAST(floor((({wxq[k]})*s.x)/65536.0) AS BIGINT) + ({bq[k]}))"
        )

    def zh(k: int) -> str:
        acc = " + ".join(f"({whq[k][j]})*l.h{j}q" for j in range(hidden))
        return f"CAST(floor(({acc})/65536.0) AS BIGINT)"

    h_exprs = []
    for j in range(hidden):
        z_g = _clamp_sql(f"{zx(j)} + {zh(j)}", 0, Q16)
        r_g = _clamp_sql(f"{zx(hidden + j)} + {zh(hidden + j)}", 0, Q16)
        n_g = _clamp_sql(
            f"{zx(2 * hidden + j)} + CAST(floor((({r_g})*({zh(2 * hidden + j)}))"
            "/65536.0) AS BIGINT)",
            -Q16,
            Q16,
        )
        h_exprs.append(
            f"CAST(floor(((65536 - ({z_g}))*({n_g}) + ({z_g})*l.h{j}q)"
            "/65536.0) AS BIGINT)"
        )

    state_cols = ", ".join(f"{e} AS h{j}q" for j, e in enumerate(h_exprs))
    zero_state = ", ".join(
        f"CAST(0 AS BIGINT) AS h{j}q" for j in range(hidden)
    )
    return _recurrence_oracle("gru", zero_state, state_cols, hidden)


@query("q68b_gru_unrolled", oracle=_gru_fixed_oracle())
def q68b_gru_unrolled(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hash-checked GRU twin of q68a (J5's second cell type,
    `nn_topology.h:51` LAYER_GRU): same event-value sequences, 2 hidden
    units, integer hard-gate algebra."""
    return _fixed_cell_query(spark, sf_dir, gru_fixed_forward, ["user_id"])


def gru_fixed_forward_blocked(
    df: DataFrame,
    key_col: str,
    order_cols: list[str],
    x_col: str,
    x_scale: float,
    hidden: int,
) -> DataFrame:
    """Batched GRU twin (see :func:`lstm_fixed_forward_blocked` for the
    layout): salted groups, padded batch, masked state advance. The GRU
    algebra floors zx and zh SEPARATELY before the gate sums (unlike the
    LSTM's combined accumulator) — replicated exactly so the q68b
    recursive-CTE oracle hashes green on this plan too."""
    return _blocked_recurrence(
        df, key_col, order_cols, x_col, x_scale, hidden,
        _gru_fixed_weights(hidden), _gru_block_step,
    )


def _gru_block_step(xt, h_st, c_st, wx, wh, bb, hidden):
    """One GRU step for every sequence of a batch (no cell state: ``c``
    passes through unchanged)."""
    zx = np.floor_divide(xt[:, None] * wx[None, :], Q16) + bb[None, :]
    zh = np.floor_divide(h_st @ wh.T, Q16)
    z_g = np.clip(zx[:, :hidden] + zh[:, :hidden], 0, Q16)
    r_g = np.clip(
        zx[:, hidden : 2 * hidden] + zh[:, hidden : 2 * hidden], 0, Q16
    )
    n_pre = zx[:, 2 * hidden :] + np.floor_divide(
        r_g * zh[:, 2 * hidden :], Q16
    )
    n_g = np.clip(n_pre, -Q16, Q16)
    return np.floor_divide((Q16 - z_g) * n_g + z_g * h_st, Q16), c_st


@query("q68d_gru_blocked", oracle=_gru_fixed_oracle())
def q68d_gru_blocked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """q68b's blocked twin — same batched-recurrence layout as q68c, on
    the GRU gate algebra. Both recurrence cell types now have a
    vector-lane execution tier matching the per-key trajectory
    bit-for-bit (the q68b recursive-CTE oracle is reused verbatim)."""
    return _fixed_cell_query(
        spark, sf_dir, gru_fixed_forward_blocked, "user_id"
    )


# ---------------------------------------------------------------------------
# Full pre-norm transformer block (q66 + q107 + FFN composed, oracled)
# ---------------------------------------------------------------------------

TB_TOKENS = 8  # the block's token sequence: vec_id 0..7
_GELU_C = 0.7978845608028654  # sqrt(2/pi), literal in both engines


def _tb_ln_sql(src: str, vcol: str, out: str) -> str:
    """LayerNorm CTE chain over (p, d, {vcol}) — q107's pinned windows,
    gamma=1 beta=0 (no affine ops at all, so Spark and DuckDB run the
    identical binary64 expression graph)."""
    return f"""
    {out}s AS (SELECT *, COUNT(*) OVER w_{out} AS n_{out},
               CAST(SUM(CAST(ROUND({vcol} * 1000000000) AS BIGINT))
                    OVER w_{out} AS BIGINT) / 1000000000.0 AS su_{out}
               FROM {src} WINDOW w_{out} AS (PARTITION BY p)),
    {out}c AS (SELECT *, {vcol} - su_{out} / n_{out} AS c_{out}
               FROM {out}s),
    {out}v AS (SELECT *, CAST(SUM(CAST(ROUND(c_{out} * c_{out}
                    * 1000000000) AS BIGINT)) OVER w2_{out} AS BIGINT)
                    / 1000000000.0 AS sv_{out}
               FROM {out}c WINDOW w2_{out} AS (PARTITION BY p)),
    {out} AS (SELECT p, d, {vcol},
                     c_{out} / sqrt(sv_{out} / n_{out} + 0.00001) AS h
              FROM {out}v)"""


def _transformer_block_oracle() -> str:
    return f"""
    WITH x AS (SELECT vec_id AS p, CAST(dim AS INT) AS d, v AS xv
               FROM {_duck_coords(TB_TOKENS)} c),
    {_tb_ln_sql('x', 'xv', 'h1')},
    sc AS (SELECT a.p AS pq, b.p AS pk,
                  {duck_exact_sum("a.h * b.h / 8.0", 9)} AS s
           FROM h1 a JOIN h1 b ON a.d = b.d GROUP BY a.p, b.p),
    ex AS (SELECT pq, pk,
                  ROUND(exp(s - MAX(s) OVER (PARTITION BY pq)), 6) AS e
           FROM sc),
    aw AS (SELECT pq, pk,
                  e / (CAST(SUM(CAST(ROUND(e * 1000000) AS BIGINT))
                       OVER (PARTITION BY pq) AS BIGINT) / 1000000.0) AS w
           FROM ex),
    att AS (SELECT aw.pq AS p, k.d,
                   {duck_exact_sum("aw.w * k.h", 9)} AS av
            FROM aw JOIN h1 k ON k.p = aw.pk GROUP BY aw.pq, k.d),
    r1 AS (SELECT x.p, x.d, x.xv + att.av AS rv
           FROM x JOIN att ON x.p = att.p AND x.d = att.d),
    {_tb_ln_sql('r1', 'rv', 'h2')},
    wt AS (SELECT i.i, j.j, (((i.i * 7 + j.j * 3) % 9) - 4) / 64.0 AS wv
           FROM (SELECT unnest(range(64)) AS i) i,
                (SELECT unnest(range(64)) AS j) j),
    ff AS (SELECT h2.p, CAST(wt.j AS INT) AS d,
                  {duck_exact_sum("h2.h * wt.wv", 9)} AS f
           FROM h2 JOIN wt ON h2.d = wt.i GROUP BY h2.p, wt.j),
    gl AS (SELECT p, d,
                  0.5 * f * (1 + ROUND(1 - 2 / (exp(2 * ({_GELU_C}
                      * (f + 0.044715 * f * f * f))) + 1), 6)) AS g
           FROM ff)
    SELECT r1.p AS pos, r1.d AS dim,
           FLOOR((r1.rv + gl.g) * 1000000.0 + 0.5) / 1000000.0 AS out_v
    FROM r1 JOIN gl ON r1.p = gl.p AND r1.d = gl.d
    """


@query("q109_transformer_block", oracle=_transformer_block_oracle())
def q109_transformer_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full pre-norm transformer block hash-checked end to end — the
    complete BERT-Tiny forward slice (`model_zoo/export_bert_tiny.py:
    47-60`): h1 = LN(x); attention(h1) with Q=K=V; r1 = x + attn;
    h2 = LN(r1); FFN = GELU(h2·W) with a deterministic dyadic 64x64
    weight; out = r1 + FFN. Every sum is integer-unit pinned and both
    transcendentals (softmax exp, GELU tanh) are 6dp-rounded at the
    same point in both engines, so the whole 6-stage composition
    value-hashes.

    Scale shape: both LNs and the softmax partition on the token key;
    K/V and the FFN weight are bounded broadcast operands — token rows
    never shuffle except for the score/context reductions. h1 and r1
    are corpus-tier materialized (r12/r13): three references to h1 (Q/K legs +
    attention values) and two to r1 (FFN + residual) re-evaluated the
    LayerNorm/attention pipeline per reference in the cold plan
    (guide §2.4); values are unchanged."""
    coords = embedding_coords(spark, sf_dir, max_vec=TB_TOKENS)
    x = coords.select(
        F.col("vec_id").alias("p"), F.col("dim").alias("d"),
        F.col("v").alias("xv"),
    )

    # deliberately NOT layernorm_coords: the closure emits zero affine
    # ops (no *gamma, no +beta) so the Spark expression graph is the
    # exact binary64 twin of the oracle's CTE — keep in sync with
    # _tb_ln_sql, not with the standalone operator
    def ln(df: DataFrame, vcol: str) -> DataFrame:
        w = Window.partitionBy("p")
        n = F.count(vcol).over(w)
        out = (
            df.withColumn("_n", n)
            .withColumn("_mu", _exact_mean_over(F.col(vcol), w, F.col("_n")))
            .withColumn("_c", F.col(vcol) - F.col("_mu"))
            .withColumn(
                "_sv",
                _exact_mean_over(F.col("_c") * F.col("_c"), w, F.col("_n")),
            )
            .withColumn(
                "h", F.col("_c") / F.sqrt(F.col("_sv") + F.lit(1e-5))
            )
        )
        return out.drop("_n", "_mu", "_c", "_sv")

    # corpus tier (r13): per-(token, dim) activations grow with the
    # input — lazy persist keeps lineage (fault-tolerant at cluster
    # scale) while every downstream reference still reads one evaluation
    h1 = corpus_checkpoint(ln(x, "xv").select("p", "d", "h"))
    a = h1.select(F.col("p").alias("pq"), "d", F.col("h").alias("ha"))
    b = h1.select(F.col("p").alias("pk"), "d", F.col("h").alias("hb"))
    sc = (
        a.join(F.broadcast(b), "d")
        .groupBy("pq", "pk")
        .agg(exact_sum(F.col("ha") * F.col("hb") / 8.0, 9).alias("s"))
    )
    wq = Window.partitionBy("pq")
    e = F.round(F.exp(F.col("s") - F.max("s").over(wq)), 6)
    aw = sc.withColumn("e", e).withColumn(
        "w",
        F.col("e")
        / (F.sum(F.round(F.col("e") * 1_000_000).cast("long")).over(wq)
           / 1_000_000.0),
    )
    att = (
        aw.select("pq", "pk", "w")
        .join(F.broadcast(h1.select(F.col("p").alias("pk"), "d", "h")), "pk")
        .groupBy(F.col("pq").alias("p"), "d")
        .agg(exact_sum(F.col("w") * F.col("h"), 9).alias("av"))
    )
    r1 = corpus_checkpoint(
        x.join(att, ["p", "d"]).select(
            "p", "d", (F.col("xv") + F.col("av")).alias("rv")
        )
    )
    h2 = ln(r1, "rv").select("p", "d", "h")
    wt = spark.range(64 * 64).select(
        (F.col("id") / 64).cast("int").alias("i"),
        (F.col("id") % 64).cast("int").alias("j"),
    ).withColumn(
        "wv",
        (((F.col("i") * 7 + F.col("j") * 3) % 9) - 4) / F.lit(64.0),
    )
    ff = (
        h2.withColumnRenamed("d", "i")
        .join(F.broadcast(wt), "i")
        .groupBy("p", F.col("j").alias("d"))
        .agg(exact_sum(F.col("h") * F.col("wv"), 9).alias("f"))
    )
    inner = F.lit(_GELU_C) * (
        F.col("f") + F.lit(0.044715) * F.col("f") * F.col("f") * F.col("f")
    )
    tanh6 = F.round(
        F.lit(1.0) - F.lit(2.0) / (F.exp(F.lit(2.0) * inner) + F.lit(1.0)), 6
    )
    gl = ff.select(
        "p", "d", (F.lit(0.5) * F.col("f") * (F.lit(1.0) + tanh6)).alias("g")
    )
    return (
        r1.join(gl, ["p", "d"])
        .select(
            F.col("p").alias("pos"),
            F.col("d").alias("dim"),
            (F.floor((F.col("rv") + F.col("g")) * 1_000_000.0 + 0.5) / 1_000_000.0).alias("out_v"),
        )
    )


# ---------------------------------------------------------------------------
# Multi-head attention (the reference's actual 4-head configuration)
# ---------------------------------------------------------------------------

MHA_HEADS = 4
MHA_HEAD_DIM = 16  # embed 64 / 4 heads; sqrt = 4.0


def _mha_oracle() -> str:
    return f"""
    WITH tok AS (SELECT vec_id AS p, CAST(dim AS INT) AS d,
                        CAST(dim // {MHA_HEAD_DIM} AS INT) AS h, v
                 FROM {_duck_coords(TB_TOKENS)} c),
    sc AS (SELECT a.h, a.p AS pq, b.p AS pk,
                  {duck_exact_sum("a.v * b.v / 4.0", 9)} AS s
           FROM tok a JOIN tok b ON a.d = b.d
           GROUP BY a.h, a.p, b.p),
    ex AS (SELECT h, pq, pk,
                  ROUND(exp(s - MAX(s) OVER (PARTITION BY h, pq)), 6) AS e
           FROM sc),
    aw AS (SELECT h, pq, pk,
                  e / (CAST(SUM(CAST(ROUND(e * 1000000) AS BIGINT))
                       OVER (PARTITION BY h, pq) AS BIGINT) / 1000000.0)
                      AS w
           FROM ex),
    outv AS (SELECT aw.pq AS pos, k.d AS dim,
                    {duck_exact_sum_round6("aw.w * k.v")} AS out_v
             FROM aw JOIN tok k ON k.p = aw.pk AND k.h = aw.h
             GROUP BY aw.pq, k.d)
    SELECT pos, dim, out_v FROM outv
    """


@query("q66b_multihead_attention", oracle=_mha_oracle())
def q66b_multihead_attention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-head self-attention at the reference's real configuration
    (`model_zoo/export_bert_tiny.py:8-30`: embed 64, num_heads=4,
    head_dim 16): the head index is dim//16, scores contract only
    within a head (join on the full dim key already implies the head
    match), softmax normalizes per (head, query), and each head's
    context fills its own 16-dim slice of the output — concat is just
    coordinates, no operator.

    Shuffle shape: like q66, ONE exchange — hash on pq satisfies the
    (h, pq) score grouping, both softmax windows, and the (pos, dim)
    output reduction; K/V broadcast. The head axis is a free grouping
    key, exactly how MHA shards at 100 TB."""
    coords = embedding_coords(spark, sf_dir, max_vec=TB_TOKENS)
    tok = coords.select(
        F.col("vec_id").alias("p"),
        F.col("dim").alias("d"),
        (F.col("dim") / MHA_HEAD_DIM).cast("int").alias("h"),
        "v",
    )
    a = tok.select(
        F.col("p").alias("pq"), "d", "h", F.col("v").alias("qv")
    ).repartition("pq")
    b = tok.select(F.col("p").alias("pk"), "d", F.col("v").alias("kv"))
    sc = (
        a.join(F.broadcast(b), "d")
        .groupBy("h", "pq", "pk")
        .agg(exact_sum(F.col("qv") * F.col("kv") / 4.0, 9).alias("s"))
    )
    wq = Window.partitionBy("h", "pq")
    e = F.round(F.exp(F.col("s") - F.max("s").over(wq)), 6)
    aw = sc.withColumn("e", e).withColumn(
        "w",
        F.col("e")
        / (F.sum(F.round(F.col("e") * 1_000_000).cast("long")).over(wq)
           / 1_000_000.0),
    )
    kv = tok.select(F.col("p").alias("pk"), "h", "d", F.col("v").alias("vv"))
    return (
        aw.select("h", "pq", "pk", "w")
        .join(F.broadcast(kv), ["pk", "h"])
        .groupBy(F.col("pq").alias("pos"), F.col("d").alias("dim"))
        .agg(exact_sum_round6(F.col("w") * F.col("vv")).alias("out_v"))
    )


# ---------------------------------------------------------------------------
# SwiGLU MLP (the NanoLlama feed-forward)
# ---------------------------------------------------------------------------

SWIGLU_HIDDEN = 128  # dim 64 -> hidden 128 -> dim 64


def _swiglu_wt_sql(name: str, rows: int, cols: int, a: int, b: int) -> str:
    """Deterministic dyadic weight table W(i,j) = ((i*a + j*b) % 9 - 4)/64."""
    return f"""
    {name} AS (SELECT CAST(i.i AS INT) AS i, CAST(j.j AS INT) AS j,
                      (((i.i * {a} + j.j * {b}) % 9) - 4) / 64.0 AS wv
               FROM (SELECT unnest(range({rows})) AS i) i,
                    (SELECT unnest(range({cols})) AS j) j)"""


def _swiglu_oracle() -> str:
    return f"""
    WITH x AS (SELECT vec_id AS p, CAST(dim AS INT) AS d, v
               FROM {_duck_coords(TB_TOKENS)} c),
    {_swiglu_wt_sql('wg', 64, SWIGLU_HIDDEN, 5, 7)},
    {_swiglu_wt_sql('wu', 64, SWIGLU_HIDDEN, 3, 5)},
    {_swiglu_wt_sql('wd', SWIGLU_HIDDEN, 64, 7, 3)},
    g AS (SELECT x.p, wg.j AS hidx, {duck_exact_sum("x.v * wg.wv", 9)} AS gv
          FROM x JOIN wg ON x.d = wg.i GROUP BY x.p, wg.j),
    u AS (SELECT x.p, wu.j AS hidx, {duck_exact_sum("x.v * wu.wv", 9)} AS uv
          FROM x JOIN wu ON x.d = wu.i GROUP BY x.p, wu.j),
    m AS (SELECT g.p, g.hidx,
                 ROUND(g.gv / (1 + exp(-g.gv)), 6) * u.uv AS mv
          FROM g JOIN u ON g.p = u.p AND g.hidx = u.hidx)
    SELECT m.p AS pos, wd.j AS dim,
           {duck_exact_sum_round6("m.mv * wd.wv")} AS out_v
    FROM m JOIN wd ON m.hidx = wd.i
    GROUP BY m.p, wd.j
    """


@query("q109a_swiglu_mlp", oracle=_swiglu_oracle())
def q109a_swiglu_mlp(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SwiGLU feed-forward (`model_zoo/export_tinyllama.py:59-70`, the
    Llama MLP): out = (silu(x·Wg) ⊙ (x·Wu)) · Wd with deterministic
    dyadic weights, 64 → 128 → 64. The gate/up projections are two
    coordinate matmuls sharing the x side, the elementwise gating is a
    join on (token, hidden), and the down projection is a third matmul.
    SiLU (x·σ(x)) is the one transcendental — rounded to 6dp at the
    same point in both engines. Completes the Llama-block inventory
    next to q107a RMSNorm, q66a causal and q66b multi-head attention."""
    coords = embedding_coords(spark, sf_dir, max_vec=TB_TOKENS)
    x = coords.select(
        F.col("vec_id").alias("p"), F.col("dim").alias("d"), "v"
    ).repartition("p")

    def wt(a: int, b: int, rows: int, cols: int) -> DataFrame:
        return spark.range(rows * cols).select(
            (F.col("id") / cols).cast("int").alias("i"),
            (F.col("id") % cols).cast("int").alias("j"),
        ).withColumn(
            "wv",
            (((F.col("i") * a + F.col("j") * b) % 9) - 4) / F.lit(64.0),
        )

    def proj(w: DataFrame, out_col: str) -> DataFrame:
        return (
            x.withColumnRenamed("d", "i")
            .join(F.broadcast(w), "i")
            .groupBy("p", F.col("j").alias("hidx"))
            .agg(exact_sum(F.col("v") * F.col("wv"), 9).alias(out_col))
        )

    g = proj(wt(5, 7, 64, SWIGLU_HIDDEN), "gv")
    u = proj(wt(3, 5, 64, SWIGLU_HIDDEN), "uv")
    silu6 = F.round(
        F.col("gv") / (F.lit(1.0) + F.exp(-F.col("gv"))), 6
    )
    m = g.join(u, ["p", "hidx"]).select(
        "p", "hidx", (silu6 * F.col("uv")).alias("mv")
    )
    wd = wt(7, 3, SWIGLU_HIDDEN, 64)
    return (
        m.withColumnRenamed("hidx", "i")
        .join(F.broadcast(wd), "i")
        .groupBy(F.col("p").alias("pos"), F.col("j").alias("dim"))
        .agg(exact_sum_round6(F.col("mv") * F.col("wv")).alias("out_v"))
    )


# ---------------------------------------------------------------------------
# Rotary position embedding (RoPE)
# ---------------------------------------------------------------------------


def _rope_oracle() -> str:
    return f"""
    WITH x AS (SELECT vec_id AS p, CAST(dim AS INT) AS d, v
               FROM {_duck_coords(TB_TOKENS)} c),
    pairs AS (SELECT e.p, CAST(e.d // 2 AS INT) AS pr,
                     e.v AS ev, o.v AS ov
              FROM x e JOIN x o
                ON e.p = o.p AND o.d = e.d + 1
              WHERE e.d % 2 = 0),
    ang AS (SELECT p, pr, ev, ov,
                   ROUND(cos(p / pow(10000.0, 2.0 * pr / 64.0)), 6) AS cs,
                   ROUND(sin(p / pow(10000.0, 2.0 * pr / 64.0)), 6) AS sn
            FROM pairs),
    rot AS (SELECT p, pr,
                   ROUND(ev * cs - ov * sn, 6) AS re,
                   ROUND(ev * sn + ov * cs, 6) AS ro
            FROM ang)
    SELECT p AS pos, CAST(pr * 2 AS INT) AS dim, re AS out_v FROM rot
    UNION ALL
    SELECT p AS pos, CAST(pr * 2 + 1 AS INT) AS dim, ro AS out_v FROM rot
    """


@query("q109b_rope", oracle=_rope_oracle())
def q109b_rope(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rotary position embedding (`model_zoo/export_tinyllama.py:16-27`
    RotaryEmbedding): each even/odd dim pair (2i, 2i+1) rotates by the
    position-dependent angle θ = p / 10000^(2i/d) — out_even =
    x_even·cosθ − x_odd·sinθ, out_odd = x_even·sinθ + x_odd·cosθ.

    Relational shape: the pair join is a self-join on (token, d+1) —
    co-partitioned on the token key, so it never shuffles beyond the
    token partitioning; the angle table is a pure expression of
    (position, pair), no stored operand at all. cos/sin are
    6dp-rounded at the same point in both engines (the q66-softmax
    transcendental discipline)."""
    coords = embedding_coords(spark, sf_dir, max_vec=TB_TOKENS)
    x = coords.select(
        F.col("vec_id").alias("p"), F.col("dim").alias("d"), "v"
    ).repartition("p")
    ev = x.filter(F.col("d") % 2 == 0).select(
        "p", (F.col("d") / 2).cast("int").alias("pr"),
        F.col("v").alias("ev"),
    )
    od = x.filter(F.col("d") % 2 == 1).select(
        "p", ((F.col("d") - 1) / 2).cast("int").alias("pr"),
        F.col("v").alias("ov"),
    )
    theta = F.col("p") / F.pow(
        F.lit(10000.0), F.lit(2.0) * F.col("pr") / F.lit(64.0)
    )
    rot = (
        ev.join(od, ["p", "pr"])
        .withColumn("cs", F.round(F.cos(theta), 6))
        .withColumn("sn", F.round(F.sin(theta), 6))
        .select(
            "p", "pr",
            F.round(F.col("ev") * F.col("cs") - F.col("ov") * F.col("sn"), 6)
            .alias("re"),
            F.round(F.col("ev") * F.col("sn") + F.col("ov") * F.col("cs"), 6)
            .alias("ro"),
        )
    )
    even_out = rot.select(
        F.col("p").alias("pos"),
        (F.col("pr") * 2).cast("int").alias("dim"),
        F.col("re").alias("out_v"),
    )
    odd_out = rot.select(
        F.col("p").alias("pos"),
        (F.col("pr") * 2 + 1).cast("int").alias("dim"),
        F.col("ro").alias("out_v"),
    )
    return even_out.unionByName(odd_out)


# ---------------------------------------------------------------------------
# Full Llama-style block (RMSNorm + RoPE + causal attention + SwiGLU)
# ---------------------------------------------------------------------------

RMS_EPS = 1e-6  # export_tinyllama.py:6 RMSNorm eps


def _tb_rms_sql(src: str, vcol: str, out: str) -> str:
    """RMSNorm CTE chain over (p, d, {vcol}) — q107a's pinned window,
    gamma=1, eps 1e-6 (the NanoLlama constant)."""
    return f"""
    {out}s AS (SELECT *, COUNT(*) OVER w_{out} AS n_{out},
               CAST(SUM(CAST(ROUND({vcol} * {vcol} * 1000000000)
                    AS BIGINT)) OVER w_{out} AS BIGINT) / 1000000000.0
                   AS s2_{out}
               FROM {src} WINDOW w_{out} AS (PARTITION BY p)),
    {out} AS (SELECT p, d, {vcol},
                     {vcol} / sqrt(s2_{out} / n_{out} + 0.000001) AS h
              FROM {out}s)"""


def _llama_block_oracle() -> str:
    return f"""
    WITH x AS (SELECT vec_id AS p, CAST(dim AS INT) AS d, v AS xv
               FROM {_duck_coords(TB_TOKENS)} c),
    {_tb_rms_sql('x', 'xv', 'h1')},
    rpair AS (SELECT e.p, CAST(e.d // 2 AS INT) AS pr, e.h AS ev, o.h AS ov
              FROM h1 e JOIN h1 o ON e.p = o.p AND o.d = e.d + 1
              WHERE e.d % 2 = 0),
    rang AS (SELECT p, pr, ev, ov,
                    ROUND(cos(p / pow(10000.0, 2.0 * pr / 64.0)), 6) AS cs,
                    ROUND(sin(p / pow(10000.0, 2.0 * pr / 64.0)), 6) AS sn
             FROM rpair),
    rq AS (SELECT p, CAST(pr * 2 AS INT) AS d,
                  ROUND(ev * cs - ov * sn, 6) AS rh FROM rang
           UNION ALL
           SELECT p, CAST(pr * 2 + 1 AS INT) AS d,
                  ROUND(ev * sn + ov * cs, 6) AS rh FROM rang),
    sc AS (SELECT a.p AS pq, b.p AS pk,
                  {duck_exact_sum("a.rh * b.rh / 8.0", 9)} AS s
           FROM rq a JOIN rq b ON a.d = b.d
           WHERE b.p <= a.p
           GROUP BY a.p, b.p),
    ex AS (SELECT pq, pk,
                  ROUND(exp(s - MAX(s) OVER (PARTITION BY pq)), 6) AS e
           FROM sc),
    aw AS (SELECT pq, pk,
                  e / (CAST(SUM(CAST(ROUND(e * 1000000) AS BIGINT))
                       OVER (PARTITION BY pq) AS BIGINT) / 1000000.0) AS w
           FROM ex),
    att AS (SELECT aw.pq AS p, k.d,
                   {duck_exact_sum("aw.w * k.h", 9)} AS av
            FROM aw JOIN h1 k ON k.p = aw.pk GROUP BY aw.pq, k.d),
    r1 AS (SELECT x.p, x.d, x.xv + att.av AS rv
           FROM x JOIN att ON x.p = att.p AND x.d = att.d),
    {_tb_rms_sql('r1', 'rv', 'h2')},
    {_swiglu_wt_sql('wg', 64, SWIGLU_HIDDEN, 5, 7)},
    {_swiglu_wt_sql('wu', 64, SWIGLU_HIDDEN, 3, 5)},
    {_swiglu_wt_sql('wd', SWIGLU_HIDDEN, 64, 7, 3)},
    g AS (SELECT h2.p, wg.j AS hidx, {duck_exact_sum("h2.h * wg.wv", 9)} AS gv
          FROM h2 JOIN wg ON h2.d = wg.i GROUP BY h2.p, wg.j),
    u AS (SELECT h2.p, wu.j AS hidx, {duck_exact_sum("h2.h * wu.wv", 9)} AS uv
          FROM h2 JOIN wu ON h2.d = wu.i GROUP BY h2.p, wu.j),
    m AS (SELECT g.p, g.hidx,
                 ROUND(g.gv / (1 + exp(-g.gv)), 6) * u.uv AS mv
          FROM g JOIN u ON g.p = u.p AND g.hidx = u.hidx),
    ffo AS (SELECT m.p, wd.j AS d, {duck_exact_sum("m.mv * wd.wv", 9)} AS fv
            FROM m JOIN wd ON m.hidx = wd.i GROUP BY m.p, wd.j)
    SELECT r1.p AS pos, r1.d AS dim,
           FLOOR((r1.rv + ffo.fv) * 1000000.0 + 0.5) / 1000000.0 AS out_v
    FROM r1 JOIN ffo ON r1.p = ffo.p AND r1.d = ffo.d
    """


@query("q109c_llama_block", oracle=_llama_block_oracle())
def q109c_llama_block(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Full Llama-style decoder block hash-checked end to end — the
    NanoLlama forward slice (`model_zoo/export_tinyllama.py:93-105`):
    h1 = RMSNorm(x); q=k=RoPE(h1), v=h1; CAUSAL attention (pk <= pq);
    r1 = x + attn; h2 = RMSNorm(r1); out = r1 + SwiGLU(h2). The modern
    twin of q109's BERT block: RMSNorm for LayerNorm, rotary positions,
    causal masking as a join predicate, SwiGLU for the GELU FFN
    (single-head composite; the per-head split is q66b's axis).

    Eight pinned stages compose through three transcendentals (cos/sin,
    softmax exp, SiLU) — each 6dp-rounded at the same point in both
    engines; every contraction is an integer-unit sum.

    Stage materialization (r12): h1, the rotated pair table, r1 and h2
    are corpus-tier materialized — the RoPE union references rot twice, the
    score join references rq twice, and the residual/FFN legs
    reference r1/h2 twice each, so the unmaterialized lineage
    re-evaluated the RMSNorm pipeline ~8x per query (58 Exchange / 29
    duplicated scans cold, 23/2 after; guide §2.4). Values are
    unchanged — checkpointing only truncates lineage."""
    coords = embedding_coords(spark, sf_dir, max_vec=TB_TOKENS)
    x = coords.select(
        F.col("vec_id").alias("p"), F.col("dim").alias("d"),
        F.col("v").alias("xv"),
    ).repartition("p")

    def rms(df: DataFrame, vcol: str) -> DataFrame:
        w = Window.partitionBy("p")
        return (
            df.withColumn("_n", F.count(vcol).over(w))
            .withColumn(
                "_s2",
                _exact_mean_over(F.col(vcol) * F.col(vcol), w, F.col("_n")),
            )
            .withColumn("h", F.col(vcol) / F.sqrt(F.col("_s2") + F.lit(RMS_EPS)))
            .drop("_n", "_s2")
        )

    # corpus tier (r13): same per-(token, dim) activation rationale as
    # the transformer block above
    h1 = corpus_checkpoint(rms(x, "xv").select("p", "d", "h"))
    ev = h1.filter(F.col("d") % 2 == 0).select(
        "p", (F.col("d") / 2).cast("int").alias("pr"), F.col("h").alias("ev")
    )
    od = h1.filter(F.col("d") % 2 == 1).select(
        "p", ((F.col("d") - 1) / 2).cast("int").alias("pr"),
        F.col("h").alias("ov"),
    )
    theta = F.col("p") / F.pow(
        F.lit(10000.0), F.lit(2.0) * F.col("pr") / F.lit(64.0)
    )
    rot = (
        ev.join(od, ["p", "pr"])
        .withColumn("cs", F.round(F.cos(theta), 6))
        .withColumn("sn", F.round(F.sin(theta), 6))
        .transform(corpus_checkpoint)
    )
    rq = rot.select(
        "p", (F.col("pr") * 2).cast("int").alias("d"),
        F.round(F.col("ev") * F.col("cs") - F.col("ov") * F.col("sn"), 6)
        .alias("rh"),
    ).unionByName(rot.select(
        "p", (F.col("pr") * 2 + 1).cast("int").alias("d"),
        F.round(F.col("ev") * F.col("sn") + F.col("ov") * F.col("cs"), 6)
        .alias("rh"),
    ))
    a = rq.select(F.col("p").alias("pq"), "d", F.col("rh").alias("qh"))
    b = rq.select(F.col("p").alias("pk"), "d", F.col("rh").alias("kh"))
    sc = (
        a.join(F.broadcast(b), "d")
        .filter(F.col("pk") <= F.col("pq"))
        .groupBy("pq", "pk")
        .agg(exact_sum(F.col("qh") * F.col("kh") / 8.0, 9).alias("s"))
    )
    wq = Window.partitionBy("pq")
    e = F.round(F.exp(F.col("s") - F.max("s").over(wq)), 6)
    aw = sc.withColumn("e", e).withColumn(
        "w",
        F.col("e")
        / (F.sum(F.round(F.col("e") * 1_000_000).cast("long")).over(wq)
           / 1_000_000.0),
    )
    att = (
        aw.select("pq", "pk", "w")
        .join(F.broadcast(h1.select(F.col("p").alias("pk"), "d", "h")), "pk")
        .groupBy(F.col("pq").alias("p"), "d")
        .agg(exact_sum(F.col("w") * F.col("h"), 9).alias("av"))
    )
    r1 = corpus_checkpoint(
        x.join(att, ["p", "d"]).select(
            "p", "d", (F.col("xv") + F.col("av")).alias("rv")
        )
    )
    h2 = corpus_checkpoint(rms(r1, "rv").select("p", "d", "h"))

    def wt(aa: int, bb: int, rows: int, cols: int) -> DataFrame:
        return spark.range(rows * cols).select(
            (F.col("id") / cols).cast("int").alias("i"),
            (F.col("id") % cols).cast("int").alias("j"),
        ).withColumn(
            "wv",
            (((F.col("i") * aa + F.col("j") * bb) % 9) - 4) / F.lit(64.0),
        )

    def proj(src: DataFrame, w: DataFrame, out_col: str) -> DataFrame:
        return (
            src.withColumnRenamed("d", "i")
            .join(F.broadcast(w), "i")
            .groupBy("p", F.col("j").alias("hidx"))
            .agg(exact_sum(F.col("h") * F.col("wv"), 9).alias(out_col))
        )

    g = proj(h2, wt(5, 7, 64, SWIGLU_HIDDEN), "gv")
    u = proj(h2, wt(3, 5, 64, SWIGLU_HIDDEN), "uv")
    m = g.join(u, ["p", "hidx"]).select(
        "p", "hidx",
        (F.round(F.col("gv") / (F.lit(1.0) + F.exp(-F.col("gv"))), 6)
         * F.col("uv")).alias("mv"),
    )
    ffo = (
        m.withColumnRenamed("hidx", "i")
        .join(F.broadcast(wt(7, 3, SWIGLU_HIDDEN, 64)), "i")
        .groupBy("p", F.col("j").alias("d"))
        .agg(exact_sum(F.col("mv") * F.col("wv"), 9).alias("fv"))
    )
    return (
        r1.join(ffo, ["p", "d"])
        .select(
            F.col("p").alias("pos"),
            F.col("d").alias("dim"),
            (F.floor((F.col("rv") + F.col("fv")) * 1_000_000.0 + 0.5) / 1_000_000.0).alias("out_v"),
        )
    )


# ---------------------------------------------------------------------------
# BatchNorm folding (the compile-time inference optimization) —
# driver-checked
# ---------------------------------------------------------------------------

BN_FOLD_EPS = 1e-5  # qat_trainer.py fold epsilon


@query(
    "q146_batchnorm_fold",
    oracle=f"""
    WITH coords AS (SELECT vec_id AS i, dim AS j, v
                    FROM {_duck_coords(64)} c),
    bn AS (SELECT i,
                  CAST(1.0 AS DOUBLE) + (i % 5) * CAST(0.1 AS DOUBLE)
                      AS gamma,
                  (i % 7) * CAST(0.01 AS DOUBLE) AS beta,
                  {duck_exact_sum("v", 9)} / COUNT(*) AS mean,
                  {duck_exact_sum("v * v", 9)} / COUNT(*) AS m2
           FROM coords GROUP BY i),
    bnv AS (SELECT i, gamma, beta, mean,
                   m2 - mean * mean AS var
            FROM bn)
    SELECT c.i, c.j,
           ROUND(c.v * (b.gamma / sqrt(b.var + {BN_FOLD_EPS!r})), 6)
               AS folded_w,
           ROUND((CAST(0.0 AS DOUBLE) - b.mean)
                 * (b.gamma / sqrt(b.var + {BN_FOLD_EPS!r})) + b.beta, 6)
               AS folded_b
    FROM coords c JOIN bnv b USING (i)
    """,
)
def q146_batchnorm_fold(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BatchNorm folding (`mlir_compiler/qat_trainer.py:165-257`,
    the BN/ReLU-chain elimination q80b's MobileNet graph carries):
    w' = w·γ/√(σ²+ε) and b' = (b−μ)·γ/√(σ²+ε)+β per output channel,
    through the `fold_batchnorm` broadcast-join library path. The BN
    running stats come from per-channel exact-integer-unit moments
    (order-independent sums, final division in binary64) and the
    deterministic γ/β schedule from the channel id, so the folded
    weights hash-match: IEEE sqrt is correctly rounded on every libm,
    and the scale expression γ/√(σ²+ε) is evaluated in the same
    operation order on both engines. Scale: stats are one grouped
    aggregate; the fold itself is a broadcast join + elementwise
    rescale — the weight stream never shuffles."""
    coords = embedding_coords(spark, sf_dir, max_vec=64).select(
        F.lit("l0").alias("layer"),
        F.col("vec_id").alias("i"),
        F.col("dim").alias("j"),
        F.col("v").alias("value"),
    )
    units = F.sum(F.round(F.col("value") * 1e9).cast("long"))
    units2 = F.sum(F.round(F.col("value") * F.col("value") * 1e9).cast("long"))
    n = F.count("*")
    bn = (
        coords.groupBy("layer", "i")
        .agg(
            (units / 1e9 / n).alias("mean"),
            (units2 / 1e9 / n).alias("m2"),
        )
        .select(
            "layer",
            "i",
            (1.0 + (F.col("i") % 5) * 0.1).alias("gamma"),
            ((F.col("i") % 7) * 0.01).alias("beta"),
            "mean",
            (F.col("m2") - F.col("mean") * F.col("mean")).alias("var"),
        )
    )
    folded = fold_batchnorm(coords, bn, eps=BN_FOLD_EPS)
    scale = F.col("gamma") / F.sqrt(F.col("var") + BN_FOLD_EPS)
    bias = bn.select(
        "layer",
        "i",
        ((F.lit(0.0) - F.col("mean")) * scale + F.col("beta"))
        .alias("folded_b"),
    )
    return (
        folded.join(F.broadcast(bias), ["layer", "i"])
        .select(
            "i",
            "j",
            F.round(F.col("value"), 6).alias("folded_w"),
            F.round(F.col("folded_b"), 6).alias("folded_b"),
        )
    )
