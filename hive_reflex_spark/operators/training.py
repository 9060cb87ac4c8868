"""Training loops: QAT fine-tune + knowledge distillation (SURVEY §2A
"training" gap — the last item of round 1's missing list).

Re-expresses the reference's two trainers over the embeddings fixture:

- QAT (`mlir_compiler/qat_trainer.py:88-116` _fake_quantize + STE): the
  student is a linear probe; every epoch fake-quantizes the weights to
  the symmetric int8 grid (scale = absmax/127, round, clamp, dequantize),
  runs the forward with the QUANTIZED weights, and applies the gradient
  to the full-precision weights — exactly the straight-through estimator
  (forward sees x_dq, backward passes the raw gradient).
- Distillation (`distillation/distiller.py:17-41` distillation_loss):
  loss = α·T²·KL(teacher_T ‖ student_T) + (1−α)·CE(labels); for the
  binary-logistic student the per-row gradient factor is
  α·T·(σ(z/T) − q_T) + (1−α)·(σ(z) − y), which the update aggregates.

Spark shape (the 100-TB design): the model is the ≤512 KB operand — 64
weights live on the driver and ride to executors as a broadcast 64-row
table; the DATA never moves. Each epoch is ONE distributed pass: a
broadcast join puts w on every coordinate row, a grouped exact-sum
produces per-example margins, and a second grouped exact-sum reduces the
d-dimensional gradient tree-style. That is full-batch gradient descent
the way MLlib does it — O(epochs) jobs, O(d) driver traffic per epoch,
no per-row Python anywhere.

Determinism (both engines must hash-match bit-for-bit): every
nonlinearity boundary is pinned to fixed decimals — margins to 6dp
before σ, probabilities to 6dp (clamped off 0/1 for the logs), per-row
loss terms to 6dp, gradients via the integer-units exact sum, weight
updates to 9dp. Driver-side arithmetic uses `_round_away` (round half
away from zero) to match Spark's HALF_UP / DuckDB's ROUND, never
Python's banker's rounding.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from hive_reflex_spark.io import tracked_persist
from hive_reflex_spark.functions import duck_exact_sum, exact_sum
from hive_reflex_spark.operators.tensor import _duck_coords, embedding_coords
from hive_reflex_spark.registry import query

EPOCHS = 3
LR = 0.5
N_DIMS = 64
Q_MAX = 127
D_ALPHA = 0.7  # distillation: weight of the soft (teacher) term
D_TEMP = 2.0  # distillation temperature

_E9 = 1_000_000_000


def _round_away(x: float, nd: int) -> float:
    """Round half away from zero — Spark round()/DuckDB ROUND semantics.
    Python's built-in round() is banker's rounding and would drift."""
    p = 10.0**nd
    return math.copysign(math.floor(abs(x) * p + 0.5), x) / p


def fake_quant_int8(w: list[float]) -> tuple[list[float], float]:
    """Symmetric int8 fake-quantization of a weight vector
    (`qat_trainer.py:88-106`): scale = absmax/127 (9dp), values rounded
    onto the grid, clamped to ±127, dequantized. Zero weights (the cold
    start) pass through with scale 0."""
    mx = max(abs(v) for v in w) if w else 0.0
    if mx < 1e-12:
        return list(w), 0.0
    s = _round_away(mx / Q_MAX, 9)
    wq = [
        _round_away(min(max(_round_away(v / s, 0), -Q_MAX), Q_MAX) * s, 9)
        for v in w
    ]
    return wq, s


def _labeled_coords(spark: SparkSession, sf_dir: str) -> DataFrame:
    """(vec_id, y, dim, x): binary target y = label % 2 over the
    embeddings coordinates."""
    return embedding_coords(spark, sf_dir).select(
        "vec_id",
        (F.col("label") % 2).cast("int").alias("y"),
        "dim",
        F.col("v").alias("x"),
    )


def _forward(
    spark: SparkSession, coords: DataFrame, w: list[float], temp: float | None = None
) -> DataFrame:
    """One broadcast-join forward pass: per-example margin z (6dp) and
    probability p = σ(z) (6dp, clamped off the log poles)."""
    wdf = spark.createDataFrame(
        [(d, float(v)) for d, v in enumerate(w)], "dim int, wq double"
    )
    z = F.round(F.col("zr"), 6)
    out = (
        coords.join(F.broadcast(wdf), "dim")
        .groupBy("vec_id", "y")
        .agg(exact_sum(F.col("x") * F.col("wq"), 9).alias("zr"))
        .select("vec_id", "y", z.alias("z"))
        .withColumn(
            "p",
            F.least(
                F.greatest(
                    F.round(F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z"))), 6),
                    F.lit(1e-6),
                ),
                F.lit(1.0 - 1e-6),
            ),
        )
    )
    if temp is not None:
        out = out.withColumn(
            "p_t",
            F.least(
                F.greatest(
                    F.round(
                        F.lit(1.0) / (F.lit(1.0) + F.exp(-F.col("z") / temp)), 6
                    ),
                    F.lit(1e-6),
                ),
                F.lit(1.0 - 1e-6),
            ),
        )
    return out


def _gradient(fwd: DataFrame, coords: DataFrame, factor) -> dict[int, float]:
    """Tree-aggregated d-dimensional gradient: Σ rows factor(row)·x_d.
    ``factor`` is a Column over the forward output (joined back to the
    coordinates); only 64 numbers come to the driver."""
    rows = (
        fwd.select("vec_id", factor.alias("gf"))
        .join(coords, "vec_id")
        .groupBy("dim")
        .agg(exact_sum(F.col("gf") * F.col("x"), 9).alias("g"))
        .collect()
    )
    return {r["dim"]: r["g"] for r in rows}


def qat_train_logistic(
    spark: SparkSession,
    coords: DataFrame,
    *,
    epochs: int = EPOCHS,
    lr: float = LR,
    n_dims: int = N_DIMS,
) -> tuple[list[float], list[dict]]:
    """QAT full-batch GD on a binary logistic probe. Returns the final
    full-precision weights and the per-epoch metric history (loss and
    accuracy measured with the epoch's QUANTIZED forward — what the
    deployed int8 model would score)."""
    coords = tracked_persist(coords)  # FIFO-tracked (r13, VERDICT #6)
    n = 0  # example count rides in the first epoch's metric agg — no
    # separate distinct().count() job (fwd is grouped per vec_id)
    w = [0.0] * n_dims
    history: list[dict] = []
    for epoch in range(1, epochs + 1):
        wq, s = fake_quant_int8(w)
        fwd = _forward(spark, coords, wq).persist()
        row_loss = F.round(
            -F.col("y") * F.log("p") - (1 - F.col("y")) * F.log(1 - F.col("p")), 6
        )
        correct = ((F.col("p") >= 0.5).cast("int") == F.col("y")).cast("long")
        m = fwd.agg(
            exact_sum(row_loss, 9).alias("ls"),
            F.sum(correct).alias("ok"),
            F.count("*").alias("n"),
        ).first()
        n = m["n"]
        wq_norm = _round_away(
            math.sqrt(sum(_round_away(v * v, 9) for v in wq)), 6
        )
        history.append(
            {
                "epoch": epoch,
                "loss": _round_away(m["ls"] / n, 6),
                "accuracy": _round_away(m["ok"] / n, 6),
                "wq_norm": wq_norm,
                "q_scale": s,
            }
        )
        g = _gradient(fwd, coords, F.col("p") - F.col("y"))
        fwd.unpersist()
        w = [
            _round_away(w[d] - lr * g.get(d, 0.0) / n, 9) for d in range(n_dims)
        ]
    return w, history


def teacher_weights(n_dims: int = N_DIMS) -> list[float]:
    """Deterministic fixed linear teacher (`distiller.py:14` — "teacher is
    always fixed"): w_t[d] = ((d·37) mod 13 − 6) / 20, reproducible in
    any engine with integer arithmetic."""
    return [((d * 37) % 13 - 6) / 20.0 for d in range(n_dims)]


def distill_train_logistic(
    spark: SparkSession,
    coords: DataFrame,
    *,
    epochs: int = EPOCHS,
    lr: float = LR,
    alpha: float = D_ALPHA,
    temp: float = D_TEMP,
    n_dims: int = N_DIMS,
) -> tuple[list[float], list[dict]]:
    """Knowledge-distillation GD (`distiller.py:17-41`): the student
    chases α·T²·KL(teacher ‖ student) + (1−α)·CE(labels). The teacher's
    soft targets are computed ONCE (it never trains) and re-joined each
    epoch; per-epoch metrics report both loss components and how often
    the student agrees with the teacher's hard call."""
    coords = tracked_persist(coords)  # FIFO-tracked (r13, VERDICT #6)
    n = 0  # filled from the first epoch's metric agg (one row per vec_id)
    tfwd = (
        _forward(spark, coords, teacher_weights(n_dims), temp=temp)
        .select(
            "vec_id",
            F.col("p").alias("q"),
            F.col("p_t").alias("q_t"),
        )
        .transform(tracked_persist)
    )
    w = [0.0] * n_dims
    history: list[dict] = []
    for epoch in range(1, epochs + 1):
        fwd = (
            _forward(spark, coords, w, temp=temp)
            .join(tfwd, "vec_id")
            .persist()
        )
        # KL(q_T ‖ p_T) per row, both components 6dp-pinned
        kl = F.round(
            F.col("q_t") * F.log(F.col("q_t") / F.col("p_t"))
            + (1 - F.col("q_t")) * F.log((1 - F.col("q_t")) / (1 - F.col("p_t"))),
            6,
        )
        ce = F.round(
            -F.col("y") * F.log("p") - (1 - F.col("y")) * F.log(1 - F.col("p")), 6
        )
        agree = (
            (F.col("p") >= 0.5).cast("int") == (F.col("q") >= 0.5).cast("int")
        ).cast("long")
        m = fwd.agg(
            exact_sum(kl, 9).alias("kl"),
            exact_sum(ce, 9).alias("ce"),
            F.sum(agree).alias("agree"),
            F.count("*").alias("n"),
        ).first()
        n = m["n"]
        soft = _round_away(alpha * temp * temp * m["kl"] / n, 6)
        hard = _round_away((1 - alpha) * m["ce"] / n, 6)
        history.append(
            {
                "epoch": epoch,
                "soft_loss": soft,
                "hard_loss": hard,
                "distill_loss": _round_away(soft + hard, 6),
                "teacher_agree": _round_away(m["agree"] / n, 6),
            }
        )
        factor = F.round(
            F.lit(alpha * temp) * (F.col("p_t") - F.col("q_t"))
            + F.lit(1 - alpha) * (F.col("p") - F.col("y")),
            6,
        )
        g = _gradient(fwd, coords, factor)
        fwd.unpersist()
        w = [
            _round_away(w[d] - lr * g.get(d, 0.0) / n, 9) for d in range(n_dims)
        ]
    tfwd.unpersist()
    return w, history


# ---------------------------------------------------------------------------
# Oracle SQL generation: the same loops unrolled as chained CTEs
# ---------------------------------------------------------------------------


def _sql_clamp_p(z: str) -> str:
    return f"LEAST(GREATEST(ROUND(1.0 / (1.0 + exp(-({z}))), 6), 0.000001), 0.999999)"


def _qat_oracle() -> str:
    parts = [
        f"""coords AS (
        SELECT vec_id, CAST(label % 2 AS INTEGER) AS y, dim, v AS x
        FROM {_duck_coords(None)} c),
    nn AS (SELECT COUNT(DISTINCT vec_id) AS n FROM coords),
    w0 AS (SELECT CAST(range AS INTEGER) AS dim, 0.0 AS w
           FROM range({N_DIMS}))"""
    ]
    metric_selects = []
    prev = "w0"
    for k in range(1, EPOCHS + 1):
        parts.append(
            f"""s{k} AS (SELECT CASE WHEN MAX(ABS(w)) < 1e-12 THEN 0.0
                       ELSE ROUND(MAX(ABS(w)) / {Q_MAX}, 9) END AS s
                FROM {prev})"""
        )
        parts.append(
            f"""wq{k} AS (SELECT dim,
                CASE WHEN (SELECT s FROM s{k}) < 1e-12 THEN w
                     ELSE ROUND(LEAST(GREATEST(ROUND(w / (SELECT s FROM s{k})),
                                               -{Q_MAX}), {Q_MAX})
                                * (SELECT s FROM s{k}), 9) END AS wq
                FROM {prev})"""
        )
        parts.append(
            f"""f{k} AS (SELECT c.vec_id, c.y,
                       ROUND({duck_exact_sum("c.x * q.wq", 9)}, 6) AS z
                FROM coords c JOIN wq{k} q USING (dim)
                GROUP BY c.vec_id, c.y)"""
        )
        parts.append(
            f"p{k} AS (SELECT vec_id, y, {_sql_clamp_p('z')} AS p FROM f{k})"
        )
        parts.append(
            f"""m{k} AS (SELECT {k} AS epoch,
                ROUND(({duck_exact_sum(
                    "ROUND(-y * ln(p) - (1 - y) * ln(1 - p), 6)", 9
                )}) / (SELECT n FROM nn), 6) AS loss,
                ROUND(CAST(SUM(CASE WHEN (p >= 0.5) = (y = 1)
                                    THEN 1 ELSE 0 END) AS BIGINT) * 1.0
                      / (SELECT n FROM nn), 6) AS accuracy,
                (SELECT ROUND(sqrt({duck_exact_sum("ROUND(wq * wq, 9)", 9)}
                     * {_E9}.0 / {_E9}.0), 6) FROM wq{k}) AS wq_norm,
                (SELECT ROUND(s, 9) FROM s{k}) AS q_scale
                FROM p{k})"""
        )
        parts.append(
            f"""g{k} AS (SELECT c.dim,
                       {duck_exact_sum("(p.p - p.y) * c.x", 9)} AS g
                FROM p{k} p JOIN coords c USING (vec_id)
                GROUP BY c.dim)"""
        )
        nxt = f"w{k}"
        parts.append(
            f"""{nxt} AS (SELECT w.dim,
                ROUND(w.w - {LR} * g.g / (SELECT n FROM nn), 9) AS w
                FROM {prev} w JOIN g{k} g USING (dim))"""
        )
        metric_selects.append(f"SELECT * FROM m{k}")
        prev = nxt
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    "
        + " UNION ALL ".join(metric_selects)
        + " ORDER BY epoch"
    )


def _distill_oracle() -> str:
    at2 = D_ALPHA * D_TEMP * D_TEMP
    parts = [
        f"""coords AS (
        SELECT vec_id, CAST(label % 2 AS INTEGER) AS y, dim, v AS x
        FROM {_duck_coords(None)} c),
    nn AS (SELECT COUNT(DISTINCT vec_id) AS n FROM coords),
    wt AS (SELECT CAST(range AS INTEGER) AS dim,
                  ((CAST(range AS INTEGER) * 37) % 13 - 6) / 20.0 AS w
           FROM range({N_DIMS})),
    tf AS (SELECT c.vec_id,
                  ROUND({duck_exact_sum("c.x * t.w", 9)}, 6) AS zt
           FROM coords c JOIN wt t USING (dim) GROUP BY c.vec_id),
    tq AS (SELECT vec_id, {_sql_clamp_p('zt')} AS q,
                  {_sql_clamp_p(f'zt / {D_TEMP}')} AS q_t
           FROM tf),
    w0 AS (SELECT CAST(range AS INTEGER) AS dim, 0.0 AS w
           FROM range({N_DIMS}))"""
    ]
    metric_selects = []
    prev = "w0"
    for k in range(1, EPOCHS + 1):
        parts.append(
            f"""f{k} AS (SELECT c.vec_id, c.y,
                       ROUND({duck_exact_sum("c.x * q.w", 9)}, 6) AS z
                FROM coords c JOIN {prev} q USING (dim)
                GROUP BY c.vec_id, c.y)"""
        )
        parts.append(
            f"""p{k} AS (SELECT f.vec_id, f.y, {_sql_clamp_p('f.z')} AS p,
                       {_sql_clamp_p(f'f.z / {D_TEMP}')} AS p_t,
                       t.q, t.q_t
                FROM f{k} f JOIN tq t USING (vec_id))"""
        )
        parts.append(
            f"""m{k} AS (SELECT {k} AS epoch,
                ROUND({at2} * ({duck_exact_sum(
                    "ROUND(q_t * ln(q_t / p_t)"
                    " + (1 - q_t) * ln((1 - q_t) / (1 - p_t)), 6)", 9
                )}) / (SELECT n FROM nn), 6) AS soft_loss,
                ROUND({1 - D_ALPHA} * ({duck_exact_sum(
                    "ROUND(-y * ln(p) - (1 - y) * ln(1 - p), 6)", 9
                )}) / (SELECT n FROM nn), 6) AS hard_loss,
                ROUND(ROUND({at2} * ({duck_exact_sum(
                    "ROUND(q_t * ln(q_t / p_t)"
                    " + (1 - q_t) * ln((1 - q_t) / (1 - p_t)), 6)", 9
                )}) / (SELECT n FROM nn), 6)
                    + ROUND({1 - D_ALPHA} * ({duck_exact_sum(
                    "ROUND(-y * ln(p) - (1 - y) * ln(1 - p), 6)", 9
                )}) / (SELECT n FROM nn), 6), 6) AS distill_loss,
                ROUND(CAST(SUM(CASE WHEN (p >= 0.5) = (q >= 0.5)
                                    THEN 1 ELSE 0 END) AS BIGINT) * 1.0
                      / (SELECT n FROM nn), 6) AS teacher_agree
                FROM p{k})"""
        )
        parts.append(
            f"""g{k} AS (SELECT c.dim, {duck_exact_sum(
                f"ROUND({D_ALPHA * D_TEMP} * (p.p_t - p.q_t)"
                f" + {1 - D_ALPHA} * (p.p - p.y), 6) * c.x", 9
            )} AS g
                FROM p{k} p JOIN coords c USING (vec_id)
                GROUP BY c.dim)"""
        )
        nxt = f"w{k}"
        parts.append(
            f"""{nxt} AS (SELECT w.dim,
                ROUND(w.w - {LR} * g.g / (SELECT n FROM nn), 9) AS w
                FROM {prev} w JOIN g{k} g USING (dim))"""
        )
        metric_selects.append(f"SELECT * FROM m{k}")
        prev = nxt
    return (
        "WITH "
        + ",\n    ".join(parts)
        + "\n    "
        + " UNION ALL ".join(metric_selects)
        + " ORDER BY epoch"
    )


# ---------------------------------------------------------------------------
# Registered queries
# ---------------------------------------------------------------------------


@query("q83_qat_probe", oracle=_qat_oracle())
def q83_qat_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """QAT training loop (`qat_trainer.py:88-116`): 3 epochs of full-batch
    GD on a binary logistic probe over the embeddings, weights
    fake-quantized to symmetric int8 every epoch (STE). One row per
    epoch: int8-forward loss, accuracy, quantized-weight norm, and the
    epoch's quantization scale. The oracle unrolls the identical loop as
    chained CTEs, so every distributed gradient is hash-checked."""
    coords = _labeled_coords(spark, sf_dir)
    _, history = qat_train_logistic(spark, coords)
    return spark.createDataFrame(
        [
            (h["epoch"], h["loss"], h["accuracy"], h["wq_norm"], h["q_scale"])
            for h in history
        ],
        "epoch int, loss double, accuracy double, wq_norm double, q_scale double",
    )


@query("q84_distill_probe", oracle=_distill_oracle())
def q84_distill_probe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distillation training loop (`distiller.py:17-41`): 3 epochs of the
    α-blended soft/hard objective against a fixed linear teacher at
    T=2.0. One row per epoch: soft (α·T²·KL) and hard ((1−α)·CE) loss
    components, their sum, and student/teacher hard-call agreement —
    which rises as the student absorbs the teacher."""
    coords = _labeled_coords(spark, sf_dir)
    _, history = distill_train_logistic(spark, coords)
    return spark.createDataFrame(
        [
            (
                h["epoch"],
                h["soft_loss"],
                h["hard_loss"],
                h["distill_loss"],
                h["teacher_agree"],
            )
            for h in history
        ],
        "epoch int, soft_loss double, hard_loss double,"
        " distill_loss double, teacher_agree double",
    )
