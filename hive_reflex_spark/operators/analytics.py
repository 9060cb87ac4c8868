"""Model-quality & telemetry analytics (SURVEY §2A A6, A11, A13, T2):
accuracy eval, distillation loss, runtime-log statistics, cascade
early-exit accounting.
"""

from __future__ import annotations

import operator

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_reflex_spark.functions import (
    duck_dyadic_md5_uniform,
    duck_exact_sum,
    duck_unit_sum,
    dyadic_md5_uniform,
    exact_sum,
)
from hive_reflex_spark.io import (
    corpus_checkpoint,
    maybe_local_checkpoint,
    read_table,
)
from hive_reflex_spark.operators.tensor import _duck_coords, embedding_coords
from hive_reflex_spark.registry import query


@query(
    "q72_accuracy_eval",
    oracle=f"""
    SELECT label,
           COUNT(*) AS n_samples,
           CAST(SUM(CASE WHEN argmax_dim % 10 = label THEN 1 ELSE 0 END)
               AS BIGINT) AS n_correct,
           CAST(SUM(CASE WHEN argmax_dim % 10 = label THEN 1 ELSE 0 END)
               AS BIGINT) * 1.0 / COUNT(*) AS accuracy
    FROM (SELECT vec_id, label, dim AS argmax_dim FROM (
              SELECT vec_id, label, dim,
                     ROW_NUMBER() OVER (PARTITION BY vec_id
                                        ORDER BY v DESC, dim) AS rn
              FROM {_duck_coords(None)}) WHERE rn = 1)
    GROUP BY label
    """,
)
def q72_accuracy_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax-match accuracy (A13, `distillation/distiller.py:70-77`):
    predicted class = argmax dim mod 10 vs the labeled class, per-class
    accuracy — the classifier-eval aggregate over the tensor table."""
    coords = embedding_coords(spark, sf_dir)
    w = Window.partitionBy("vec_id").orderBy(F.desc("v"), "dim")
    top = (
        coords.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("vec_id", "label", F.col("dim").alias("argmax_dim"))
    )
    correct = F.sum(
        F.when(F.col("argmax_dim") % 10 == F.col("label"), 1).otherwise(0)
    )
    return top.groupBy("label").agg(
        F.count("*").alias("n_samples"),
        correct.alias("n_correct"),
        (correct * 1.0 / F.count("*")).alias("accuracy"),
    )


def _softmax_cols(prefix: str) -> str:
    """DuckDB fragment: per-vec softmax with 6dp-pre-rounded exp."""
    return f"""(
        SELECT vec_id, dim,
               e / (CAST(SUM(CAST(ROUND(e * 1000000) AS BIGINT))
                    OVER (PARTITION BY vec_id) AS BIGINT) / 1000000.0) AS p
        FROM (SELECT vec_id, dim,
                     ROUND(exp(v - MAX(v) OVER (PARTITION BY vec_id)), 6) AS e
              FROM {_duck_coords(None)}))"""


@query(
    "q73_distillation_kl",
    oracle=f"""
    WITH sm AS {_softmax_cols('sm')}
    SELECT t.vec_id AS teacher_id, t.vec_id + 250 AS student_id,
           {duck_exact_sum("ROUND(t.p * ln(t.p / s.p), 9)", 9)} AS kl_div
    FROM sm t JOIN sm s ON s.vec_id = t.vec_id + 250 AND s.dim = t.dim
    WHERE t.vec_id < 8
    GROUP BY t.vec_id
    """,
)
def q73_distillation_kl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distillation KL divergence (A11, `distillation/distiller.py:17-41`):
    KL(teacher ‖ student) = Σ p·ln(p/q) between softmaxed logit rows
    (vec i as teacher, vec i+250 as student) — the knowledge-distillation
    loss as a join + grouped sum, per-term pre-rounded for parity."""
    coords = embedding_coords(spark, sf_dir)
    wv = Window.partitionBy("vec_id")
    e = F.round(F.exp(F.col("v") - F.max("v").over(wv)), 6)
    sm = (
        coords.withColumn("e", e)
        .withColumn(
            "p",
            F.col("e")
            / (
                F.sum(F.round(F.col("e") * 1_000_000).cast("long")).over(wv)
                / 1_000_000.0
            ),
        )
        .select("vec_id", "dim", "p")
    )
    t = sm.filter(F.col("vec_id") < 8).alias("t")
    s = sm.alias("s")
    term = F.round(F.col("t.p") * F.log(F.col("t.p") / F.col("s.p")), 9)
    return (
        t.join(
            s,
            (F.col("s.vec_id") == F.col("t.vec_id") + 250)
            & (F.col("s.dim") == F.col("t.dim")),
        )
        .groupBy(
            F.col("t.vec_id").alias("teacher_id"),
            (F.col("t.vec_id") + 250).alias("student_id"),
        )
        .agg(exact_sum(term, 9).alias("kl_div"))
    )


@query(
    "q74_log_stats",
    oracle=f"""
    SELECT event_type,
           COUNT(*) AS n,
           {duck_exact_sum("value")}
               / COUNT(*) AS mean_value,
           ROUND(sqrt((CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)
                       * CAST(ROUND(value * 100) AS BIGINT)) AS BIGINT)
                       / 10000.0
                       - pow({duck_exact_sum("value")}, 2) / COUNT(*))
                      / (COUNT(*) - 1)), 6) AS std_value,
           ROUND(quantile_cont(value, 0.99), 4) AS p99_value
    FROM events
    GROUP BY event_type
    """,
)
def q74_log_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Runtime-log statistics (A6, `tools/ai_feedback.py:120-146`): mean,
    sample stddev, and p99 per stream — the reference's telemetry rollup.
    Stddev is computed from exact integer sums (Σx, Σx²) so both engines
    agree bit-for-bit; at 100 TB swap quantile for percentile_approx."""
    events = read_table(spark, sf_dir, "events")
    cents = F.round(F.col("value") * 100).cast("long")
    sum_c = F.sum(cents)
    sumsq = F.sum(cents * cents)
    n = F.count("*")
    mean = sum_c / 100.0 / n
    var = (sumsq / 10_000.0 - F.pow(sum_c / 100.0, 2) / n) / (n - 1)
    return events.groupBy("event_type").agg(
        n.alias("n"),
        mean.alias("mean_value"),
        F.round(F.sqrt(var), 6).alias("std_value"),
        F.round(F.percentile("value", 0.99), 4).alias("p99_value"),
    )


# ---------------------------------------------------------------------------
# Cascade early-exit (T2): declarative stats + the real driver loop
# ---------------------------------------------------------------------------

CASCADE_STAGES: list[tuple[int, float]] = [(1, 300.0), (2, 150.0)]
FINAL_STAGE = 3
STAGE_COST = {1: 1.0, 2: 4.0, 3: 16.0}  # relative per-row inference cost


def cascade_exit_stage() -> Column:
    expr = F.lit(FINAL_STAGE)
    for stage, thr in reversed(CASCADE_STAGES):
        expr = F.when(F.col("value") > thr, stage).otherwise(expr)
    return expr


def run_cascade(events: DataFrame) -> DataFrame:
    """The *actual* early-exit control flow (T2, `cascade_model.c:71-119`):
    a driver-side loop that filters out exited rows between stages —
    data-dependent control flow as iterative DataFrame construction
    (SURVEY §4.1's 'driver loop, not a plan node'). Returns
    (event_id, exit_stage). Tests assert it equals the declarative CASE."""
    remaining = events
    outs = []
    for stage, thr in CASCADE_STAGES:
        exited = remaining.filter(F.col("value") > thr).select(
            "event_id", F.lit(stage).alias("exit_stage")
        )
        outs.append(exited)
        remaining = remaining.filter(~(F.col("value") > thr))
    outs.append(
        remaining.select("event_id", F.lit(FINAL_STAGE).alias("exit_stage"))
    )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out


@query(
    "q75_cascade_stats",
    oracle=f"""
    SELECT exit_stage,
           COUNT(*) AS n_exits,
           {duck_exact_sum("value")}
               / COUNT(*) AS mean_value,
           ROUND(COUNT(*) * CAST(CASE exit_stage WHEN 1 THEN {STAGE_COST[1]!r}
                 WHEN 2 THEN {STAGE_COST[1] + STAGE_COST[2]!r}
                 ELSE {STAGE_COST[1] + STAGE_COST[2] + STAGE_COST[3]!r} END
                 AS DOUBLE), 2) AS total_cost
    FROM (SELECT event_id, value,
                 CASE WHEN value > 300.0 THEN 1
                      WHEN value > 150.0 THEN 2
                      ELSE 3 END AS exit_stage
          FROM events)
    GROUP BY exit_stage
    """,
)
def q75_cascade_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cascade early-exit statistics (T2/A8, `cascade_model.c:135-171`):
    exit histogram + cumulative inference cost per exit point — the
    70%-exit-at-layer-2 accounting of `flash_io_benchmark.py:175-197` as a
    grouped aggregate. The iterative execution path is run_cascade()."""
    events = read_table(spark, sf_dir, "events")
    cum_cost = {
        1: STAGE_COST[1],
        2: STAGE_COST[1] + STAGE_COST[2],
        3: STAGE_COST[1] + STAGE_COST[2] + STAGE_COST[3],
    }
    cost = (
        F.when(F.col("exit_stage") == 1, cum_cost[1])
        .when(F.col("exit_stage") == 2, cum_cost[2])
        .otherwise(cum_cost[3])
    )
    agged = (
        events.withColumn("exit_stage", cascade_exit_stage())
        .groupBy("exit_stage")
        .agg(
            F.count("*").alias("n_exits"),
            (exact_sum(F.col("value"), 2) / F.count("*")).alias("mean_value"),
        )
    )
    return agged.select(
        "exit_stage",
        "n_exits",
        "mean_value",
        F.round(F.col("n_exits") * cost, 2).alias("total_cost"),
    )


@query(
    "q76_weight_stats",
    oracle=f"""
    SELECT vec_id AS tensor_id,
           COUNT(*) AS n,
           MIN(v) AS min_v, MAX(v) AS max_v,
           {duck_exact_sum("v", 9)} / COUNT(*) AS mean_v,
           ROUND(sqrt((CAST(SUM(CAST(ROUND(v * 1000000000) AS BIGINT)
                       * CAST(ROUND(v * 1000000000) AS BIGINT)) AS BIGINT)
                       / 1e18
                       - pow({duck_exact_sum("v", 9)}, 2) / COUNT(*))
                      / (COUNT(*) - 1)), 6) AS std_v,
           ROUND(greatest(abs(MIN(v)), abs(MAX(v))) / 127.0, 9)
               AS derived_scale
    FROM {_duck_coords(64)}
    GROUP BY vec_id
    """,
)
def q76_weight_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Calibration statistics per tensor (A1, `mlir_compiler/optimizer.py:
    226-253`; `quantization.py:100-113`): min/max/mean/std + the derived
    symmetric int8 scale — the quantization-parameter pass as one grouped
    aggregate (stddev from exact integer sums for engine parity)."""
    coords = embedding_coords(spark, sf_dir, max_vec=64)
    units = F.round(F.col("v") * 1_000_000_000).cast("long")
    sum_u = F.sum(units)
    sumsq = F.sum(units * units)
    n = F.count("*")
    mean = sum_u / 1_000_000_000.0 / n
    var = (sumsq / 1e18 - F.pow(sum_u / 1_000_000_000.0, 2) / n) / (n - 1)
    return coords.groupBy(F.col("vec_id").alias("tensor_id")).agg(
        n.alias("n"),
        F.min("v").alias("min_v"),
        F.max("v").alias("max_v"),
        mean.alias("mean_v"),
        F.round(F.sqrt(var), 6).alias("std_v"),
        F.round(
            F.greatest(F.abs(F.min("v")), F.abs(F.max("v"))) / 127.0, 9
        ).alias("derived_scale"),
    )


@query(
    "q77_mixed_precision",
    oracle=f"""
    WITH err AS (
        SELECT vec_id,
               {duck_exact_sum(
                   "pow(v - ROUND(least(greatest(ROUND(v / (mx / 127.0)),"
                   " -127), 127)) * (mx / 127.0), 2)", 9)}
                   / COUNT(*) AS mse
        FROM (SELECT vec_id, v, MAX(abs(v)) OVER (PARTITION BY vec_id) AS mx
              FROM {_duck_coords(None)})
        GROUP BY vec_id)
    SELECT precision, COUNT(*) AS n_tensors,
           ROUND(MIN(mse), 9) AS min_mse, ROUND(MAX(mse), 9) AS max_mse
    FROM (SELECT vec_id, mse,
                 CASE WHEN mse < 0.0000004 THEN 'int8' ELSE 'float16' END
                     AS precision
          FROM err)
    GROUP BY precision
    """,
)
def q77_mixed_precision(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sensitivity-driven mixed precision (`mlir_compiler/quantization.py:
    151-172`): per-tensor int8 round-trip MSE decides int8 vs float16 —
    the A12 error metric feeding a per-layer precision assignment, rolled
    up as the pass summary."""
    coords = embedding_coords(spark, sf_dir)
    wv = Window.partitionBy("vec_id")
    scale = F.max(F.abs(F.col("v"))).over(wv) / 127.0
    q = F.least(F.greatest(F.round(F.col("v") / scale), F.lit(-127.0)), F.lit(127.0))
    err = F.col("v") - F.round(q) * scale
    mse_df = (
        coords.withColumn("sq", F.pow(err, 2))
        .groupBy("vec_id")
        .agg((exact_sum(F.col("sq"), 9) / F.count("*")).alias("mse"))
    )
    prec = F.when(F.col("mse") < 4e-7, "int8").otherwise("float16")
    return (
        mse_df.withColumn("precision", prec)
        .groupBy("precision")
        .agg(
            F.count("*").alias("n_tensors"),
            F.round(F.min("mse"), 9).alias("min_mse"),
            F.round(F.max("mse"), 9).alias("max_mse"),
        )
    )


# ---------------------------------------------------------------------------
# Adaptive cascade threshold (stateful feedback on the A8 aggregate)
# ---------------------------------------------------------------------------

ADAPT_K = 0.1  # factor step per unit exit-rate error
ADAPT_BASE = 40.0  # stage confidence threshold the factor scales
ADAPT_TARGET = 0.45  # target exit rate: the fixture's operating point
ADAPT_LO, ADAPT_HI = 0.9, 1.1  # cascade_model.h:66 factor bounds


def adaptive_threshold_trajectory(
    hourly: DataFrame, key_cols: list[str], order_col: str
) -> DataFrame:
    """Per-key replay of `cascade_model.c:60-66,115-117`'s adaptive
    threshold hook: each batch observes its early-exit rate and nudges
    ``threshold_adjust_factor`` toward the target operating point,
    clamped to the header's [0.9, 1.1]; the effective threshold
    ``base*factor`` (`Cascade_ShouldExit`'s multiply) is what the next
    batch would apply.

    ``hourly`` rows: key_cols + (order_col, n, n_exit). The recurrence
    input is the per-batch AGGREGATE — O(hours), not O(events) — so the
    sequential part is planner-scale per key while the heavy count runs
    distributed; keys (one control loop per event_type here) recur in
    parallel. Every update is exactly-rounded binary64 arithmetic in a
    pinned order, so the trajectory is engine-exact (oracled by a
    recursive CTE in q108)."""
    import pandas as pd

    schema = f"{hourly.schema.simpleString()[7:-1]},factor:double"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        f = 1.0
        out = []
        for n, n_exit in zip(pdf["n"], pdf["n_exit"]):
            f = f + ADAPT_K * (int(n_exit) / int(n) - ADAPT_TARGET)
            f = min(max(f, ADAPT_LO), ADAPT_HI)
            out.append(f)
        pdf["factor"] = out
        return pdf

    return hourly.groupBy(*key_cols).applyInPandas(fn, schema)


@query(
    "q108_adaptive_cascade",
    oracle="""
    WITH RECURSIVE hourly AS MATERIALIZED (
        SELECT event_type,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
               COUNT(*) AS n,
               SUM(CASE WHEN value > 40.0 THEN 1 ELSE 0 END) AS n_exit
        FROM events GROUP BY 1, 2),
    seq AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h)
                      AS rn
        FROM hourly),
    ctl AS (
        SELECT event_type, CAST(NULL AS VARCHAR) AS h, 0 AS rn,
               CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS n_exit,
               CAST(1.0 AS DOUBLE) AS factor
        FROM (SELECT DISTINCT event_type FROM seq)
        UNION ALL
        SELECT s.event_type, s.h, s.rn, s.n, s.n_exit,
               LEAST(GREATEST(c.factor
                     + CAST(0.1 AS DOUBLE)
                       * (CAST(s.n_exit AS DOUBLE) / CAST(s.n AS DOUBLE)
                          - CAST(0.45 AS DOUBLE)),
                     CAST(0.9 AS DOUBLE)), CAST(1.1 AS DOUBLE))
        FROM seq s JOIN ctl c
          ON s.event_type = c.event_type AND s.rn = c.rn + 1)
    SELECT event_type, h AS window_start, n,
           CAST(n_exit AS BIGINT) AS n_exit,
           ROUND(factor, 6) AS factor,
           ROUND(40.0 * factor, 6) AS effective_threshold
    FROM ctl WHERE rn >= 1
    """,
)
def q108_adaptive_cascade(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adaptive cascade threshold (`flash_io_optimizer.c:162-167` cascade
    strategy + `cascade_model.c:115-117`): one control loop per
    event_type observes each hour's exit rate against the base
    confidence threshold (40.0, chosen at the fixture's ~45% operating
    point so the controller exercises its active region rather than a
    clamp) and updates the threshold-adjust factor;
    output is the factor trajectory and the effective threshold the next
    hour would apply."""
    events = read_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type",
        F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
        .alias("window_start"),
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.when(F.col("value") > ADAPT_BASE, 1).otherwise(0)).alias("n_exit"),
    )
    traj = adaptive_threshold_trajectory(
        hourly, ["event_type"], "window_start"
    )
    return traj.select(
        "event_type",
        "window_start",
        "n",
        F.col("n_exit").cast("long").alias("n_exit"),
        F.round("factor", 6).alias("factor"),
        F.round(F.col("factor") * ADAPT_BASE, 6).alias("effective_threshold"),
    )


# ---------------------------------------------------------------------------
# Robust outlier monitor (median / MAD)
# ---------------------------------------------------------------------------

MAD_K = 3.0  # flag beyond 3 MADs


@query(
    "q116_mad_outliers",
    oracle=f"""
    WITH med AS (SELECT event_type,
                        quantile_cont(value, 0.5) AS med
                 FROM events GROUP BY event_type),
         dev AS (SELECT e.event_type, e.value, med.med,
                        abs(e.value - med.med) AS adev
                 FROM events e JOIN med USING (event_type)),
         mad AS (SELECT event_type,
                        quantile_cont(adev, 0.5) AS mad
                 FROM dev GROUP BY event_type)
    SELECT dev.event_type,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(dev.med, 6) AS med,
           ROUND(mad.mad, 6) AS mad,
           CAST(SUM(CASE WHEN dev.adev > {MAD_K} * mad.mad
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
           ROUND(SUM(CASE WHEN dev.adev > {MAD_K} * mad.mad
                          THEN 1 ELSE 0 END) * 1.0 / COUNT(*), 6)
               AS outlier_frac
    FROM dev JOIN mad USING (event_type)
    GROUP BY dev.event_type, dev.med, mad.mad
    """,
)
def q116_mad_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust telemetry outlier monitor: per event type, the median and
    the median absolute deviation (MAD — the robust sigma the mean/std
    pair cannot give when the tail itself is what you're hunting), then
    flag events beyond MAD_K MADs. The data-quality gate a training
    pipeline runs on ingest metrics before trusting a batch.

    Both engines use interpolated medians (Spark `percentile`, DuckDB
    `quantile_cont`) over identical doubles, so the grouped medians are
    bit-identical. Scale: exact percentile sorts within each group —
    correct at any group count; for groups too hot to sort, the
    production swap is `approx_percentile` (same plan shape, bounded
    error), which this query's structure admits unchanged. Two grouped
    passes + one broadcast-back join of #event_type rows."""
    events = read_table(spark, sf_dir, "events")
    med = events.groupBy("event_type").agg(
        F.expr("percentile(value, 0.5)").alias("med")
    )
    dev = events.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med",
        F.abs(F.col("value") - F.col("med")).alias("adev"),
    )
    mad = dev.groupBy("event_type").agg(
        F.expr("percentile(adev, 0.5)").alias("mad")
    )
    flagged = dev.join(F.broadcast(mad), "event_type")
    return (
        flagged.groupBy("event_type", "med", "mad")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(
                F.when(F.col("adev") > MAD_K * F.col("mad"), 1).otherwise(0)
            ).alias("n_outliers"),
        )
        .select(
            "event_type",
            "n_events",
            F.round("med", 6).alias("med"),
            F.round("mad", 6).alias("mad"),
            "n_outliers",
            F.round(F.col("n_outliers") * 1.0 / F.col("n_events"), 6).alias(
                "outlier_frac"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Deterministic (portable) HyperLogLog
# ---------------------------------------------------------------------------

HLL_M = 256  # 2^8 buckets (first two md5 hex chars); rsd ~ 1.04/sqrt(m) = 6.5%
_HLL_ALPHA = 0.7213 / (1 + 1.079 / HLL_M)

# leading-zero bits of the first nonzero hex digit (value 1..15)
_LZ_DIGIT = (
    "CASE WHEN {d} >= 8 THEN 0 WHEN {d} >= 4 THEN 1 "
    "WHEN {d} >= 2 THEN 2 ELSE 3 END"
)

# DuckDB replay of hll_registers' m_j aggregate over (bucket, suffix) rows
_HLL_RHO_SQL = f"""CAST(MAX(
                            4 * (29 - len(ltrim(suffix, '0')))
                            + CASE WHEN ltrim(suffix, '0') = '' THEN 0
                                   ELSE {_LZ_DIGIT.format(d="instr('0123456789abcdef', substr(ltrim(suffix, '0'), 1, 1)) - 1")}
                              END + 1) AS BIGINT) AS m_j"""

_HLL_ERROR_SQL = """CAST(ROUND(corrected.e) AS BIGINT) AS hll_users,
           ROUND(abs(corrected.e - exact.exact_users)
                 / exact.exact_users, 6) AS rel_error"""


def _hll_estimate_sql(keys: str, regs: str, per: str) -> str:
    """Oracle CTEs ``{per}``, ``est`` and ``corrected``: the HLL estimate
    ``e`` per ``keys`` group from the registers in CTE ``regs``."""
    return f"""{per} AS (SELECT {keys},
                             SUM(pow(2.0, -m_j)) AS sum_pow,
                             CAST(COUNT(*) AS BIGINT) AS n_buckets
                      FROM {regs} GROUP BY {keys}),
         est AS (SELECT {keys},
                        CAST({_HLL_ALPHA} AS DOUBLE) * {HLL_M} * {HLL_M}
                            / (sum_pow + ({HLL_M} - n_buckets)) AS e_raw,
                        {HLL_M} - n_buckets AS zeros
                 FROM {per}),
         corrected AS (SELECT {keys},
                              CASE WHEN e_raw <= CAST(2.5 AS DOUBLE) * {HLL_M} AND zeros > 0
                                   THEN {HLL_M} * ln({HLL_M} * 1.0 / zeros)
                                   ELSE e_raw END AS e
                       FROM est)"""


def hll_registers(
    df: DataFrame, group_cols: list[str], key_col: str = "user_id"
) -> DataFrame:
    """The portable md5 HyperLogLog register table over ``df[key_col]``:
    (*group_cols, bucket, m_j) with bucket = first md5 hex byte (m=256)
    and m_j = max rho (leading-zero bits of the 116-bit suffix + 1) per
    group — the ONE register construction shared by q118 (per
    event_type), q265 (per event_type/day/hour before the rollup
    merge), q265a (maintained by the stream), q285 (per graph node),
    and the register-parity tests, so any rho fix lands everywhere at
    once. Works on batch and streaming frames alike (one grouped
    MAX)."""
    h = F.md5(F.col(key_col).cast("string"))
    hashed = df.select(
        *group_cols,
        F.substring(h, 1, 2).alias("bucket"),
        F.substring(h, 3, 29).alias("suffix"),
    )
    nz = F.expr("trim(LEADING '0' FROM suffix)")
    fdv = F.expr(
        "instr('0123456789abcdef', "
        "substr(trim(LEADING '0' FROM suffix), 1, 1)) - 1"
    )
    lz = F.when(fdv >= 8, 0).when(fdv >= 4, 1).when(fdv >= 2, 2).otherwise(3)
    return (
        hashed.select(
            *group_cols,
            "bucket",
            (4 * (29 - F.length(nz)) + F.when(nz == "", 0).otherwise(lz) + 1)
            .cast("long")
            .alias("r"),
        )
        .groupBy(*group_cols, "bucket")
        .agg(F.max("r").alias("m_j"))
    )


@query(
    "q118_hll_distinct",
    oracle=f"""
    WITH hashed AS (SELECT DISTINCT event_type,
                           substr(md5(CAST(user_id AS VARCHAR)), 1, 2)
                               AS bucket,
                           substr(md5(CAST(user_id AS VARCHAR)), 3, 29)
                               AS suffix
                    FROM events),
         rho AS (SELECT event_type, bucket,
                        {_HLL_RHO_SQL}
                 FROM hashed GROUP BY event_type, bucket),
         {_hll_estimate_sql("event_type", "rho", "per_type")},
         exact AS (SELECT event_type,
                          CAST(COUNT(DISTINCT user_id) AS BIGINT)
                              AS exact_users
                   FROM events GROUP BY event_type)
    SELECT exact.event_type, exact.exact_users,
           {_HLL_ERROR_SQL}
    FROM exact JOIN corrected USING (event_type)
    """,
)
def q118_hll_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Portable HyperLogLog (Flajolet et al. 2007), built from scratch on
    md5 so the sketch — not just its error bound — is bit-identical on
    every engine: bucket = first hex byte (m=256), rho = leading-zero
    bits of the remaining 116-bit suffix + 1, estimate = alpha_m * m^2 /
    sum(2^-max_rho) with the linear-counting small-range correction.
    Unlike q28 (engine-native HLL++, rows-only by necessity) this
    estimate hash-matches a DuckDB oracle exactly, because 2^-k is
    IEEE-exact and the bucket maxima are integers.

    Scale: one grouped aggregate reduces the corpus to at most
    |event_type| x 256 integer rows — the mergeable fixed-memory sketch
    shape (partial maxima per partition combine map-side); the estimate
    math runs on the tiny sketch table."""
    events = read_table(spark, sf_dir, "events")
    rho = hll_registers(events.select("event_type", "user_id"), ["event_type"])
    exact = events.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("exact_users")
    )
    return _hll_vs_exact(rho, exact, ["event_type"])


def _hll_vs_exact(
    rho: DataFrame, exact: DataFrame, keys: list[str]
) -> DataFrame:
    """``exact`` (one row per ``keys`` group, ending in ``exact_users``)
    next to the HLL estimate from the group's registers ``rho``: alpha_m *
    m^2 / sum(2^-m_j), linear counting below 2.5 m, and the relative
    error."""
    per_key = rho.groupBy(*keys).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("m_j"))).alias("sum_pow"),
        F.count("*").alias("n_buckets"),
    )
    e_raw = (
        _HLL_ALPHA * HLL_M * HLL_M
        / (F.col("sum_pow") + (HLL_M - F.col("n_buckets")))
    )
    zeros = HLL_M - F.col("n_buckets")
    corrected = per_key.select(
        *keys,
        F.when(
            (e_raw <= 2.5 * HLL_M) & (zeros > 0),
            HLL_M * F.log(HLL_M * 1.0 / zeros),
        )
        .otherwise(e_raw)
        .alias("e"),
    )
    return exact.join(F.broadcast(corrected), keys).select(
        *exact.columns,
        F.round("e").cast("long").alias("hll_users"),
        F.round(
            F.abs(F.col("e") - F.col("exact_users")) / F.col("exact_users"), 6
        ).alias("rel_error"),
    )


@query(
    "q265_hll_sketch_rollup",
    oracle=f"""
    WITH hashed AS (SELECT event_type, CAST(ts AS DATE) AS day,
                           EXTRACT(hour FROM ts) AS hr,
                           substr(md5(CAST(user_id AS VARCHAR)), 1, 2)
                               AS bucket,
                           substr(md5(CAST(user_id AS VARCHAR)), 3, 29)
                               AS suffix
                    FROM events),
         rho_hour AS (SELECT event_type, day, hr, bucket,
                        {_HLL_RHO_SQL}
                 FROM hashed GROUP BY event_type, day, hr, bucket),
         rho_day AS (SELECT event_type, day, bucket,
                            CAST(MAX(m_j) AS BIGINT) AS m_j
                     FROM rho_hour GROUP BY event_type, day, bucket),
         {_hll_estimate_sql("event_type, day", "rho_day", "per_key")},
         exact AS (SELECT event_type, CAST(ts AS DATE) AS day,
                          CAST(COUNT(DISTINCT EXTRACT(hour FROM ts)) AS BIGINT)
                              AS n_hours,
                          CAST(COUNT(DISTINCT user_id) AS BIGINT)
                              AS exact_users
                   FROM events GROUP BY event_type, CAST(ts AS DATE))
    SELECT exact.event_type, exact.day, exact.n_hours, exact.exact_users,
           {_HLL_ERROR_SQL}
    FROM exact JOIN corrected USING (event_type, day)
    """,
)
def q265_hll_sketch_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HLL sketch ROLLUP-MERGE: per-(event_type, day, hour) register
    tables are built once, then the per-day distinct-user estimate is
    derived purely by MERGING the hour sketches (register-wise MAX) —
    the events table is never rescanned at the coarser grain. This is
    the property that makes sketches the right cube primitive at
    100 TB: an hourly sketch cube is |keys|x256 integer rows, and every
    coarser rollup (day, week, whole-corpus) is a grouped MAX over it, not
    a second trillion-row scan. Same portable md5 construction as q118,
    so the merged estimate hash-matches DuckDB exactly; exact per-day
    distincts are joined alongside to pin the error.

    Reference anchor: the profiling rollups that re-aggregate
    per-window counters to session level (`tools/profiler.py`,
    SURVEY A5) — here with a mergeable cardinality sketch instead of
    additive counters."""
    events = read_table(spark, sf_dir, "events")
    rho_hour = hll_registers(
        events.select(
            "event_type",
            F.col("ts").cast("date").alias("day"),
            F.hour("ts").cast("long").alias("hr"),
            "user_id",
        ),
        ["event_type", "day", "hr"],
    )
    # THE MERGE: day-level registers from hour-level registers only.
    rho_day = rho_hour.groupBy("event_type", "day", "bucket").agg(
        F.max("m_j").alias("m_j")
    )
    # exact-audit branch: n_hours rides the same scan/aggregate as the
    # exact distinct — the sketch side reads events ONCE, the audit adds
    # the second (and last) scan of the whole query
    exact = events.groupBy(
        "event_type", F.col("ts").cast("date").alias("day")
    ).agg(
        F.countDistinct(F.hour("ts")).alias("n_hours"),
        F.countDistinct("user_id").alias("exact_users"),
    )
    return _hll_vs_exact(rho_day, exact, ["event_type", "day"])


# ---------------------------------------------------------------------------
# KMV (k-minimum-values / theta-style) sketch: distinct UNION and
# INTERSECTION estimates — the set-operation capability HLL lacks
# ---------------------------------------------------------------------------

from hive_reflex_spark.functions import KMV_K  # noqa: E402  (single source)

# md5-derived uniform in (0,1): the SHARED exact dyadic polynomial
# (functions.dyadic_md5_uniform — q124's A-ES keys use the same
# builder) so both engines build the IDENTICAL uniform from the
# identical hash.
_KMV_U_SQL = duck_dyadic_md5_uniform("user_id")


def _kmv_u_spark() -> Column:
    return dyadic_md5_uniform("user_id")


def day_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distinct (dday, user_id) — the exact-audit input shared by q268
    and q277."""
    events = read_table(spark, sf_dir, "events")
    return events.select(
        F.col("ts").cast("date").alias("dday"), "user_id"
    ).distinct()


def kmv_day_sketches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day KMV sketch rows (dday, user_id, u): the k smallest
    hash-uniforms per active day — ONE sketch build shared by q268's
    pairwise set operations and q277's rolling-window merges (and
    maintained incrementally by q268a's stream). WindowGroupLimit plans
    this as a partial top-k per partition merged at the shuffle."""
    keyed = day_users(spark, sf_dir).select(
        "dday", "user_id", _kmv_u_spark().alias("u")
    )
    w = Window.partitionBy("dday").orderBy("u", "user_id")
    return (
        keyed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= KMV_K)
        .drop("rn")
    )


@query(
    "q268_kmv_set_sketch",
    oracle=f"""
    WITH ev AS (SELECT DISTINCT CAST(ts AS DATE) AS dday, user_id
                FROM events),
         keyed AS (SELECT dday, user_id,
                          {_KMV_U_SQL} AS u
                   FROM ev),
         sk AS (SELECT dday, user_id, u FROM (
                    SELECT dday, user_id, u,
                           ROW_NUMBER() OVER (PARTITION BY dday
                                              ORDER BY u, user_id) AS rn
                    FROM keyed) WHERE rn <= {KMV_K}),
         stat AS (SELECT dday, CAST(COUNT(*) AS BIGINT) AS n_sk,
                         MAX(u) AS kth
                  FROM sk GROUP BY dday),
         pairs AS (SELECT a.dday AS day_a, b.dday AS day_b,
                          CASE WHEN a.n_sk < {KMV_K}
                               THEN CAST(a.n_sk AS DOUBLE)
                               ELSE ({KMV_K} - 1) * 1.0 / a.kth END AS e_a,
                          CASE WHEN b.n_sk < {KMV_K}
                               THEN CAST(b.n_sk AS DOUBLE)
                               ELSE ({KMV_K} - 1) * 1.0 / b.kth END AS e_b
                   FROM stat a JOIN stat b
                     ON b.dday = a.dday + 1),
         pairu AS (SELECT p.day_a, p.day_b, s.user_id,
                          MIN(s.u) AS u,
                          CAST(MAX(CASE WHEN s.dday = p.day_a
                                        THEN 1 ELSE 0 END) AS BIGINT) AS in_a,
                          CAST(MAX(CASE WHEN s.dday = p.day_b
                                        THEN 1 ELSE 0 END) AS BIGINT) AS in_b
                   FROM pairs p JOIN sk s
                     ON s.dday IN (p.day_a, p.day_b)
                   GROUP BY p.day_a, p.day_b, s.user_id),
         mk AS (SELECT day_a, day_b, u, in_a, in_b FROM (
                    SELECT *, ROW_NUMBER() OVER (
                        PARTITION BY day_a, day_b
                        ORDER BY u, user_id) AS rn
                    FROM pairu) WHERE rn <= {KMV_K}),
         pstat AS (SELECT day_a, day_b,
                          CAST(COUNT(*) AS BIGINT) AS n_merged,
                          MAX(u) AS kth,
                          CAST(SUM(in_a * in_b) AS BIGINT) AS n_both
                   FROM mk GROUP BY day_a, day_b),
         fullpair AS (SELECT p.day_a, p.day_b, e.user_id,
                             CAST(MAX(CASE WHEN e.dday = p.day_a
                                      THEN 1 ELSE 0 END) AS BIGINT) AS in_a,
                             CAST(MAX(CASE WHEN e.dday = p.day_b
                                      THEN 1 ELSE 0 END) AS BIGINT) AS in_b
                      FROM pairs p JOIN ev e
                        ON e.dday IN (p.day_a, p.day_b)
                      GROUP BY p.day_a, p.day_b, e.user_id),
         exact AS (SELECT day_a, day_b,
                          CAST(COUNT(*) AS BIGINT) AS exact_union,
                          CAST(SUM(in_a * in_b) AS BIGINT) AS exact_inter
                   FROM fullpair GROUP BY day_a, day_b),
         ests AS (SELECT p.day_a, p.day_b, p.e_a, p.e_b,
                         CASE WHEN n_merged < {KMV_K}
                              THEN CAST(n_merged AS DOUBLE)
                              ELSE ({KMV_K} - 1) * 1.0 / pstat.kth
                         END AS e_union,
                         n_both * 1.0 / n_merged AS jac
                  FROM pstat JOIN pairs p
                    ON p.day_a = pstat.day_a AND p.day_b = pstat.day_b)
    SELECT e.day_a, e.day_b,
           ROUND(ests.e_a, 6) AS est_a,
           ROUND(ests.e_b, 6) AS est_b,
           ROUND(ests.e_union, 6) AS est_union,
           ROUND(ests.jac * ests.e_union, 6) AS est_inter,
           e.exact_union, e.exact_inter,
           ROUND(abs(ests.e_union - e.exact_union) / e.exact_union, 6)
               AS union_rel_err,
           CASE WHEN e.exact_inter = 0 THEN NULL
                ELSE ROUND(abs(ests.jac * ests.e_union - e.exact_inter)
                           / e.exact_inter, 6)
           END AS inter_rel_err
    FROM exact e JOIN ests
      ON e.day_a = ests.day_a AND e.day_b = ests.day_b
    """,
)
def q268_kmv_set_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KMV (k-minimum-values, Bar-Yossef et al. 2002; the theta-sketch
    core) distinct sketches with SET OPERATIONS: per active day, keep
    the k smallest hash-uniforms of user_id; then for every consecutive
    day pair estimate |A∪B| = (k-1)/u_(k) over the MERGED sketch and
    |A∩B| via the Jaccard estimator |S_k(A∪B) ∩ S(A) ∩ S(B)| / k ×
    |A∪B| — day-over-day audience overlap from sketches alone. This is
    the capability HLL (q118/q265) structurally lacks: HLL registers
    merge for union only; KMV sketches intersect and difference too,
    which is why theta sketches are the warehouse primitive for
    audience-overlap questions (q120's wow-retention answered without
    re-touching the fact table). Underfull sketches (|A| < k) degrade
    to exact counts by construction, so the sf0.001 fixture (11-15
    users/day < k=32) pins the exact branch and sf0.01+ (125-141/day)
    pins the estimator branch. Exact union/intersection ride alongside
    as the error audit (the production path keeps sketches only).

    The hash-uniform is q124's exact dyadic md5 polynomial — identical
    in both engines, so sketch membership (not just the bound) hash-
    matches. Scale: a KMV sketch is a bounded top-k per group — partial
    k-smallest per partition, merged at the shuffle (same envelope as
    q221's priority sample); pairwise merges touch only |days| × 2k
    sketch rows, never the fact table. The exact-audit branch is the
    only corpus-scale aggregate in the query and exists for the
    rel_err columns.

    Reference anchor: the reference's distinct-cardinality rollups in
    `tools/log_analyzer.py` aggregate exact sets per window; this is the
    sketch the same report ships at 100 TB when windows must compose."""
    ev = day_users(spark, sf_dir)
    # the |days| x k sketch table is referenced by the per-day stats AND
    # the pairwise merge — materialized so the corpus-scale sketch
    # reduce runs once (r12, guide §3.3/§5)
    sk = maybe_local_checkpoint(kmv_day_sketches(spark, sf_dir))
    e_side = lambda n, kth: F.when(  # noqa: E731
        F.col(n) < KMV_K, F.col(n).cast("double")
    ).otherwise((KMV_K - 1) * 1.0 / F.col(kth))
    stat = sk.groupBy("dday").agg(
        F.count("*").alias("n_sk"), F.max("u").alias("kth")
    )
    pairs = (
        stat.select(
            F.col("dday").alias("day_a"),
            e_side("n_sk", "kth").alias("e_a"),
        )
        .join(
            stat.select(
                F.col("dday").alias("day_b"),
                e_side("n_sk", "kth").alias("e_b"),
            ),
            F.col("day_b") == F.date_add(F.col("day_a"), 1),
        )
    )
    # |days|-row pair table, referenced by the membership explode AND
    # the estimate join — materialized (dimension-scale rows)
    pairs = maybe_local_checkpoint(pairs)
    # |days| is dimension-scale: pair membership exploded to (pair, dday)
    # rows and EQUI-joined (a day belongs to <=2 consecutive pairs), so
    # both the sketch join and the exact audit are hash joins against a
    # broadcast — never an OR-condition nested-loop over all pairs
    pmem = pairs.select(
        "day_a",
        "day_b",
        F.explode(F.array("day_a", "day_b")).alias("dday"),
    )
    pairu = (
        sk.join(F.broadcast(pmem), "dday")
        .groupBy("day_a", "day_b", "user_id")
        .agg(
            F.min("u").alias("u"),
            F.max(F.when(F.col("dday") == F.col("day_a"), 1).otherwise(0))
            .cast("long")
            .alias("in_a"),
            F.max(F.when(F.col("dday") == F.col("day_b"), 1).otherwise(0))
            .cast("long")
            .alias("in_b"),
        )
    )
    wm = Window.partitionBy("day_a", "day_b").orderBy("u", "user_id")
    mk = (
        pairu.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") <= KMV_K)
    )
    pstat = mk.groupBy("day_a", "day_b").agg(
        F.count("*").alias("n_merged"),
        F.max("u").alias("kth"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("n_both"),
    )
    e_union = F.when(
        F.col("n_merged") < KMV_K, F.col("n_merged").cast("double")
    ).otherwise((KMV_K - 1) * 1.0 / F.col("kth"))
    ests = pstat.join(F.broadcast(pairs), ["day_a", "day_b"]).select(
        "day_a",
        "day_b",
        "e_a",
        "e_b",
        e_union.alias("e_union"),
        (F.col("n_both") * 1.0 / F.col("n_merged")).alias("jac"),
    )
    # exact-audit branch — the only corpus-scale aggregate in the query
    fullpair = (
        ev.join(F.broadcast(pmem), "dday")
        .groupBy("day_a", "day_b", "user_id")
        .agg(
            F.max(F.when(F.col("dday") == F.col("day_a"), 1).otherwise(0))
            .cast("long")
            .alias("in_a"),
            F.max(F.when(F.col("dday") == F.col("day_b"), 1).otherwise(0))
            .cast("long")
            .alias("in_b"),
        )
    )
    exact = fullpair.groupBy("day_a", "day_b").agg(
        F.count("*").alias("exact_union"),
        F.sum(F.col("in_a") * F.col("in_b")).cast("long").alias("exact_inter"),
    )
    return exact.join(F.broadcast(ests), ["day_a", "day_b"]).select(
        "day_a",
        "day_b",
        F.round("e_a", 6).alias("est_a"),
        F.round("e_b", 6).alias("est_b"),
        F.round("e_union", 6).alias("est_union"),
        F.round(F.col("jac") * F.col("e_union"), 6).alias("est_inter"),
        "exact_union",
        "exact_inter",
        F.round(
            F.abs(F.col("e_union") - F.col("exact_union"))
            / F.col("exact_union"),
            6,
        ).alias("union_rel_err"),
        F.when(F.col("exact_inter") == 0, F.lit(None).cast("double"))
        .otherwise(
            F.round(
                F.abs(F.col("jac") * F.col("e_union") - F.col("exact_inter"))
                / F.col("exact_inter"),
                6,
            )
        )
        .alias("inter_rel_err"),
    )


ROLLING_DAYS = 7  # trailing window width for the rolling distinct


@query(
    "q277_rolling_distinct_kmv",
    oracle=f"""
    WITH ev AS (SELECT DISTINCT CAST(ts AS DATE) AS dday, user_id
                FROM events),
         keyed AS (SELECT dday, user_id, {_KMV_U_SQL} AS u FROM ev),
         sk AS (SELECT dday, user_id, u FROM (
                    SELECT dday, user_id, u,
                           ROW_NUMBER() OVER (PARTITION BY dday
                                              ORDER BY u, user_id) AS rn
                    FROM keyed) WHERE rn <= {KMV_K}),
         days AS (SELECT DISTINCT dday FROM ev),
         wdays AS (SELECT d.dday AS day, x.dday AS member
                   FROM days d JOIN days x
                     ON x.dday BETWEEN d.dday - {ROLLING_DAYS - 1}
                            AND d.dday),
         pooled AS (SELECT w.day, s.user_id, MIN(s.u) AS u
                    FROM wdays w JOIN sk s ON s.dday = w.member
                    GROUP BY w.day, s.user_id),
         mk AS (SELECT day, u FROM (
                    SELECT day, u, ROW_NUMBER() OVER (
                        PARTITION BY day ORDER BY u, user_id) AS rn
                    FROM pooled) WHERE rn <= {KMV_K}),
         est AS (SELECT day, CAST(COUNT(*) AS BIGINT) AS n_merged,
                        MAX(u) AS kth
                 FROM mk GROUP BY day),
         exact AS (SELECT w.day,
                          CAST(COUNT(DISTINCT w.member) AS BIGINT)
                              AS n_days,
                          CAST(COUNT(DISTINCT e.user_id) AS BIGINT)
                              AS exact_distinct
                   FROM wdays w JOIN ev e ON e.dday = w.member
                   GROUP BY w.day)
    SELECT exact.day, exact.n_days,
           ROUND(CASE WHEN est.n_merged < {KMV_K}
                      THEN CAST(est.n_merged AS DOUBLE)
                      ELSE ({KMV_K} - 1) * 1.0 / est.kth END, 6)
               AS est_distinct,
           exact.exact_distinct,
           ROUND(abs(CASE WHEN est.n_merged < {KMV_K}
                          THEN CAST(est.n_merged AS DOUBLE)
                          ELSE ({KMV_K} - 1) * 1.0 / est.kth END
                     - exact.exact_distinct) / exact.exact_distinct, 6)
               AS rel_err
    FROM exact JOIN est ON est.day = exact.day
    """,
)
def q277_rolling_distinct_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-{ROLLING_DAYS}-day distinct active users from the day
    SKETCHES alone — the classic sketch payoff: rolling COUNT(DISTINCT)
    is not a decomposable aggregate (window frames can't reuse partial
    distincts, so the exact form rescans every frame), but KMV sketches
    merge, so each output day is one k-smallest pass over at most
    {ROLLING_DAYS} × k pooled sketch rows. Same day-sketch build as
    q268 (shared kmv_day_sketches — and q268a maintains that table
    incrementally by stream, so at 100 TB the fact table is never
    rescanned at report time: the rolling estimate reads |days| × k
    scalars). Underfull merges degrade to exact counts; the exact audit
    joins alongside with the realized per-day relative error.

    Reference anchor: the trailing-window activity rollups in
    `tools/log_analyzer.py` (SURVEY A6) — with the non-decomposable
    distinct replaced by the mergeable sketch."""
    ev = day_users(spark, sf_dir)
    # sketch table + the |days| calendar tables are multi-referenced —
    # materialized so the corpus reduces once per input (r12, §3.3/§5)
    sk = maybe_local_checkpoint(kmv_day_sketches(spark, sf_dir))
    days = maybe_local_checkpoint(ev.select("dday").distinct())
    wdays = maybe_local_checkpoint(
        days.select(F.col("dday").alias("day"))
        .join(
            days.select(F.col("dday").alias("member")),
            (F.col("member") >= F.date_sub(F.col("day"), ROLLING_DAYS - 1))
            & (F.col("member") <= F.col("day")),
        )
    )
    # |days| is dimension-scale: the (day, member) calendar broadcasts
    pooled = (
        sk.join(
            F.broadcast(wdays), F.col("dday") == F.col("member")
        )
        .groupBy("day", "user_id")
        .agg(F.min("u").alias("u"))
    )
    wm = Window.partitionBy("day").orderBy("u", "user_id")
    mk = (
        pooled.withColumn("rn", F.row_number().over(wm))
        .filter(F.col("rn") <= KMV_K)
    )
    est = mk.groupBy("day").agg(
        F.count("*").alias("n_merged"), F.max("u").alias("kth")
    )
    e_val = F.when(
        F.col("n_merged") < KMV_K, F.col("n_merged").cast("double")
    ).otherwise((KMV_K - 1) * 1.0 / F.col("kth"))
    exact = (
        ev.join(F.broadcast(wdays), F.col("dday") == F.col("member"))
        .groupBy("day")
        .agg(
            F.countDistinct("member").alias("n_days"),
            F.countDistinct("user_id").alias("exact_distinct"),
        )
    )
    return exact.join(F.broadcast(est), "day").select(
        "day",
        "n_days",
        F.round(e_val, 6).alias("est_distinct"),
        "exact_distinct",
        F.round(
            F.abs(e_val - F.col("exact_distinct"))
            / F.col("exact_distinct"),
            6,
        ).alias("rel_err"),
    )


# ---------------------------------------------------------------------------
# Behavioral funnel + retention (event telemetry rollups)
# ---------------------------------------------------------------------------


@query(
    "q119_funnel",
    oracle="""
    WITH per_user AS (SELECT user_id,
                             MIN(CASE WHEN event_type = 'view'
                                      THEN ts END) AS t_view,
                             MIN(CASE WHEN event_type = 'click'
                                      THEN ts END) AS t_click,
                             MIN(CASE WHEN event_type = 'purchase'
                                      THEN ts END) AS t_purchase
                      FROM events GROUP BY user_id),
         flags AS (SELECT user_id,
                          CASE WHEN t_view IS NOT NULL THEN 1 ELSE 0 END
                              AS s1,
                          CASE WHEN t_view IS NOT NULL AND t_click > t_view
                               THEN 1 ELSE 0 END AS s2,
                          CASE WHEN t_view IS NOT NULL AND t_click > t_view
                                AND t_purchase > t_click
                               THEN 1 ELSE 0 END AS s3
                   FROM per_user)
    SELECT step, n_users,
           ROUND(n_users * 1.0 / NULLIF(lag(n_users)
                 OVER (ORDER BY step), 0), 6) AS conv_from_prev
    FROM (SELECT 'view' AS step, CAST(SUM(s1) AS BIGINT) AS n_users
          FROM flags
          UNION ALL
          SELECT 'view>click', CAST(SUM(s2) AS BIGINT) FROM flags
          UNION ALL
          SELECT 'view>click>purchase', CAST(SUM(s3) AS BIGINT) FROM flags)
    ORDER BY step
    """,
)
def q119_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel (view → click → purchase): a user
    advances a step only if the NEXT event type first occurs strictly
    after the previous step's first occurrence. Expressed join-free: one
    conditional-min aggregate per user, then one 3-row rollup — the
    sessionized-pattern-match shape that at 100 TB costs exactly one
    shuffle on user_id (partial min combine map-side), never a
    self-join per step pair."""
    events = read_table(spark, sf_dir, "events")
    per_user = events.groupBy("user_id").agg(
        F.min(F.when(F.col("event_type") == "view", F.col("ts"))).alias(
            "t_view"
        ),
        F.min(F.when(F.col("event_type") == "click", F.col("ts"))).alias(
            "t_click"
        ),
        F.min(F.when(F.col("event_type") == "purchase", F.col("ts"))).alias(
            "t_purchase"
        ),
    )
    s1 = F.when(F.col("t_view").isNotNull(), 1).otherwise(0)
    s2 = F.when(
        F.col("t_view").isNotNull() & (F.col("t_click") > F.col("t_view")), 1
    ).otherwise(0)
    s3 = F.when(
        F.col("t_view").isNotNull()
        & (F.col("t_click") > F.col("t_view"))
        & (F.col("t_purchase") > F.col("t_click")),
        1,
    ).otherwise(0)
    flags = per_user.select(
        s1.alias("s1"), s2.alias("s2"), s3.alias("s3")
    ).agg(
        F.sum("s1").alias("n1"), F.sum("s2").alias("n2"), F.sum("s3").alias("n3")
    )
    steps = flags.select(
        F.explode(
            F.array(
                F.struct(
                    F.lit("view").alias("step"), F.col("n1").alias("n_users")
                ),
                F.struct(
                    F.lit("view>click").alias("step"),
                    F.col("n2").alias("n_users"),
                ),
                F.struct(
                    F.lit("view>click>purchase").alias("step"),
                    F.col("n3").alias("n_users"),
                ),
            )
        ).alias("s")
    ).select("s.step", "s.n_users")
    w = Window.partitionBy().orderBy("step")
    return steps.select(
        "step",
        "n_users",
        F.round(
            F.col("n_users")
            * 1.0
            / F.nullif(F.lag("n_users").over(w), F.lit(0)),
            6,
        ).alias("conv_from_prev"),
    ).orderBy("step")


@query(
    "q120_wow_retention",
    oracle="""
    WITH wk AS (SELECT DISTINCT event_type,
                       date_trunc('week', ts) AS week, user_id
                FROM events),
         per_week AS (SELECT event_type, week,
                             CAST(COUNT(*) AS BIGINT) AS n_users
                      FROM wk GROUP BY event_type, week),
         retained AS (SELECT a.event_type, b.week,
                             CAST(COUNT(*) AS BIGINT) AS n_retained
                      FROM wk a JOIN wk b
                        ON a.event_type = b.event_type
                       AND a.user_id = b.user_id
                       AND b.week = a.week + INTERVAL 7 DAY
                      GROUP BY a.event_type, b.week)
    SELECT per_week.event_type,
           strftime(per_week.week, '%Y-%m-%d') AS week_start,
           per_week.n_users,
           COALESCE(retained.n_retained, 0) AS n_retained,
           ROUND(COALESCE(retained.n_retained, 0) * 1.0
                 / per_week.n_users, 6) AS retention
    FROM per_week LEFT JOIN retained
      ON per_week.event_type = retained.event_type
     AND per_week.week = retained.week
    """,
)
def q120_wow_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Week-over-week retention per event type: of this week's active
    users, how many were also active the week before. One distinct pass
    builds the (type, week, user) activity set; the retention join is an
    equi-join of that set against itself shifted one week — keyed on
    (type, user), so at 100 TB it shuffles the distinct activity rows
    once, not raw events, and weeks-per-user is bounded."""
    events = read_table(spark, sf_dir, "events")
    wk = events.select(
        "event_type",
        F.date_trunc("week", F.col("ts")).alias("week"),
        "user_id",
    ).distinct()
    per_week = wk.groupBy("event_type", "week").agg(
        F.count("*").alias("n_users")
    )
    prev = wk.select(
        "event_type",
        (F.col("week") + F.expr("INTERVAL 7 DAY")).alias("week"),
        "user_id",
    )
    retained = (
        wk.join(prev, ["event_type", "week", "user_id"])
        .groupBy("event_type", "week")
        .agg(F.count("*").alias("n_retained"))
    )
    return per_week.join(retained, ["event_type", "week"], "left").select(
        "event_type",
        F.date_format("week", "yyyy-MM-dd").alias("week_start"),
        "n_users",
        F.coalesce(F.col("n_retained"), F.lit(0)).alias("n_retained"),
        F.round(
            F.coalesce(F.col("n_retained"), F.lit(0)) * 1.0 / F.col("n_users"),
            6,
        ).alias("retention"),
    )


@query(
    "q123_metric_correlation",
    oracle=f"""
    WITH hourly AS (SELECT date_trunc('hour', ts) AS hour, event_type,
                           {duck_unit_sum("value")} AS cents
                    FROM events GROUP BY 1, 2),
         pairs AS (SELECT a.event_type AS type_a, b.event_type AS type_b,
                          CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(a.cents) AS BIGINT) AS sx,
                          CAST(SUM(b.cents) AS BIGINT) AS sy,
                          CAST(SUM(a.cents * b.cents) AS BIGINT) AS sxy,
                          CAST(SUM(a.cents * a.cents) AS BIGINT) AS sxx,
                          CAST(SUM(b.cents * b.cents) AS BIGINT) AS syy
                   FROM hourly a JOIN hourly b
                     ON a.hour = b.hour AND a.event_type < b.event_type
                   GROUP BY 1, 2)
    SELECT type_a, type_b, n,
           ROUND((n * sxy - sx * sy)
                 / (sqrt(CAST(n * sxx - sx * sx AS DOUBLE))
                    * sqrt(CAST(n * syy - sy * sy AS DOUBLE))), 6)
               AS pearson_r
    FROM pairs
    """,
)
def q123_metric_correlation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairwise Pearson correlation of hourly metric series per event
    type, computed from EXACT integer moments: the hourly rollup stores
    cent sums as bigints, the pair join accumulates n/Sx/Sy/Sxy/Sxx/Syy
    as bigints, and only the final correlation divides into doubles —
    so the result hash-matches across engines, which naive corr() (a
    streaming float variance) cannot guarantee.

    Scale: the raw corpus collapses in ONE grouped aggregate to
    |hours| x |types| rows; the pair self-join and the moment rollup
    operate on that bounded series table, never on events."""
    events = read_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.date_trunc("hour", F.col("ts")).alias("hour"), "event_type"
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    a = hourly.select(
        "hour", F.col("event_type").alias("type_a"), F.col("cents").alias("ca")
    )
    b = hourly.select(
        "hour", F.col("event_type").alias("type_b"), F.col("cents").alias("cb")
    )
    pairs = (
        a.join(b, "hour")
        .filter(F.col("type_a") < F.col("type_b"))
        .groupBy("type_a", "type_b")
        .agg(
            F.count("*").alias("n"),
            F.sum("ca").alias("sx"),
            F.sum("cb").alias("sy"),
            F.sum(F.col("ca") * F.col("cb")).alias("sxy"),
            F.sum(F.col("ca") * F.col("ca")).alias("sxx"),
            F.sum(F.col("cb") * F.col("cb")).alias("syy"),
        )
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast("double")
    ) * F.sqrt(
        (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast("double")
    )
    return pairs.select(
        "type_a",
        "type_b",
        "n",
        F.round(num / den, 6).alias("pearson_r"),
    )


@query(
    "q128_trend_ols",
    oracle=f"""
    WITH hourly AS (SELECT event_type,
                           CAST(epoch(date_trunc('hour', ts)) // 3600
                                AS BIGINT) AS h,
                           {duck_unit_sum("value")} AS cents
                    FROM events GROUP BY 1, 2),
         idx AS (SELECT event_type, cents,
                        h - MIN(h) OVER (PARTITION BY event_type) AS x
                 FROM hourly),
         mom AS (SELECT event_type,
                        CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(x) AS BIGINT) AS sx,
                        CAST(SUM(cents) AS BIGINT) AS sy,
                        CAST(SUM(x * cents) AS BIGINT) AS sxy,
                        CAST(SUM(x * x) AS BIGINT) AS sxx,
                        CAST(SUM(cents * cents) AS BIGINT) AS syy
                 FROM idx GROUP BY event_type)
    SELECT event_type, n,
           ROUND((n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx) / 100.0, 6)
               AS slope_per_hour,
           ROUND((sy * 1.0 / n
                  - (n * sxy - sx * sy) * 1.0 / (n * sxx - sx * sx)
                    * (sx * 1.0 / n)) / 100.0, 6) AS intercept,
           ROUND(CAST((n * sxy - sx * sy) AS DOUBLE)
                 * (n * sxy - sx * sy)
                 / ((n * sxx - sx * sx) * CAST(n * syy - sy * sy AS DOUBLE)),
                 6) AS r_squared
    FROM mom
    """,
)
def q128_trend_ols(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group OLS trend line (closed-form least squares of hourly
    metric totals against the hour index): slope, intercept, and R² per
    event type from EXACT integer moments — bigint n/Sx/Sy/Sxy/Sxx/Syy,
    doubles only in the final closed-form division, so the fit
    hash-matches across engines. The drift-over-time monitor next to
    q116 (outliers), q117 (embedding drift) and q123 (correlation).

    Scale: one grouped aggregate collapses events to |hours| x |types|
    rows; the moment rollup and the closed-form solve touch only that
    bounded series — the same shape a distributed OLS over 100 TB uses
    (moments are algebraic aggregates; no iteration, no driver math)."""
    events = read_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        "event_type",
        (F.unix_timestamp(F.date_trunc("hour", F.col("ts"))) / 3600)
        .cast("long")
        .alias("h"),
    ).agg(F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents"))
    w = Window.partitionBy("event_type")
    idx = hourly.select(
        "event_type",
        "cents",
        (F.col("h") - F.min("h").over(w)).alias("x"),
    )
    mom = idx.groupBy("event_type").agg(
        F.count("*").alias("n"),
        F.sum("x").alias("sx"),
        F.sum("cents").alias("sy"),
        F.sum(F.col("x") * F.col("cents")).alias("sxy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("cents") * F.col("cents")).alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")
    slope = num * 1.0 / den
    return mom.select(
        "event_type",
        "n",
        F.round(slope / 100.0, 6).alias("slope_per_hour"),
        F.round(
            (F.col("sy") * 1.0 / F.col("n") - slope * (F.col("sx") * 1.0 / F.col("n")))
            / 100.0,
            6,
        ).alias("intercept"),
        F.round(
            num.cast("double")
            * num
            / (
                den
                * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
                    "double"
                )
            ),
            6,
        ).alias("r_squared"),
    )


# ---------------------------------------------------------------------------
# Strict-sequence pattern funnel (gap-constrained MATCH_RECOGNIZE shape)
# ---------------------------------------------------------------------------

SEQ_VC_HOURS = 6  # view -> click window
SEQ_CP_HOURS = 72  # click -> purchase window


@query(
    "q153_sequence_pattern",
    oracle=f"""
    WITH v AS (SELECT user_id, ts FROM events WHERE event_type = 'view'),
    c AS (SELECT user_id, ts FROM events WHERE event_type = 'click'),
    p AS (SELECT user_id, ts FROM events WHERE event_type = 'purchase'),
    vc AS (SELECT v.user_id, v.ts AS v_ts, MIN(c.ts) AS c_ts
           FROM v JOIN c ON v.user_id = c.user_id
            AND c.ts > v.ts
            AND c.ts <= v.ts + INTERVAL {SEQ_VC_HOURS} HOURS
           GROUP BY v.user_id, v.ts),
    vcp AS (SELECT vc.user_id, vc.v_ts, vc.c_ts, MIN(p.ts) AS p_ts
            FROM vc JOIN p ON vc.user_id = p.user_id
             AND p.ts > vc.c_ts
             AND p.ts <= vc.c_ts + INTERVAL {SEQ_CP_HOURS} HOURS
            GROUP BY vc.user_id, vc.v_ts, vc.c_ts)
    SELECT user_id, epoch_us(v_ts) AS v_us, epoch_us(c_ts) AS c_us,
           epoch_us(p_ts) AS p_us,
           (epoch_us(p_ts) - epoch_us(v_ts)) // 1000000
               AS total_latency_s
    FROM vcp
    """,
)
def q153_sequence_pattern(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-constrained sequence matching (the MATCH_RECOGNIZE /
    behavioral-pattern shape q119's order-free funnel cannot express):
    for every view, the EARLIEST click within {SEQ_VC_HOURS} h, then the
    EARLIEST purchase within {SEQ_CP_HOURS} h of that click — only
    completed three-step sequences emit, with per-sequence latency.
    Greedy-earliest binding makes the match deterministic (each stage is
    a MIN over the bounded window, not an arbitrary witness).

    Scale: two interval joins, each keyed on user_id with a bounded
    time-range predicate — state per user is a bounded window, the same
    shape Spark's stream-stream interval join (q101/q147) maintains
    incrementally; here expressed batch-side with aggregate binding."""
    events = read_table(spark, sf_dir, "events")
    v = events.filter(F.col("event_type") == "view").select(
        "user_id", F.col("ts").alias("v_ts")
    )
    c = events.filter(F.col("event_type") == "click").select(
        F.col("user_id").alias("cu"), F.col("ts").alias("c_raw")
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("pu"), F.col("ts").alias("p_raw")
    )
    vc = (
        v.join(
            c,
            (F.col("user_id") == F.col("cu"))
            & (F.col("c_raw") > F.col("v_ts"))
            & (
                F.col("c_raw")
                <= F.col("v_ts") + F.expr(f"INTERVAL {SEQ_VC_HOURS} HOURS")
            ),
        )
        .groupBy("user_id", "v_ts")
        .agg(F.min("c_raw").alias("c_ts"))
    )
    vcp = (
        vc.join(
            p,
            (F.col("user_id") == F.col("pu"))
            & (F.col("p_raw") > F.col("c_ts"))
            & (
                F.col("p_raw")
                <= F.col("c_ts") + F.expr(f"INTERVAL {SEQ_CP_HOURS} HOURS")
            ),
        )
        .groupBy("user_id", "v_ts", "c_ts")
        .agg(F.min("p_raw").alias("p_ts"))
    )
    return vcp.select(
        "user_id",
        F.unix_micros("v_ts").alias("v_us"),
        F.unix_micros("c_ts").alias("c_us"),
        F.unix_micros("p_ts").alias("p_us"),
        ((F.unix_micros("p_ts") - F.unix_micros("v_ts")) / 1_000_000)
        .cast("long")
        .alias("total_latency_s"),
    )


# ---------------------------------------------------------------------------
# CUSUM drift detector (one-sided upper control chart)
# ---------------------------------------------------------------------------

CUSUM_TARGET = 50.0  # in-control hourly mean (fixture operating point)
CUSUM_K = 10.0  # slack: half the shift worth detecting
CUSUM_H = 100.0  # decision threshold


@query(
    "q154_cusum_drift",
    oracle=f"""
    WITH RECURSIVE hourly AS MATERIALIZED (
        SELECT event_type,
               strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS h,
               CAST(COUNT(*) AS BIGINT) AS n,
               ({duck_unit_sum("value")}
                * 10000) // CAST(COUNT(*) AS BIGINT) AS m_u
        FROM events GROUP BY 1, 2),
    seq AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type ORDER BY h)
                      AS rn
        FROM hourly),
    ctl AS (
        SELECT event_type, CAST(NULL AS VARCHAR) AS h, 0 AS rn,
               CAST(0 AS BIGINT) AS n, CAST(0 AS BIGINT) AS m_u,
               CAST(0 AS BIGINT) AS s_u
        FROM (SELECT DISTINCT event_type FROM seq)
        UNION ALL
        SELECT q.event_type, q.h, q.rn, q.n, q.m_u,
               GREATEST(CAST(0 AS BIGINT),
                        c.s_u + q.m_u - {int((CUSUM_TARGET + CUSUM_K) * 1_000_000)})
        FROM seq q JOIN ctl c
          ON q.event_type = c.event_type AND q.rn = c.rn + 1)
    SELECT event_type, h AS window_start, n,
           ROUND(m_u / 1000000.0, 6) AS hourly_mean,
           ROUND(s_u / 1000000.0, 6) AS cusum,
           s_u > {int(CUSUM_H * 1_000_000)} AS alarm
    FROM ctl WHERE rn >= 1
    """,
)
def q154_cusum_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One-sided CUSUM control chart over hourly telemetry means —
    the standard sequential change detector (Page's cumulative sum):
    s_i = max(0, s_(i-1) + mean_i − target − k), alarm when s crosses h.
    Drift QA for a training pipeline's ingest metrics: the mean-shift
    detector that a threshold-per-hour check (q116's MAD flags) cannot
    give, because evidence ACCUMULATES across hours.

    Same aggregate-then-replay split as q108/q136: the event-scale work
    is one grouped count/exact-sum; the per-type recurrence replays
    O(hours) rows in an Arrow batch and is engine-exact because it is
    INTEGER-exact (q68a's fixed-point discipline): the hourly mean is
    floored once to 1e-6 units from the exact cent sum, and each step
    s = max(0, s + m_u − (target+k)·1e6) is pure BIGINT — the previous
    binary64 replay drifted sub-ulp-per-step and crossed the
    6th-decimal rounding boundary on 2/3600 rows at 10x SF
    (BASELINE.md r5); integer steps cannot drift at any scale."""
    import pandas as pd

    events = read_table(spark, sf_dir, "events")
    units = F.sum(F.round(F.col("value") * 100).cast("long"))
    slack_u = int((CUSUM_TARGET + CUSUM_K) * 1_000_000)
    hourly = (
        events.groupBy(
            "event_type",
            F.date_format(F.date_trunc("hour", "ts"), "yyyy-MM-dd HH:mm:ss")
            .alias("window_start"),
        )
        .agg(F.count("*").alias("n"), units.alias("cents"))
        .select(
            "event_type",
            "window_start",
            "n",
            F.expr("(cents * 10000) div n").alias("m_u"),
        )
    )

    schema = f"{hourly.schema.simpleString()[7:-1]},s_u:bigint"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("window_start").reset_index(drop=True)
        s = 0
        out: list[int] = []
        for m_u in pdf["m_u"]:
            s = max(0, s + int(m_u) - slack_u)
            out.append(s)
        pdf["s_u"] = pd.Series(out, dtype="int64")
        return pdf

    traj = hourly.groupBy("event_type").applyInPandas(fn, schema)
    return traj.select(
        "event_type",
        "window_start",
        "n",
        F.round(F.col("m_u") / 1_000_000.0, 6).alias("hourly_mean"),
        F.round(F.col("s_u") / 1_000_000.0, 6).alias("cusum"),
        (F.col("s_u") > int(CUSUM_H * 1_000_000)).alias("alarm"),
    )

@query(
    "q169_winsorized_stats",
    oracle="""
    WITH vu AS (SELECT event_type,
                       CAST(ROUND(value * 1000000) AS BIGINT) AS u
                FROM events),
    hist AS (SELECT event_type, u, CAST(COUNT(*) AS BIGINT) AS c
             FROM vu GROUP BY event_type, u),
    cum AS (SELECT event_type, u, c,
                   CAST(SUM(c) OVER (PARTITION BY event_type ORDER BY u)
                       AS BIGINT) AS cum,
                   CAST(SUM(c) OVER (PARTITION BY event_type) AS BIGINT)
                       AS n
            FROM hist),
    fence AS (SELECT event_type,
                     MIN(CASE WHEN cum >= (n * 5 + 99) // 100
                              THEN u END) AS lo,
                     MIN(CASE WHEN cum >= (n * 95 + 99) // 100
                              THEN u END) AS hi
              FROM cum GROUP BY event_type),
    j AS (SELECT v.event_type, v.u, f.lo, f.hi,
                 LEAST(GREATEST(v.u, f.lo), f.hi) AS wu
          FROM vu v JOIN fence f USING (event_type))
    SELECT event_type, COUNT(*) AS n,
           ROUND(lo / 1000000.0, 6) AS p05,
           ROUND(hi / 1000000.0, 6) AS p95,
           ROUND(CAST(SUM(wu) AS BIGINT) / 1000000.0 / COUNT(*), 6)
               AS winsorized_mean,
           CAST(SUM(CASE WHEN u >= lo AND u <= hi THEN 1 ELSE 0 END)
               AS BIGINT) AS n_kept,
           ROUND(CAST(SUM(CASE WHEN u >= lo AND u <= hi THEN u ELSE 0 END)
                 AS BIGINT) / 1000000.0
                 / SUM(CASE WHEN u >= lo AND u <= hi THEN 1 ELSE 0 END), 6)
               AS trimmed_mean
    FROM j GROUP BY event_type, lo, hi
    """,
)
def q169_winsorized_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust mean estimators for ingest QA, completing the q116 tier:
    per event type, exact DISCRETE 5th/95th percentile fences (the
    q155 crossing-row definition — smallest value whose cumulative
    count reaches ceil(p*n), computed and COMPARED in exact 1e-6
    integer units), the WINSORIZED mean (tails clamped to the fence —
    every row still votes, outliers lose leverage) and the TRIMMED
    mean (tails excluded). Discrete-not-interpolated matters at scale:
    replicated data puts whole tie groups exactly AT an interpolated
    cutoff, where a 1-ulp engine difference in the interpolation flips
    every tied row (observed at sf1); an order-statistic fence in
    integer units cannot disagree. The fence derivation windows over
    per-type DISTINCT values (bounded; past ~1e7 distinct values per
    type the q145 bucketed prefix applies)."""
    events = read_table(spark, sf_dir, "events")
    U = 1_000_000
    vu = events.select(
        "event_type",
        F.round(F.col("value") * U).cast("long").alias("u"),
    )
    hist = vu.groupBy("event_type", "u").agg(F.count("*").alias("c"))
    wt = Window.partitionBy("event_type").orderBy("u")
    cum = hist.select(
        "event_type",
        "u",
        F.sum("c")
        .over(wt.rowsBetween(Window.unboundedPreceding, Window.currentRow))
        .alias("cum"),
        F.sum("c").over(Window.partitionBy("event_type")).alias("n"),
    )
    lo_t = ((F.col("n") * 5 + 99) / 100).cast("long")
    hi_t = ((F.col("n") * 95 + 99) / 100).cast("long")
    fence = cum.groupBy("event_type").agg(
        F.min(F.when(F.col("cum") >= lo_t, F.col("u"))).alias("lo"),
        F.min(F.when(F.col("cum") >= hi_t, F.col("u"))).alias("hi"),
    )
    j = vu.join(F.broadcast(fence), "event_type")
    wu = F.least(F.greatest(F.col("u"), F.col("lo")), F.col("hi"))
    inside = (F.col("u") >= F.col("lo")) & (F.col("u") <= F.col("hi"))
    n_kept = F.sum(F.when(inside, 1).otherwise(0)).cast("long")
    return (
        j.groupBy("event_type", "lo", "hi")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(wu) / float(U) / F.count("*"), 6).alias(
                "winsorized_mean"
            ),
            n_kept.alias("n_kept"),
            F.round(
                F.sum(F.when(inside, F.col("u")).otherwise(0))
                / float(U)
                / n_kept,
                6,
            ).alias("trimmed_mean"),
        )
        .select(
            "event_type",
            "n",
            F.round(F.col("lo") / float(U), 6).alias("p05"),
            F.round(F.col("hi") / float(U), 6).alias("p95"),
            "winsorized_mean",
            "n_kept",
            "trimmed_mean",
        )
    )

_RANGE_BUCKETS = 8


@query(
    "q174_range_boundaries",
    oracle="""
    WITH b AS (
        SELECT unnest(quantile_cont(o_totalprice, [0.125, 0.25, 0.375, 0.5, 0.625, 0.75, 0.875])) AS boundary
        FROM orders),
    assigned AS (
        SELECT o.o_orderkey, o.o_totalprice,
               SUM(CASE WHEN o.o_totalprice >= b.boundary
                        THEN 1 ELSE 0 END) AS bucket
        FROM orders o, b
        GROUP BY o.o_orderkey, o.o_totalprice)
    SELECT CAST(bucket AS INT) AS bucket, COUNT(*) AS n_rows,
           ROUND(MIN(o_totalprice), 6) AS lo,
           ROUND(MAX(o_totalprice), 6) AS hi
    FROM assigned GROUP BY bucket
    """,
)
def q174_range_boundaries(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact equi-depth range boundaries — the math behind
    repartitionByRange/RangePartitioner planning, computed exactly
    instead of by reservoir sampling: 7 interpolated percentiles split
    orders into 8 near-equal buckets; the report shows each bucket's row
    count and value span, i.e. the skew a range shuffle would see. The
    boundary table is B-1 rows and re-enters as a broadcast; bucket id =
    count of boundaries <= value, one conditional aggregate per row."""
    orders = read_table(spark, sf_dir, "orders")
    fracs = [x / _RANGE_BUCKETS for x in range(1, _RANGE_BUCKETS)]
    b = orders.agg(
        F.expr(
            f"percentile(o_totalprice, array({', '.join(map(str, fracs))}))"
        ).alias("bs")
    ).select(F.posexplode("bs").alias("i", "boundary"))
    assigned = (
        orders.select("o_orderkey", "o_totalprice")
        .join(F.broadcast(b))
        .groupBy("o_orderkey", "o_totalprice")
        .agg(
            F.sum(
                F.when(F.col("o_totalprice") >= F.col("boundary"), 1).otherwise(0)
            ).alias("bucket")
        )
    )
    return assigned.groupBy(F.col("bucket").cast("int").alias("bucket")).agg(
        F.count("*").alias("n_rows"),
        F.round(F.min("o_totalprice"), 6).alias("lo"),
        F.round(F.max("o_totalprice"), 6).alias("hi"),
    )

@query(
    "q175_expectations_gate",
    oracle="""
    WITH checked AS (
        SELECT o_orderkey,
               CASE WHEN o_totalprice <= 400000 THEN 0 ELSE 1 END AS f_price,
               CASE WHEN o_orderstatus IN ('O', 'F') THEN 0 ELSE 1 END
                   AS f_status,
               CASE WHEN year(o_orderdate) <= 2000 THEN 0 ELSE 1 END
                   AS f_fresh
        FROM orders),
    per_rule AS (
        SELECT 'price_le_400k' AS rule, COUNT(*) AS n_checked,
               CAST(SUM(f_price) AS BIGINT) AS n_failed FROM checked
        UNION ALL
        SELECT 'status_closed_or_open', COUNT(*),
               CAST(SUM(f_status) AS BIGINT) FROM checked
        UNION ALL
        SELECT 'orderdate_le_2000', COUNT(*),
               CAST(SUM(f_fresh) AS BIGINT) FROM checked
        UNION ALL
        SELECT 'ANY (quarantined)', COUNT(*),
               CAST(SUM(CASE WHEN f_price + f_status + f_fresh > 0
                        THEN 1 ELSE 0 END) AS BIGINT) FROM checked)
    SELECT rule, n_checked, n_failed,
           ROUND(n_failed * 1.0 / n_checked, 6) AS fail_rate
    FROM per_rule
    """,
)
def q175_expectations_gate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-contract expectations gate (the dbt-test / Great-Expectations
    shape): every rule evaluates as a 0/1 column in ONE scan, per-rule
    failure counts and the any-rule quarantine count come from one
    aggregate unpivoted to a rule report — |rules| never multiplies the
    scan. The quarantine row count is what a batch-admission controller
    acts on before data reaches training."""
    orders = read_table(spark, sf_dir, "orders")
    f_price = F.when(F.col("o_totalprice") <= 400000, 0).otherwise(1)
    f_status = F.when(F.col("o_orderstatus").isin("O", "F"), 0).otherwise(1)
    f_fresh = F.when(F.year("o_orderdate") <= 2000, 0).otherwise(1)
    agg = orders.agg(
        F.count("*").alias("n"),
        F.sum(f_price).cast("long").alias("p"),
        F.sum(f_status).cast("long").alias("s"),
        F.sum(f_fresh).cast("long").alias("fr"),
        F.sum(
            F.when(f_price + f_status + f_fresh > 0, 1).otherwise(0)
        ).cast("long").alias("q"),
    )
    report = agg.select(
        F.expr(
            "stack(4, 'price_le_400k', p, 'status_closed_or_open', s, "
            "'orderdate_le_2000', fr, 'ANY (quarantined)', q) "
            "AS (rule, n_failed)"
        ),
        F.col("n").alias("n_checked"),
    )
    return report.select(
        "rule",
        "n_checked",
        "n_failed",
        F.round(F.col("n_failed") * 1.0 / F.col("n_checked"), 6).alias(
            "fail_rate"
        ),
    )

_SHRINK_K = 200  # pseudo-count: cells with n >> k keep their own mean


@query(
    "q183_shrunk_group_means",
    oracle=f"""
    WITH cells AS (
        SELECT event_type, CAST(hour(ts) AS INTEGER) AS hr,
               COUNT(*) AS n,
               {duck_unit_sum("value", 6)}
                   AS units
        FROM events GROUP BY 1, 2),
    g AS (SELECT CAST(SUM(units) AS BIGINT) AS gu,
                 CAST(SUM(n) AS BIGINT) AS gn FROM cells)
    SELECT event_type, hr, n,
           ROUND(units / 1000000.0 / n, 6) AS raw_mean,
           ROUND((units / 1000000.0 + {_SHRINK_K} * (gu / 1000000.0 / gn))
                 / (n + {_SHRINK_K}), 6) AS shrunk_mean,
           ROUND(n * 1.0 / (n + {_SHRINK_K}), 6) AS own_weight
    FROM cells, g
    """,
)
def q183_shrunk_group_means(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Empirical-Bayes shrinkage for small-cell metrics (the James-Stein
    move every per-segment dashboard needs): each (event_type, hour)
    cell's mean is pulled toward the global mean with pseudo-count k —
    thin cells report the prior, fat cells their own data, and the
    own-weight column shows exactly how much each cell is trusted.
    One grouped aggregate to |cells| rows, the 1-row global prior
    re-enters as a broadcast; all sums in exact integer units so the
    blended doubles hash-match."""
    events = read_table(spark, sf_dir, "events")
    cells = events.groupBy(
        "event_type", F.hour("ts").cast("int").alias("hr")
    ).agg(
        F.count("*").alias("n"),
        F.sum(F.round(F.col("value") * 1_000_000).cast("long")).alias("units"),
    )
    g = cells.agg(
        F.sum("units").cast("long").alias("gu"),
        F.sum("n").cast("long").alias("gn"),
    )
    j = cells.join(F.broadcast(g))
    gmean = F.col("gu") / 1_000_000.0 / F.col("gn")
    return j.select(
        "event_type",
        "hr",
        "n",
        F.round(F.col("units") / 1_000_000.0 / F.col("n"), 6).alias(
            "raw_mean"
        ),
        F.round(
            (F.col("units") / 1_000_000.0 + _SHRINK_K * gmean)
            / (F.col("n") + _SHRINK_K),
            6,
        ).alias("shrunk_mean"),
        F.round(F.col("n") * 1.0 / (F.col("n") + _SHRINK_K), 6).alias(
            "own_weight"
        ),
    )

_DECAY_LAMBDA_H = 0.01  # per-hour decay rate


@query(
    "q184_decayed_popularity",
    oracle=f"""
    WITH ref AS (SELECT MAX(epoch_us(ts)) AS t_max FROM events),
    terms AS (
        SELECT user_id,
               CAST(ROUND(exp(-{_DECAY_LAMBDA_H}
                    * ((t_max - epoch_us(ts)) / 3600000000.0)) * 1000000)
                   AS BIGINT) AS term_units
        FROM events, ref)
    SELECT user_id, COUNT(*) AS n_events,
           ROUND(CAST(SUM(term_units) AS BIGINT) / 1000000.0, 6)
               AS decayed_score,
           ROUND(CAST(SUM(term_units) AS BIGINT) / 1000000.0 / COUNT(*), 6)
               AS freshness
    FROM terms GROUP BY user_id
    """,
)
def q184_decayed_popularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exponentially time-decayed popularity (the trending score):
    score(u) = Σ exp(−λ·age_hours) over u's events, anchored to the
    corpus max timestamp so the metric is replay-deterministic. Each
    decay term rounds to 6dp integer units BEFORE the sum (the q95
    discipline), so the order-independent total hash-matches; freshness
    = score/n separates 'recently active' from 'merely prolific'. One
    scan, one grouped aggregate — and because exp(−λ(a+b)) =
    exp(−λa)·exp(−λb), the same score maintains incrementally by
    multiplying a stored score by the batch-boundary decay factor."""
    events = read_table(spark, sf_dir, "events")
    ref = events.agg(F.max(F.unix_micros("ts")).alias("t_max"))
    terms = events.join(F.broadcast(ref)).select(
        "user_id",
        F.round(
            F.exp(
                -_DECAY_LAMBDA_H
                * (
                    (F.col("t_max") - F.unix_micros("ts"))
                    / 3_600_000_000.0
                )
            )
            * 1_000_000
        )
        .cast("long")
        .alias("term_units"),
    )
    return terms.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.round(F.sum("term_units") / 1_000_000.0, 6).alias("decayed_score"),
        F.round(F.sum("term_units") / 1_000_000.0 / F.count("*"), 6).alias(
            "freshness"
        ),
    )

@query(
    "q188_join_skew_profile",
    oracle="""
    WITH freq AS (SELECT l_orderkey, CAST(COUNT(*) AS BIGINT) AS f
                  FROM lineitem GROUP BY l_orderkey),
    fof AS (SELECT f, CAST(COUNT(*) AS BIGINT) AS n_keys
            FROM freq GROUP BY f),
    stats AS (SELECT CAST(MAX(f) AS BIGINT) AS max_f,
                     CAST(SUM(f) AS BIGINT) AS total_rows,
                     CAST(COUNT(*) AS BIGINT) AS n_distinct
              FROM freq)
    SELECT fof.f AS rows_per_key, fof.n_keys,
           CAST(fof.f * fof.n_keys AS BIGINT) AS rows_covered,
           stats.max_f,
           ROUND(stats.max_f * stats.n_distinct * 1.0 / stats.total_rows, 6)
               AS skew_factor
    FROM fof, stats
    """,
)
def q188_join_skew_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join skew diagnosis: the frequency-of-frequencies histogram of
    the join key (how many keys carry 1, 2, ... rows) plus the skew
    factor max/mean — the number that decides between a plain hash join,
    AQE skew splitting, and explicit salting (q142) BEFORE the shuffle
    is paid. Two cheap aggregates: rows→per-key counts→histogram; the
    3-value stats row broadcasts into the report."""
    li = read_table(spark, sf_dir, "lineitem")
    freq = li.groupBy("l_orderkey").agg(F.count("*").alias("f"))
    fof = freq.groupBy("f").agg(F.count("*").alias("n_keys"))
    stats = freq.agg(
        F.max("f").alias("max_f"),
        F.sum("f").cast("long").alias("total_rows"),
        F.count("*").alias("n_distinct"),
    )
    return fof.join(F.broadcast(stats)).select(
        F.col("f").alias("rows_per_key"),
        "n_keys",
        (F.col("f") * F.col("n_keys")).cast("long").alias("rows_covered"),
        "max_f",
        F.round(
            F.col("max_f") * F.col("n_distinct") * 1.0 / F.col("total_rows"),
            6,
        ).alias("skew_factor"),
    )

@query(
    "q279_mann_whitney",
    oracle="""
    WITH ranked AS (SELECT event_type, value,
                           RANK() OVER (ORDER BY value) AS r,
                           COUNT(*) OVER (PARTITION BY value) AS c
                    FROM events),
         tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM ranked),
         ties AS (SELECT CAST(SUM(c * CAST(c AS BIGINT) * c - c)
                              AS BIGINT) AS t3t
                  FROM (SELECT value, CAST(COUNT(*) AS BIGINT) AS c
                        FROM events GROUP BY value)),
         grp AS (SELECT event_type,
                        CAST(COUNT(*) AS BIGINT) AS n1,
                        CAST(SUM(2 * r + c - 1) AS BIGINT) AS r2sum
                 FROM ranked GROUP BY event_type)
    SELECT g.event_type, g.n1,
           CAST(g.r2sum - g.n1 * (g.n1 + 1) AS BIGINT) AS u2x,
           ROUND((g.r2sum / 2.0 - g.n1 * (g.n1 + 1) / 2.0
                  - g.n1 * (tot.n - g.n1) / 2.0)
                 / sqrt(g.n1 * 1.0 * (tot.n - g.n1) / 12.0
                        * ((tot.n + 1)
                           - ties.t3t * 1.0 / (tot.n * (tot.n - 1.0)))),
                 6) AS z,
           ROUND(1.0 - 2.0 * (g.r2sum / 2.0 - g.n1 * (g.n1 + 1) / 2.0)
                 / (g.n1 * 1.0 * (tot.n - g.n1)), 6) AS rank_biserial
    FROM grp g, tot, ties
    """,
)
def q279_mann_whitney(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mann-Whitney U (Wilcoxon rank-sum) for each event_type's value
    distribution against the rest of the stream — the nonparametric
    A/B readout that q189's mean-based comparison cannot give when
    values are skewed or heavy-tailed: U from tie-averaged ranks, the
    tie-corrected normal approximation z, and the rank-biserial effect
    size (1 - 2U/(n1 n2)).

    Exactness: tie-averaged ranks are exact halves, so 2*avg_rank =
    2*RANK + tiecount - 1 sums as a BIGINT (u2x = 2U is emitted as the
    exact integer witness); the z and effect columns divide exact
    integers in identical order in both engines before 6dp rounding.

    Scale: one global rank (per shard in production, merged by offset
    like q113's manifest) and two grouped aggregates; the tie table
    groups on value — everything is dimension-scale after the rank.

    Reference anchor: q189's experiment-readout family
    (`tools/log_analyzer.py` A/B telemetry), upgraded from mean
    contrasts to the rank test."""
    events = read_table(spark, sf_dir, "events")
    w_rank = Window.orderBy("value")
    w_tie = Window.partitionBy("value")
    ranked = events.select(
        "event_type",
        "value",
        F.rank().over(w_rank).alias("r"),
        F.count("*").over(w_tie).alias("c"),
    )
    tot_n = events.count()
    t3t = (
        events.groupBy("value")
        .agg(F.count("*").alias("c"))
        .select(
            F.sum(
                F.col("c").cast("long") * F.col("c") * F.col("c")
                - F.col("c")
            ).cast("long")
        )
        .first()[0]
    )
    grp = ranked.groupBy("event_type").agg(
        F.count("*").alias("n1"),
        F.sum(2 * F.col("r") + F.col("c") - 1).cast("long").alias("r2sum"),
    )
    n1 = F.col("n1")
    rsum = F.col("r2sum") / 2.0
    u = rsum - n1 * (n1 + 1) / 2.0
    n2 = F.lit(tot_n) - n1
    sigma = F.sqrt(
        n1 * 1.0 * n2 / 12.0
        * ((tot_n + 1) - t3t * 1.0 / (tot_n * (tot_n - 1.0)))
    )
    return grp.select(
        "event_type",
        "n1",
        (F.col("r2sum") - n1 * (n1 + 1)).cast("long").alias("u2x"),
        F.round((u - n1 * n2 / 2.0) / sigma, 6).alias("z"),
        F.round(1.0 - 2.0 * u / (n1 * 1.0 * n2), 6).alias("rank_biserial"),
    )


@query(
    "q189_ab_test_readout",
    oracle="""
    WITH u AS (SELECT DISTINCT user_id FROM events),
    v AS (SELECT user_id, MIN(epoch_us(ts)) AS t_view
          FROM events WHERE event_type = 'view' GROUP BY user_id),
    conv AS (
        SELECT v.user_id,
               MAX(CASE WHEN e.event_type = 'purchase'
                         AND epoch_us(e.ts)
                             BETWEEN v.t_view AND v.t_view + 86400000000
                    THEN 1 ELSE 0 END) AS converted
        FROM v JOIN events e USING (user_id) GROUP BY v.user_id),
    assign AS (
        SELECT CASE WHEN u.user_id % 2 = 0 THEN 'A' ELSE 'B' END AS arm,
               CAST(COALESCE(conv.converted, 0) AS BIGINT) AS converted
        FROM u LEFT JOIN conv USING (user_id)),
    arms AS (SELECT arm, CAST(COUNT(*) AS BIGINT) AS n_users,
                    CAST(SUM(converted) AS BIGINT) AS n_conv
             FROM assign GROUP BY arm),
    wide AS (SELECT
                 MAX(CASE WHEN arm = 'A' THEN n_users END) AS na,
                 MAX(CASE WHEN arm = 'A' THEN n_conv END) AS ca,
                 MAX(CASE WHEN arm = 'B' THEN n_users END) AS nb,
                 MAX(CASE WHEN arm = 'B' THEN n_conv END) AS cb
             FROM arms)
    SELECT na AS n_a, ca AS conv_a, ROUND(ca * 1.0 / na, 6) AS rate_a,
           nb AS n_b, cb AS conv_b, ROUND(cb * 1.0 / nb, 6) AS rate_b,
           ROUND(cb * 1.0 / nb - ca * 1.0 / na, 6) AS abs_lift,
           ROUND((cb * 1.0 / nb - ca * 1.0 / na)
                 / NULLIF(sqrt(((ca + cb) * 1.0 / (na + nb))
                               * (1 - (ca + cb) * 1.0 / (na + nb))
                               * (1.0 / na + 1.0 / nb)), 0), 6) AS z_score
    FROM wide
    """,
)
def q189_ab_test_readout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The experimentation readout: users split into arms by id parity
    (the deterministic stand-in for an assignment service), per-arm
    conversion = 'purchased within 24 h of the user's first view' (a
    real funnel metric — 'ever purchased' saturates to 1.0 at any
    scale where the fixture guarantees eventual purchases, degenerating
    the z-statistic), and the pooled two-proportion z-statistic for the
    lift — computed entirely from exact integer counts so the
    single-row report hash-matches. The z denominator is guarded on
    BOTH engines (try_divide / NULLIF): when an arm converts at exactly
    0 or 1 the pooled variance is 0 and the statistic is undefined —
    emitting NULL instead of crashing under ANSI sessions (the driver
    runs ANSI-on; see session.pin_session). Scale shape: per-user
    aggregates (the only event-scale work, purchase rows join the
    |users|-sized first-view table on the uniform user key) then a
    2-row arm rollup pivoted wide."""
    events = read_table(spark, sf_dir, "events")
    users = events.select("user_id").distinct()
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("t_view"))
    )
    p = events.filter(F.col("event_type") == "purchase").select(
        "user_id", F.unix_micros("ts").alias("t_buy")
    )
    conv = (
        p.join(v, "user_id")
        .filter(
            (F.col("t_buy") >= F.col("t_view"))
            & (F.col("t_buy") <= F.col("t_view") + F.lit(86_400_000_000))
        )
        .select("user_id")
        .distinct()
        .withColumn("converted", F.lit(1).cast("long"))
    )
    assign = users.join(conv, "user_id", "left").select(
        F.when(F.col("user_id") % 2 == 0, "A").otherwise("B").alias("arm"),
        F.coalesce("converted", F.lit(0).cast("long")).alias("converted"),
    )
    arms = assign.groupBy("arm").agg(
        F.count("*").alias("n_users"),
        F.sum("converted").cast("long").alias("n_conv"),
    )
    wide = arms.agg(
        F.max(F.when(F.col("arm") == "A", F.col("n_users"))).alias("na"),
        F.max(F.when(F.col("arm") == "A", F.col("n_conv"))).alias("ca"),
        F.max(F.when(F.col("arm") == "B", F.col("n_users"))).alias("nb"),
        F.max(F.when(F.col("arm") == "B", F.col("n_conv"))).alias("cb"),
    )
    ra = F.col("ca") * 1.0 / F.col("na")
    rb = F.col("cb") * 1.0 / F.col("nb")
    pp = (F.col("ca") + F.col("cb")) * 1.0 / (F.col("na") + F.col("nb"))
    return wide.select(
        F.col("na").alias("n_a"),
        F.col("ca").alias("conv_a"),
        F.round(ra, 6).alias("rate_a"),
        F.col("nb").alias("n_b"),
        F.col("cb").alias("conv_b"),
        F.round(rb, 6).alias("rate_b"),
        F.round(rb - ra, 6).alias("abs_lift"),
        F.round(
            F.try_divide(
                rb - ra,
                F.sqrt(
                    pp * (1 - pp) * (1.0 / F.col("na") + 1.0 / F.col("nb"))
                ),
            ),
            6,
        ).alias("z_score"),
    )


@query(
    "q190_time_to_convert",
    oracle="""
    WITH v AS (SELECT user_id, MIN(epoch_us(ts)) AS t_view
               FROM events WHERE event_type = 'view' GROUP BY user_id),
    p AS (SELECT user_id, MIN(epoch_us(ts)) AS t_buy
          FROM events WHERE event_type = 'purchase' GROUP BY user_id),
    d AS (SELECT v.user_id,
                 (p.t_buy - v.t_view) / 3600000000.0 AS hours
          FROM v JOIN p USING (user_id) WHERE p.t_buy >= v.t_view)
    SELECT COUNT(*) AS n_converters,
           ROUND(quantile_cont(hours, 0.5), 6) AS p50_hours,
           ROUND(quantile_cont(hours, 0.9), 6) AS p90_hours,
           ROUND(MIN(hours), 6) AS min_hours,
           ROUND(MAX(hours), 6) AS max_hours
    FROM d
    """,
)
def q190_time_to_convert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-to-convert latency distribution: first view → first purchase
    per user, with exact interpolated p50/p90 over the per-user gaps —
    the funnel-velocity number next to q119's conversion counts. Both
    first-touch times come from ONE grouped min each (no ordering over
    raw events), the join is |users|-sized, and the percentile contract
    matches q116 (Spark `percentile` == DuckDB `quantile_cont` on
    identical doubles)."""
    events = read_table(spark, sf_dir, "events")
    v = (
        events.filter(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("t_view"))
    )
    p = (
        events.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min(F.unix_micros("ts")).alias("t_buy"))
    )
    d = (
        v.join(p, "user_id")
        .filter(F.col("t_buy") >= F.col("t_view"))
        .select(
            ((F.col("t_buy") - F.col("t_view")) / 3_600_000_000.0).alias(
                "hours"
            )
        )
    )
    return d.agg(
        F.count("*").alias("n_converters"),
        F.round(F.expr("percentile(hours, 0.5)"), 6).alias("p50_hours"),
        F.round(F.expr("percentile(hours, 0.9)"), 6).alias("p90_hours"),
        F.round(F.min("hours"), 6).alias("min_hours"),
        F.round(F.max("hours"), 6).alias("max_hours"),
    )

_BOT_MIN_EVENTS = 20


@query(
    "q191_bot_regularity",
    oracle=f"""
    WITH gaps AS (
        SELECT user_id,
               (epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id
                         ORDER BY epoch_us(ts), event_id)) // 1000
                   AS gap_ms
        FROM events),
    m AS (SELECT user_id, CAST(COUNT(gap_ms) AS BIGINT) AS n,
                 CAST(SUM(gap_ms) AS BIGINT) AS s,
                 CAST(SUM(gap_ms * gap_ms) AS BIGINT) AS ss
          FROM gaps WHERE gap_ms IS NOT NULL GROUP BY user_id
          HAVING COUNT(gap_ms) >= {_BOT_MIN_EVENTS})
    SELECT user_id, n,
           ROUND(s * 1.0 / n / 1000.0, 6) AS mean_gap_s,
           ROUND(sqrt((ss * 1.0 / n) - (s * 1.0 / n) * (s * 1.0 / n))
                 / 1000.0, 6) AS std_gap_s,
           ROUND(sqrt((ss * 1.0 / n) - (s * 1.0 / n) * (s * 1.0 / n))
                 / (s * 1.0 / n), 6) AS cv,
           CAST(sqrt((ss * 1.0 / n) - (s * 1.0 / n) * (s * 1.0 / n))
                / (s * 1.0 / n) < 0.1 AS BOOLEAN) AS bot_flag
    FROM m
    """,
)
def q191_bot_regularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bot/automation detection by inter-event gap regularity: a human's
    gaps are bursty (coefficient of variation near or above 1), a
    scheduled client's are metronomic (CV → 0). Per user: exact-integer
    moment sums over the lag-gap series (the q123 discipline — n, Σgap,
    Σgap² as BIGINTs, division only at the end) → mean/std/CV and a
    CV<0.1 flag. One window for the lag, one grouped aggregate; gaps
    quantize to integer milliseconds so the moment sums stay exact
    within int64."""
    events = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", F.unix_micros("ts").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    gaps = events.select(
        "user_id",
        F.floor((F.col("t") - F.lag("t").over(w)) / 1000).alias("gap_ms"),
    ).filter(F.col("gap_ms").isNotNull())
    # moments in integer MILLISECONDS: µs² overflows int64 on hour-scale
    # gaps; ms² stays < 2^53 per term and the sums stay in-range
    m = (
        gaps.groupBy("user_id")
        .agg(
            F.count("*").alias("n"),
            F.sum("gap_ms").cast("long").alias("s"),
            F.sum(F.col("gap_ms") * F.col("gap_ms")).cast("long").alias("ss"),
        )
        .filter(F.col("n") >= _BOT_MIN_EVENTS)
    )
    mean = F.col("s") * 1.0 / F.col("n")
    var = (F.col("ss") * 1.0 / F.col("n")) - mean * mean
    cv = F.sqrt(var) / mean
    return m.select(
        "user_id",
        "n",
        F.round(mean / 1_000.0, 6).alias("mean_gap_s"),
        F.round(F.sqrt(var) / 1_000.0, 6).alias("std_gap_s"),
        F.round(cv, 6).alias("cv"),
        (cv < 0.1).alias("bot_flag"),
    )


@query(
    "q192_cohort_retention",
    oracle="""
    WITH firsts AS (
        SELECT user_id,
               CAST(MIN(epoch_us(ts)) // 604800000000 AS BIGINT)
                   AS cohort_week
        FROM events GROUP BY user_id),
    activity AS (
        SELECT DISTINCT e.user_id, f.cohort_week,
               CAST(epoch_us(e.ts) // 604800000000 AS BIGINT)
                   - f.cohort_week AS weeks_since
        FROM events e JOIN firsts f USING (user_id)),
    cohort_sizes AS (
        SELECT cohort_week, CAST(COUNT(*) AS BIGINT) AS n_cohort
        FROM firsts GROUP BY cohort_week)
    SELECT a.cohort_week, a.weeks_since,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           cs.n_cohort,
           ROUND(COUNT(*) * 1.0 / cs.n_cohort, 6) AS retention
    FROM activity a JOIN cohort_sizes cs USING (cohort_week)
    GROUP BY a.cohort_week, a.weeks_since, cs.n_cohort
    """,
)
def q192_cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The cohort retention triangle (the product-analytics artifact
    q120's single-lag week-over-week cannot give): users grouped by
    first-activity week, then for every later week the fraction of the
    cohort still active — epoch-week arithmetic keeps the bucketing a
    pure integer function of ts. Per-user firsts are one grouped min;
    the activity set joins them back co-keyed on user_id and the
    cohort-size table is |weeks|-bounded, re-entering broadcast."""
    events = read_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t")
    )
    wk = lambda c: F.floor(c / 604_800_000_000).cast("long")  # noqa: E731
    firsts = events.groupBy("user_id").agg(
        wk(F.min("t")).alias("cohort_week")
    )
    activity = (
        events.join(firsts, "user_id")
        .select(
            "user_id",
            "cohort_week",
            (wk(F.col("t")) - F.col("cohort_week")).alias("weeks_since"),
        )
        .distinct()
    )
    sizes = firsts.groupBy("cohort_week").agg(F.count("*").alias("n_cohort"))
    return (
        activity.groupBy("cohort_week", "weeks_since")
        .agg(F.count("*").alias("n_active"))
        .join(F.broadcast(sizes), "cohort_week")
        .select(
            "cohort_week",
            "weeks_since",
            "n_active",
            "n_cohort",
            F.round(F.col("n_active") * 1.0 / F.col("n_cohort"), 6).alias(
                "retention"
            ),
        )
    )

@query(
    "q194_event_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lead(event_type) OVER (PARTITION BY user_id
                                      ORDER BY epoch_us(ts), event_id)
                   AS next_type
        FROM events),
    pairs AS (SELECT event_type AS from_type, next_type AS to_type,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM seq WHERE next_type IS NOT NULL
              GROUP BY event_type, next_type),
    totals AS (SELECT from_type, CAST(SUM(n) AS BIGINT) AS row_total
               FROM pairs GROUP BY from_type)
    SELECT p.from_type, p.to_type, p.n, t.row_total,
           ROUND(p.n * 1.0 / t.row_total, 6) AS p_transition
    FROM pairs p JOIN totals t USING (from_type)
    """,
)
def q194_event_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov transition matrix between event types: per
    user-ordered stream, count (current → next) pairs and row-normalize
    into P(next | current) — the behavioral fingerprint that catches a
    broken client (view→view loops), funnels (view→click→purchase mass),
    and session grammar in one |types|² table. One lead() window per
    user, one grouped count; the row-total table is |types|-bounded and
    re-enters broadcast."""
    events = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    seq = events.select(
        F.col("event_type").alias("from_type"),
        F.lead("event_type").over(w).alias("to_type"),
    ).filter(F.col("to_type").isNotNull())
    pairs = seq.groupBy("from_type", "to_type").agg(F.count("*").alias("n"))
    totals = pairs.groupBy("from_type").agg(
        F.sum("n").cast("long").alias("row_total")
    )
    return pairs.join(F.broadcast(totals), "from_type").select(
        "from_type",
        "to_type",
        "n",
        "row_total",
        F.round(F.col("n") * 1.0 / F.col("row_total"), 6).alias(
            "p_transition"
        ),
    )

@query(
    "q195_top_paths",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type AS a,
               lead(event_type, 1) OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS b,
               lead(event_type, 2) OVER (PARTITION BY user_id
                   ORDER BY epoch_us(ts), event_id) AS c
        FROM events),
    paths AS (SELECT a || ' > ' || b || ' > ' || c AS path,
                     CAST(COUNT(*) AS BIGINT) AS n
              FROM seq WHERE b IS NOT NULL AND c IS NOT NULL
              GROUP BY 1),
    tot AS (SELECT CAST(SUM(n) AS BIGINT) AS t FROM paths)
    SELECT path, n, ROUND(n * 1.0 / t, 6) AS share,
           CAST(ROW_NUMBER() OVER (ORDER BY n DESC, path) AS INT) AS rnk
    FROM paths, tot
    ORDER BY n DESC, path LIMIT 20
    """,
)
def q195_top_paths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top behavioral 3-step paths: the most common (a > b > c) event
    trigrams across user streams — the path-analysis view (what do
    users actually DO in sequence) that transition matrices marginalize
    away. Two lead() offsets over one window ordering, one grouped
    count, global top-20 via TakeOrderedAndProject."""
    events = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("t")
    )
    w = Window.partitionBy("user_id").orderBy("t", "event_id")
    seq = events.select(
        F.col("event_type").alias("a"),
        F.lead("event_type", 1).over(w).alias("b"),
        F.lead("event_type", 2).over(w).alias("c"),
    ).filter(F.col("b").isNotNull() & F.col("c").isNotNull())
    paths = seq.select(
        F.concat_ws(" > ", "a", "b", "c").alias("path")
    ).groupBy("path").agg(F.count("*").alias("n"))
    tot = paths.agg(F.sum("n").cast("long").alias("t"))
    wr = Window.orderBy(F.desc("n"), "path")
    return (
        paths.join(F.broadcast(tot))
        .select(
            "path",
            "n",
            F.round(F.col("n") * 1.0 / F.col("t"), 6).alias("share"),
            F.row_number().over(wr).cast("int").alias("rnk"),
        )
        .orderBy(F.desc("n"), "path")
        .limit(20)
    )


def bucketed_ordered_prefix(
    df: DataFrame,
    value_col: str,
    tie_col: str,
    descending: bool = False,
    n_buckets: int = 256,
) -> DataFrame:
    """Global ordered prefix WITHOUT a single-partition window (q145's
    two-pass discipline, shared by the Pareto/Gini shapes): rows are
    binned into order-preserving buckets by value range, the ≤n_buckets
    bucket totals come to the driver for the exclusive offset scan and
    go back broadcast, and the within-bucket cumsum/row-number is a
    *partitioned* window. Adds ``_cum`` (inclusive cumsum of value_col)
    and ``_rn`` (1-based global row number) in
    (value_col [desc], tie_col) order. Survives a 10^8-key dimension at
    the cost of one tiny extra aggregate; value-range skew concentrates
    a hot value's ties in one bucket, the same documented trade as
    q145."""
    bounds = df.agg(
        F.min(value_col).alias("lo"), F.max(value_col).alias("hi")
    ).first()
    order = [
        F.desc(value_col) if descending else F.asc(value_col),
        F.asc(tie_col),
    ]
    if bounds.lo is None:  # empty input: nothing to bucket
        w = Window.orderBy(*order)
        return df.withColumn(
            "_cum",
            F.sum(value_col).over(
                w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        ).withColumn("_rn", F.row_number().over(w).cast("long"))
    lo, hi = int(bounds.lo), int(bounds.hi)
    width = max(-(-(hi - lo + 1) // n_buckets), 1)
    bexpr = F.floor(
        (
            (F.lit(hi) - F.col(value_col))
            if descending
            else (F.col(value_col) - F.lit(lo))
        )
        / F.lit(width)
    ).cast("long")
    pb = df.withColumn("_bucket", bexpr)
    rows = (
        pb.groupBy("_bucket")
        .agg(F.sum(value_col).alias("vt"), F.count("*").alias("ct"))
        .collect()
    )
    offs, vacc, cacc = [], 0, 0
    for r in sorted(rows, key=lambda r: r["_bucket"]):
        offs.append((r["_bucket"], vacc, cacc))
        vacc += int(r["vt"])
        cacc += int(r["ct"])
    off_df = df.sparkSession.createDataFrame(
        offs, "_bucket long, _voff long, _coff long"
    )
    wb = Window.partitionBy("_bucket").orderBy(*order)
    return (
        pb.join(F.broadcast(off_df), "_bucket")
        .withColumn(
            "_cum",
            F.col("_voff")
            + F.sum(value_col).over(
                wb.rowsBetween(Window.unboundedPreceding, Window.currentRow)
            ),
        )
        .withColumn(
            "_rn", (F.col("_coff") + F.row_number().over(wb)).cast("long")
        )
        .drop("_bucket", "_voff", "_coff")
    )



@query(
    "q196_abc_classification",
    oracle=f"""
    WITH rev AS (
        SELECT l_partkey,
               {duck_unit_sum("l_extendedprice * (1 - l_discount)", 4)} AS units
        FROM lineitem GROUP BY l_partkey),
    ranked AS (
        SELECT l_partkey, units,
               CAST(SUM(units) OVER (ORDER BY units DESC, l_partkey
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_units,
               CAST(SUM(units) OVER () AS BIGINT) AS total_units
        FROM rev),
    classed AS (
        SELECT *, CASE WHEN (cum_units - units) * 1.0 / total_units < 0.8
                       THEN 'A'
                       WHEN (cum_units - units) * 1.0 / total_units < 0.95
                       THEN 'B' ELSE 'C' END AS abc
        FROM ranked)
    SELECT abc, CAST(COUNT(*) AS BIGINT) AS n_parts,
           ROUND(CAST(SUM(units) AS BIGINT) / 10000.0, 6) AS revenue,
           ROUND(SUM(units) * 1.0 / MAX(total_units), 6) AS revenue_share
    FROM classed GROUP BY abc
    """,
)
def q196_abc_classification(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ABC / Pareto classification of parts by revenue: rank by exact
    integer-unit revenue, class A = the head reaching 80% of cumulative
    share, B to 95%, C the tail (membership keyed off the cumulative
    mass BEFORE the part, so the part crossing a boundary stays in the
    richer class — deterministic at ties via the part key). The classic
    80/20 inventory cut over the pre-aggregated per-part rollup —
    lineitem is touched once. The cumulative mass runs through
    :func:`bucketed_ordered_prefix` (q145's two-pass discipline), so no
    window ever single-partitions the |parts| rollup — the shape
    survives a 10^8-key dimension; the grand total is a 1-row aggregate
    broadcast back, not an unpartitioned window."""
    li = read_table(spark, sf_dir, "lineitem")
    rev = li.groupBy("l_partkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice") * (1 - F.col("l_discount")) * 10000
            ).cast("long")
        ).alias("units")
    )
    tot = rev.agg(F.sum("units").alias("total_units"))
    ranked = (
        bucketed_ordered_prefix(rev, "units", "l_partkey", descending=True)
        .crossJoin(F.broadcast(tot))
        .select(
            "l_partkey",
            "units",
            F.col("_cum").alias("cum_units"),
            "total_units",
        )
    )
    before = (F.col("cum_units") - F.col("units")) * 1.0 / F.col("total_units")
    classed = ranked.withColumn(
        "abc",
        F.when(before < 0.8, "A").when(before < 0.95, "B").otherwise("C"),
    )
    return classed.groupBy("abc").agg(
        F.count("*").alias("n_parts"),
        F.round(F.sum("units") / 10_000.0, 6).alias("revenue"),
        F.round(F.sum("units") * 1.0 / F.max("total_units"), 6).alias(
            "revenue_share"
        ),
    )

@query(
    "q199_kaplan_meier",
    oracle="""
    WITH days AS (
        SELECT user_id,
               CAST(MIN(epoch_us(ts)) // 86400000000 AS BIGINT) AS d0,
               CAST(MAX(epoch_us(ts)) // 86400000000 AS BIGINT) AS d1
        FROM events GROUP BY user_id),
    obs AS (SELECT MAX(d1) AS d_end FROM days),
    subjects AS (
        SELECT user_id, d1 - d0 AS duration,
               CAST(d1 < d_end - 6 AS BOOLEAN) AS churned
        FROM days, obs),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM subjects),
    at_t AS (
        SELECT duration AS t,
               CAST(SUM(CASE WHEN churned THEN 1 ELSE 0 END) AS BIGINT)
                   AS d_events,
               CAST(COUNT(*) AS BIGINT) AS leaving
        FROM subjects GROUP BY duration),
    risk AS (
        SELECT t, d_events,
               n_total - COALESCE(SUM(leaving) OVER (ORDER BY t
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS n_risk
        FROM at_t, tot),
    km AS (
        SELECT t, d_events, CAST(n_risk AS BIGINT) AS n_risk,
               CAST(SUM(CAST(ROUND(ln(1 - d_events * 1.0 / n_risk)
                    * 1000000000) AS BIGINT)) OVER (ORDER BY t
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS log_units
        FROM risk WHERE d_events < n_risk)
    SELECT CAST(t AS BIGINT) AS t_days, n_risk, d_events,
           ROUND(exp(log_units / 1000000000.0), 6) AS survival
    FROM km
    """,
)
def q199_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier churn survival with right-censoring: a user's
    duration is first→last active day; users still active in the final
    observation week are CENSORED (they leave the risk set without
    counting as churn — the distinction naive retention curves get
    wrong). S(t) = Π(1 − dᵢ/nᵢ) evaluated as exp of a cumulative sum of
    per-term 9dp integer-unit logs (the product made order-independent
    and hash-exact); risk sets come from one descending cumulative over
    the |durations|-bounded rollup. Per-user min/max is the only
    event-scale work."""
    events = read_table(spark, sf_dir, "events").select(
        "user_id", F.unix_micros("ts").alias("t")
    )
    day = lambda c: F.floor(c / 86_400_000_000).cast("long")  # noqa: E731
    days = events.groupBy("user_id").agg(
        day(F.min("t")).alias("d0"), day(F.max("t")).alias("d1")
    )
    obs = days.agg(F.max("d1").alias("d_end"))
    subjects = days.join(F.broadcast(obs)).select(
        (F.col("d1") - F.col("d0")).alias("duration"),
        (F.col("d1") < F.col("d_end") - 6).alias("churned"),
    )
    tot = subjects.agg(F.count("*").cast("long").alias("n_total"))
    at_t = subjects.groupBy(F.col("duration").alias("t")).agg(
        F.sum(F.when(F.col("churned"), 1).otherwise(0))
        .cast("long")
        .alias("d_events"),
        F.count("*").alias("leaving"),
    )
    wprev = Window.orderBy("t").rowsBetween(Window.unboundedPreceding, -1)
    risk = at_t.join(F.broadcast(tot)).select(
        "t",
        "d_events",
        (
            F.col("n_total")
            - F.coalesce(F.sum("leaving").over(wprev), F.lit(0))
        ).cast("long").alias("n_risk"),
    ).filter(F.col("d_events") < F.col("n_risk"))
    wcum = Window.orderBy("t").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    log_units = F.sum(
        F.round(
            F.log(1 - F.col("d_events") * 1.0 / F.col("n_risk"))
            * 1_000_000_000
        ).cast("long")
    ).over(wcum)
    return risk.select(
        F.col("t").alias("t_days"),
        "n_risk",
        "d_events",
        F.round(F.exp(log_units / 1_000_000_000.0), 6).alias("survival"),
    )

@query(
    "q204_revenue_gini",
    oracle=f"""
    WITH rev AS (
        SELECT o_custkey,
               {duck_unit_sum("o_totalprice")}
                   AS units
        FROM orders GROUP BY o_custkey),
    ranked AS (
        SELECT units,
               CAST(ROW_NUMBER() OVER (ORDER BY units, o_custkey) AS BIGINT)
                   AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n,
               CAST(SUM(units) OVER () AS BIGINT) AS total
        FROM rev)
    SELECT n AS n_customers,
           ROUND(MAX(total) / 100.0, 6) AS total_revenue,
           ROUND((2.0 * SUM(i * units) / (MAX(n) * 1.0 * MAX(total)))
                 - (MAX(n) + 1.0) / MAX(n), 6) AS gini
    FROM ranked GROUP BY n
    """,
)
def q204_revenue_gini(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Revenue inequality via the Gini coefficient — the
    whale-concentration number (0 = every customer equal, →1 = one
    customer is the business) from the closed form
    G = 2·Σ i·xᵢ / (n·Σx) − (n+1)/n over rank-ordered exact integer
    revenue units. Ties break on the key so the rank products are
    deterministic. The global rank runs through
    :func:`bucketed_ordered_prefix` (q145's two-pass discipline) and the
    n/total denominators are a 1-row aggregate broadcast back — no
    unpartitioned window anywhere, so the shape survives a 10^8-key
    dimension."""
    orders = read_table(spark, sf_dir, "orders")
    rev = orders.groupBy("o_custkey").agg(
        F.sum(F.round(F.col("o_totalprice") * 100).cast("long")).alias(
            "units"
        )
    )
    tot = rev.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("units").cast("long").alias("total"),
    )
    ranked = (
        bucketed_ordered_prefix(rev, "units", "o_custkey", descending=False)
        .crossJoin(F.broadcast(tot))
        .select("units", F.col("_rn").alias("i"), "n", "total")
    )
    return ranked.groupBy("n").agg(
        F.round(F.max("total") / 100.0, 6).alias("total_revenue"),
        F.round(
            (
                2.0
                * F.sum(F.col("i") * F.col("units"))
                / (F.max("n") * 1.0 * F.max("total"))
            )
            - (F.max("n") + 1.0) / F.max("n"),
            6,
        ).alias("gini"),
    ).select(
        F.col("n").alias("n_customers"), "total_revenue", "gini"
    )

@query(
    "q205_basket_lift",
    oracle="""
    WITH baskets AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day,
               event_type
        FROM events),
    nb AS (SELECT CAST(COUNT(DISTINCT (user_id, day)) AS BIGINT) AS n
           FROM baskets),
    item AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_item
             FROM baskets GROUP BY event_type),
    pair AS (SELECT a.event_type AS item_a, b.event_type AS item_b,
                    CAST(COUNT(*) AS BIGINT) AS n_pair
             FROM baskets a JOIN baskets b
               ON a.user_id = b.user_id AND a.day = b.day
                  AND a.event_type < b.event_type
             GROUP BY a.event_type, b.event_type)
    SELECT p.item_a, p.item_b, p.n_pair,
           ROUND(p.n_pair * 1.0 / nb.n, 6) AS support,
           ROUND(p.n_pair * 1.0 / ia.n_item, 6) AS confidence_a_to_b,
           ROUND(p.n_pair * 1.0 * nb.n / (ia.n_item * ib.n_item), 6) AS lift
    FROM pair p
    JOIN item ia ON p.item_a = ia.event_type
    JOIN item ib ON p.item_b = ib.event_type, nb
    """,
)
def q205_basket_lift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket association rules over (user, day) baskets:
    support, confidence, and LIFT for every event-type pair — lift > 1
    means the pair co-occurs beyond chance (the unordered-co-occurrence
    view q194's ordered transitions marginalize differently). The basket
    table is DISTINCT (user, day, type), so the self-join is bounded at
    |types|² rows per basket; item and basket counts are tiny broadcast
    tables."""
    events = read_table(spark, sf_dir, "events")
    baskets = events.select(
        "user_id",
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("long")
        .alias("day"),
        "event_type",
    ).distinct()
    nb = baskets.select("user_id", "day").distinct().agg(
        F.count("*").cast("long").alias("n")
    )
    item = baskets.groupBy("event_type").agg(F.count("*").alias("n_item"))
    a = baskets.alias("a")
    b = baskets.alias("b")
    pair = (
        a.join(
            b,
            (F.col("a.user_id") == F.col("b.user_id"))
            & (F.col("a.day") == F.col("b.day"))
            & (F.col("a.event_type") < F.col("b.event_type")),
        )
        .groupBy(
            F.col("a.event_type").alias("item_a"),
            F.col("b.event_type").alias("item_b"),
        )
        .agg(F.count("*").alias("n_pair"))
    )
    ia = item.alias("ia")
    ib = item.alias("ib")
    return (
        pair.join(F.broadcast(ia), F.col("item_a") == F.col("ia.event_type"))
        .join(F.broadcast(ib), F.col("item_b") == F.col("ib.event_type"))
        .join(F.broadcast(nb))
        .select(
            "item_a",
            "item_b",
            "n_pair",
            F.round(F.col("n_pair") * 1.0 / F.col("n"), 6).alias("support"),
            F.round(F.col("n_pair") * 1.0 / F.col("ia.n_item"), 6).alias(
                "confidence_a_to_b"
            ),
            F.round(
                F.col("n_pair")
                * 1.0
                * F.col("n")
                / (F.col("ia.n_item") * F.col("ib.n_item")),
                6,
            ).alias("lift"),
        )
    )

@query(
    "q208_activity_streaks",
    oracle="""
    WITH days AS (
        SELECT DISTINCT user_id,
               CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS day
        FROM events),
    grp AS (
        SELECT user_id, day,
               day - ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY day)
                   AS island
        FROM days),
    streaks AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS len,
               CAST(MIN(day) AS BIGINT) AS start_day
        FROM grp GROUP BY user_id, island)
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_streaks,
           CAST(MAX(len) AS BIGINT) AS longest_streak,
           CAST(SUM(len) AS BIGINT) AS active_days,
           CAST(MIN(CASE WHEN len = (SELECT MAX(len) FROM streaks s2
                                     WHERE s2.user_id = streaks.user_id)
                    THEN start_day END) AS BIGINT) AS longest_start_day
    FROM streaks GROUP BY user_id
    """,
)
def q208_activity_streaks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Longest consecutive-day activity streak per user — the
    gaps-and-islands idiom (day − row_number is constant within a run)
    applied to engagement: streak count, longest run with its start day
    (earliest on ties), total active days. Distinct days first, ONE
    window per user, grouped twice — the event table never sorts
    globally."""
    events = read_table(spark, sf_dir, "events")
    days = events.select(
        "user_id",
        F.floor(F.unix_micros("ts") / 86_400_000_000)
        .cast("long")
        .alias("day"),
    ).distinct()
    w = Window.partitionBy("user_id").orderBy("day")
    grp = days.withColumn(
        "island", F.col("day") - F.row_number().over(w)
    )
    streaks = grp.groupBy("user_id", "island").agg(
        F.count("*").alias("len"), F.min("day").alias("start_day")
    )
    wmax = Window.partitionBy("user_id")
    return (
        streaks.withColumn("max_len", F.max("len").over(wmax))
        .groupBy("user_id")
        .agg(
            F.count("*").alias("n_streaks"),
            F.max("len").cast("long").alias("longest_streak"),
            F.sum("len").cast("long").alias("active_days"),
            F.min(
                F.when(F.col("len") == F.col("max_len"), F.col("start_day"))
            ).cast("long").alias("longest_start_day"),
        )
    )

@query(
    "q213_tail_expectation",
    oracle=f"""
    WITH p AS (SELECT quantile_cont(o_totalprice, 0.95) AS p95 FROM orders)
    SELECT ROUND(p.p95, 6) AS p95,
           CAST(COUNT(*) AS BIGINT) AS n_tail,
           ROUND({duck_exact_sum("o_totalprice")} / COUNT(*), 6) AS cvar_95,
           ROUND(MAX(o_totalprice), 6) AS max_value
    FROM orders, p WHERE o_totalprice > p.p95 GROUP BY p.p95
    """,
)
def q213_tail_expectation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Conditional value at risk (expected shortfall): the MEAN of order
    values beyond the exact p95 — the tail-severity number a plain
    percentile hides (two distributions share a p95 while one's tail is
    10x heavier). The 1-row exact percentile broadcasts back as the tail
    filter; the tail mean uses integer-unit cents."""
    orders = read_table(spark, sf_dir, "orders")
    p = orders.agg(
        F.expr("percentile(o_totalprice, 0.95)").alias("p95")
    )
    tail = orders.join(F.broadcast(p)).filter(
        F.col("o_totalprice") > F.col("p95")
    )
    return tail.groupBy("p95").agg(
        F.count("*").alias("n_tail"),
        F.round(
            F.sum(F.round(F.col("o_totalprice") * 100).cast("long"))
            / 100.0
            / F.count("*"),
            6,
        ).alias("cvar_95"),
        F.round(F.max("o_totalprice"), 6).alias("max_value"),
    ).select(
        F.round("p95", 6).alias("p95"), "n_tail", "cvar_95", "max_value"
    )


_ALLOC_BUDGET = 1_000_000  # training-token budget to allocate


@query(
    "q214_budget_allocation",
    oracle=f"""
    WITH w AS (SELECT source, CAST(SUM(n_chars) AS BIGINT) AS weight
               FROM documents GROUP BY source),
    tot AS (SELECT CAST(SUM(weight) AS BIGINT) AS t FROM w),
    shares AS (
        SELECT source, weight,
               CAST(FLOOR(weight * {_ALLOC_BUDGET} * 1.0 / t) AS BIGINT)
                   AS base,
               weight * {_ALLOC_BUDGET} * 1.0 / t
                   - FLOOR(weight * {_ALLOC_BUDGET} * 1.0 / t) AS frac
        FROM w, tot),
    rem AS (SELECT CAST({_ALLOC_BUDGET} - SUM(base) AS BIGINT) AS r
            FROM shares),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (ORDER BY frac DESC, source) AS rnk
        FROM shares)
    SELECT source, weight, base,
           CAST(base + CASE WHEN rnk <= rem.r THEN 1 ELSE 0 END AS BIGINT)
               AS allocated
    FROM ranked, rem
    """,
)
def q214_budget_allocation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact integer budget allocation by largest-remainder (Hamilton)
    rounding: split a 1M-token training budget across sources
    proportional to char mass so the allocations SUM EXACTLY to the
    budget — naive per-source rounding over- or under-spends by up to
    |sources|/2 tokens and a 100-shard pipeline then disagrees about
    totals. Floor shares first; the leftover goes to the largest
    fractional parts (ties on source name). The whole computation runs
    over the |sources|-bounded rollup."""
    docs = read_table(spark, sf_dir, "documents")
    w = docs.groupBy("source").agg(
        F.sum("n_chars").cast("long").alias("weight")
    )
    tot = w.agg(F.sum("weight").cast("long").alias("t"))
    shares = w.join(F.broadcast(tot)).select(
        "source",
        "weight",
        F.floor(
            F.col("weight") * _ALLOC_BUDGET * 1.0 / F.col("t")
        ).cast("long").alias("base"),
        (
            F.col("weight") * _ALLOC_BUDGET * 1.0 / F.col("t")
            - F.floor(F.col("weight") * _ALLOC_BUDGET * 1.0 / F.col("t"))
        ).alias("frac"),
    )
    rem = shares.agg(
        (F.lit(_ALLOC_BUDGET) - F.sum("base")).cast("long").alias("r")
    )
    wr = Window.orderBy(F.desc("frac"), "source")
    return (
        shares.withColumn("rnk", F.row_number().over(wr))
        .join(F.broadcast(rem))
        .select(
            "source",
            "weight",
            "base",
            (
                F.col("base")
                + F.when(F.col("rnk") <= F.col("r"), 1).otherwise(0)
            ).cast("long").alias("allocated"),
        )
    )


# ---------------------------------------------------------------------------
# Mergeable fixed-bin histogram quantiles — the sketch-family member for
# percentiles (next to CMS q114, HLL q118, Bloom q127)
# ---------------------------------------------------------------------------

_HQ_BINS = 64
# quantiles as exact integer fractions so the crossing-bin target is
# engine-deterministic: ceil(p * n) = (n*num + den - 1) // den
_HQ_QUANTILES = [("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)]


def _hq_oracle() -> str:
    qvals = ", ".join(f"('{n}', {a}, {b})" for n, a, b in _HQ_QUANTILES)
    return f"""
    WITH cents AS (
        SELECT l_returnflag AS flag,
               CAST(ROUND(l_extendedprice * 100) AS BIGINT) AS xc
        FROM lineitem),
    bounds AS (SELECT MIN(xc) AS loc,
                      GREATEST(MAX(xc) - MIN(xc), 1) AS spanc
               FROM cents),
    hist AS (
        SELECT flag,
               LEAST({_HQ_BINS - 1},
                     (xc - loc) * {_HQ_BINS} // spanc) AS bin,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM cents, bounds GROUP BY 1, 2),
    cum AS (
        SELECT flag, bin, cnt,
               CAST(SUM(cnt) OVER (PARTITION BY flag ORDER BY bin)
                   AS BIGINT) AS c,
               CAST(SUM(cnt) OVER (PARTITION BY flag) AS BIGINT) AS n
        FROM hist),
    qs(q, num, den) AS (VALUES {qvals}),
    hit AS (
        SELECT flag, q, n, MIN(bin) AS bin
        FROM cum JOIN qs
          ON c >= (n * num + den - 1) // den
        GROUP BY flag, q, n)
    SELECT flag AS l_returnflag, q, CAST(bin AS INT) AS bin, n,
           CAST(loc + spanc * (bin + 1) // {_HQ_BINS} AS BIGINT)
               AS est_hi_cents
    FROM hit, bounds
    """


@query("q218_histogram_quantiles", oracle=_hq_oracle())
def q218_histogram_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Approximate per-group quantiles (p50/p90/p99) from a mergeable
    fixed-bin histogram — the percentile member of the sketch family
    (CMS q114, HLL q118, Bloom q127) and the 100-TB swap for q155's
    exact weighted median: per-partition histograms merge by bin-wise
    addition inside ONE hash aggregate, so no global sort or
    single-partition window ever happens, at the cost of bin-width
    resolution (the reported estimate is the crossing bin's right
    edge). All arithmetic is exact BIGINT cents — binning is integer
    multiply/divide against the broadcast 1-row global bounds, so both
    engines land every value in the same bin. Output: per return flag
    and quantile, the crossing bin, group count, and the bin's
    right-edge estimate in cents."""
    li = read_table(spark, sf_dir, "lineitem")
    cents = li.select(
        F.col("l_returnflag").alias("flag"),
        F.round(F.col("l_extendedprice") * 100).cast("long").alias("xc"),
    )
    bounds = cents.agg(
        F.min("xc").alias("loc"),
        F.greatest(F.max("xc") - F.min("xc"), F.lit(1)).alias("spanc"),
    )
    hist = (
        cents.join(F.broadcast(bounds))
        .select(
            "flag",
            F.least(
                F.lit(_HQ_BINS - 1).cast("long"),
                (
                    ((F.col("xc") - F.col("loc")) * _HQ_BINS)
                    / F.col("spanc")
                ).cast("long"),
            ).alias("bin"),
        )
        .groupBy("flag", "bin")
        .agg(F.count("*").alias("cnt"))
    )
    wc = Window.partitionBy("flag").orderBy("bin")
    cum = hist.select(
        "flag",
        "bin",
        F.sum("cnt").over(
            wc.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ).alias("c"),
        F.sum("cnt").over(Window.partitionBy("flag")).alias("n"),
    )
    qs = spark.createDataFrame(
        _HQ_QUANTILES, "q string, num long, den long"
    )
    hit = (
        cum.join(
            F.broadcast(qs),
            F.col("c")
            >= ((F.col("n") * F.col("num") + F.col("den") - 1) / F.col("den"))
            .cast("long"),
        )
        .groupBy("flag", "q", "n")
        .agg(F.min("bin").alias("bin"))
    )
    return hit.join(F.broadcast(bounds)).select(
        F.col("flag").alias("l_returnflag"),
        "q",
        F.col("bin").cast("int").alias("bin"),
        "n",
        (
            F.col("loc")
            + (F.col("spanc") * (F.col("bin") + 1) / _HQ_BINS).cast("long")
        )
        .cast("long")
        .alias("est_hi_cents"),
    )


# ---------------------------------------------------------------------------
# Invoice reconciliation + Benford leading-digit audit (data-quality tier)
# ---------------------------------------------------------------------------


@query(
    "q229_invoice_reconciliation",
    oracle=f"""
    WITH lt AS (
        SELECT l_orderkey,
               {duck_unit_sum(
                   "l_extendedprice * (1 - l_discount) * (1 + l_tax)")}
                   AS line_cents
        FROM lineitem GROUP BY l_orderkey),
    rec AS (
        SELECT o_orderkey,
               CAST(ROUND(o_totalprice * 100) AS BIGINT) AS head_cents,
               line_cents,
               CASE WHEN line_cents IS NULL THEN 'no_lines'
                    WHEN ABS(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                             - line_cents) <= 1 THEN 'match'
                    WHEN CAST(ROUND(o_totalprice * 100) AS BIGINT)
                         > line_cents THEN 'overbilled'
                    ELSE 'underbilled' END AS status
        FROM orders LEFT JOIN lt ON o_orderkey = l_orderkey)
    SELECT status, CAST(COUNT(*) AS BIGINT) AS n_orders,
           CAST(COALESCE(SUM(ABS(head_cents - line_cents)), 0) AS BIGINT)
               AS total_abs_diff_cents,
           CAST(COALESCE(MAX(ABS(head_cents - line_cents)), 0) AS BIGINT)
               AS max_abs_diff_cents
    FROM rec GROUP BY status
    """,
)
def q229_invoice_reconciliation(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Header-vs-detail reconciliation: does each order's o_totalprice
    equal the sum of its lines' extended charge? The classic billing
    integrity audit — per status (match within 1 cent / overbilled /
    underbilled / no_lines) the order counts and exact absolute
    discrepancy totals. On this fixture the finding is real: header
    totals were generated independently of the lines and 257 orders
    have no lines at all — precisely what this audit exists to surface
    before anyone aggregates o_totalprice as revenue. One line rollup
    (map-side combinable), one co-partitioned LEFT join, all exact
    cents."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    lt = li.groupBy("l_orderkey").agg(
        F.sum(
            F.round(
                F.col("l_extendedprice")
                * (1 - F.col("l_discount"))
                * (1 + F.col("l_tax"))
                * 100
            ).cast("long")
        ).alias("line_cents")
    )
    head = F.round(F.col("o_totalprice") * 100).cast("long")
    rec = orders.join(
        lt, F.col("o_orderkey") == F.col("l_orderkey"), "left"
    ).select(
        head.alias("head_cents"),
        "line_cents",
        F.when(F.col("line_cents").isNull(), "no_lines")
        .when(F.abs(head - F.col("line_cents")) <= 1, "match")
        .when(head > F.col("line_cents"), "overbilled")
        .otherwise("underbilled")
        .alias("status"),
    )
    diff = F.abs(F.col("head_cents") - F.col("line_cents"))
    return rec.groupBy("status").agg(
        F.count("*").alias("n_orders"),
        F.coalesce(F.sum(diff), F.lit(0))
        .cast("long")
        .alias("total_abs_diff_cents"),
        F.coalesce(F.max(diff), F.lit(0))
        .cast("long")
        .alias("max_abs_diff_cents"),
    )


@query(
    "q230_benford_deviation",
    oracle="""
    WITH d AS (
        SELECT CAST(substr(CAST(CAST(ROUND(o_totalprice * 100) AS BIGINT)
                    AS VARCHAR), 1, 1) AS INTEGER) AS digit
        FROM orders WHERE o_totalprice > 0),
    tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM d),
    obs AS (SELECT digit, CAST(COUNT(*) AS BIGINT) AS cnt
            FROM d GROUP BY digit)
    SELECT digit, cnt,
           ROUND(cnt * 1.0 / n, 6) AS observed_p,
           ROUND(log10(1.0 + 1.0 / digit), 6) AS benford_p,
           ROUND(cnt * 1.0 / n - log10(1.0 + 1.0 / digit), 6)
               AS deviation
    FROM obs, tot
    """,
)
def q230_benford_deviation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benford's-law leading-digit audit over order totals: observed
    first-digit frequencies against log10(1+1/d) — the standard
    anomaly screen for fabricated or machine-generated monetary data
    (organic amounts follow Benford; uniform generators and rounded
    price books do not, and THIS fixture's flat deviation profile says
    so — the audit detecting synthetic data is the audit working). The
    leading digit comes from the exact cents integer rendered as a
    string, so both engines classify identically; one scan, one
    16-row-output aggregate."""
    orders = read_table(spark, sf_dir, "orders")
    d = orders.filter(F.col("o_totalprice") > 0).select(
        F.substring(
            F.round(F.col("o_totalprice") * 100).cast("long").cast("string"),
            1,
            1,
        )
        .cast("int")
        .alias("digit")
    )
    tot = d.agg(F.count("*").cast("long").alias("n"))
    obs = d.groupBy("digit").agg(F.count("*").alias("cnt"))
    benford = F.log10(1.0 + 1.0 / F.col("digit"))
    return obs.join(F.broadcast(tot)).select(
        "digit",
        "cnt",
        F.round(F.col("cnt") * 1.0 / F.col("n"), 6).alias("observed_p"),
        F.round(benford, 6).alias("benford_p"),
        F.round(F.col("cnt") * 1.0 / F.col("n") - benford, 6).alias(
            "deviation"
        ),
    )


# ---------------------------------------------------------------------------
# Resampling inference: Poisson bootstrap (the distributed bootstrap)
# ---------------------------------------------------------------------------

# Poisson(1) CDF thresholds as 6-hex-char prefixes of the 24-bit md5
# keyspace: P(X<=k) * 16^6, k = 0..6 (see Chamandy et al., "Estimating
# Uncertainty for Massive Data Streams", Google TR 2012 — the classic
# one-pass bootstrap: per-replicate weights drawn per (row, replicate)
# from a hash, never a resample-and-shuffle).
_POIS_HEX = ["5e2d58", "bc5ab1", "eb715e", "fb2397", "ff1025", "ffd90f", "fffa8b"]
_BOOT_B = 40  # replicates; CI = discrete 5th/95th percentile of means

_POIS_CASE_SQL = (
    "CASE "
    + " ".join(
        f"WHEN h6 < '{t}' THEN {k}" for k, t in enumerate(_POIS_HEX)
    )
    + " ELSE 7 END"
)


def _pois_case_col(h6):
    w = F.when(h6 < _POIS_HEX[0], 0)
    for k, t in enumerate(_POIS_HEX[1:], start=1):
        w = w.when(h6 < t, k)
    return w.otherwise(7)


@query(
    "q234_bootstrap_ci",
    oracle=f"""
    WITH reps AS (SELECT unnest(range(0, {_BOOT_B})) AS b),
    base AS (SELECT event_type, event_id,
                    CAST(ROUND(value * 100) AS BIGINT) AS vc
             FROM events),
    wts AS (SELECT event_type, b, vc, {_POIS_CASE_SQL} AS w
            FROM (SELECT event_type, b, vc,
                         substr(md5(CAST(event_id AS VARCHAR) || ':'
                                    || CAST(b AS VARCHAR)), 1, 6) AS h6
                  FROM base CROSS JOIN reps)),
    rep_means AS (SELECT event_type, b,
                         CAST((SUM(w * vc) * 10000) // SUM(w) AS BIGINT)
                             AS mean_c4
                  FROM wts GROUP BY event_type, b HAVING SUM(w) > 0),
    ranked AS (SELECT event_type, b, mean_c4,
                      ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY mean_c4, b) AS rn,
                      COUNT(*) OVER (PARTITION BY event_type) AS cnt
               FROM rep_means),
    ci AS (SELECT event_type,
                  CAST(COUNT(*) AS BIGINT) AS n_replicates,
                  MAX(CASE WHEN rn = CAST(CEIL(0.05 * cnt) AS BIGINT)
                           THEN mean_c4 END) AS lo_c4,
                  MAX(CASE WHEN rn = CAST(CEIL(0.95 * cnt) AS BIGINT)
                           THEN mean_c4 END) AS hi_c4
           FROM ranked GROUP BY event_type),
    pt AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_events,
                  CAST(SUM(vc) AS BIGINT) AS sum_c
           FROM base GROUP BY event_type)
    SELECT pt.event_type, n_events, n_replicates,
           ROUND(sum_c * 1.0 / (n_events * 100.0), 6) AS mean_value,
           ROUND(lo_c4 / 1000000.0, 6) AS ci_lo,
           ROUND(hi_c4 / 1000000.0, 6) AS ci_hi,
           ROUND((hi_c4 - lo_c4) / 1000000.0, 6) AS ci_width
    FROM pt JOIN ci USING (event_type)
    """,
)
def q234_bootstrap_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Poisson-bootstrap confidence interval for each event type's mean
    value — the ONE-PASS distributed bootstrap (Chamandy et al. 2012;
    the resampling scheme behind every planet-scale error bar): instead
    of materializing B resamples, each (row, replicate) pair draws a
    Poisson(1) weight from md5(event_id:b) via the inverse CDF on the
    hash's 24-bit prefix, so the weights — and therefore the whole CI —
    are a pure function of the data, bit-identical on any engine or
    cluster size. Replicate means use exact integer arithmetic
    (1e-4-cent units, floor division); the 90% CI is the discrete
    5th/95th order statistic of the B=40 replicate means with (mean, b)
    tie-break.

    Scale (100 TB): the only row amplification is the B-way broadcast
    cross join, and partial aggregation collapses it map-side to
    |event_type| x B partial sums before the shuffle — the shuffle
    carries ~200 rows regardless of input size. No resample
    materialization, no driver-side stats. The reference has no
    uncertainty tier; this is the §2B analytics-surface extension the
    curation tier (q129) quotes error bars from."""
    events = read_table(spark, sf_dir, "events")
    base = events.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
    )
    reps = F.broadcast(
        spark.range(_BOOT_B).select(F.col("id").cast("int").alias("b"))
    )
    h6 = F.substring(F.md5(F.concat_ws(":", "event_id", "b")), 1, 6)
    wts = base.crossJoin(reps).select(
        "event_type", "b", "vc", _pois_case_col(h6).alias("w")
    )
    rep_means = (
        wts.groupBy("event_type", "b")
        .agg(
            F.sum(F.col("w") * F.col("vc")).alias("sum_wx"),
            F.sum("w").alias("sum_w"),
        )
        .filter(F.col("sum_w") > 0)
        .select(
            "event_type",
            "b",
            F.expr("(sum_wx * 10000) div sum_w").alias("mean_c4"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("mean_c4", "b")
    wc = Window.partitionBy("event_type")
    ranked = rep_means.select(
        "event_type",
        "mean_c4",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wc).alias("cnt"),
    )
    ci = ranked.groupBy("event_type").agg(
        F.count("*").alias("n_replicates"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.05 * F.col("cnt")).cast("long"),
                F.col("mean_c4"),
            )
        ).alias("lo_c4"),
        F.max(
            F.when(
                F.col("rn") == F.ceil(0.95 * F.col("cnt")).cast("long"),
                F.col("mean_c4"),
            )
        ).alias("hi_c4"),
    )
    pt = base.groupBy("event_type").agg(
        F.count("*").alias("n_events"), F.sum("vc").alias("sum_c")
    )
    return pt.join(F.broadcast(ci), "event_type").select(
        "event_type",
        "n_events",
        "n_replicates",
        F.round(F.col("sum_c") * 1.0 / (F.col("n_events") * 100.0), 6).alias(
            "mean_value"
        ),
        F.round(F.col("lo_c4") / 1_000_000.0, 6).alias("ci_lo"),
        F.round(F.col("hi_c4") / 1_000_000.0, 6).alias("ci_hi"),
        F.round((F.col("hi_c4") - F.col("lo_c4")) / 1_000_000.0, 6).alias(
            "ci_width"
        ),
    )


# ---------------------------------------------------------------------------
# Distribution drift: exact two-sample Kolmogorov-Smirnov
# ---------------------------------------------------------------------------


@query(
    "q238_ks_drift",
    oracle="""
    WITH ev AS (SELECT event_type,
                       CAST(ROUND(value * 100) AS BIGINT) AS vc,
                       epoch_us(ts) AS tus
                FROM events),
    bounds AS (SELECT event_type, MIN(tus) AS lo, MAX(tus) AS hi
               FROM ev GROUP BY event_type),
    tagged AS (SELECT ev.event_type, vc,
                      CASE WHEN tus < lo + (hi - lo) // 2
                           THEN 1 ELSE 0 END AS s1
               FROM ev JOIN bounds USING (event_type)),
    counts AS (SELECT event_type, vc,
                      CAST(SUM(s1) AS BIGINT) AS c1,
                      CAST(SUM(1 - s1) AS BIGINT) AS c2
               FROM tagged GROUP BY event_type, vc),
    cum AS (SELECT event_type, vc,
                   SUM(c1) OVER (PARTITION BY event_type ORDER BY vc) AS f1,
                   SUM(c2) OVER (PARTITION BY event_type ORDER BY vc) AS f2,
                   SUM(c1) OVER (PARTITION BY event_type) AS n1,
                   SUM(c2) OVER (PARTITION BY event_type) AS n2
            FROM counts),
    agg AS (SELECT event_type,
                   CAST(MAX(n1) AS BIGINT) AS n1,
                   CAST(MAX(n2) AS BIGINT) AS n2,
                   CAST(MAX(ABS(f1 * n2 - f2 * n1)) AS BIGINT) AS dmax
            FROM cum GROUP BY event_type),
    stat AS (SELECT event_type, n1, n2,
                    ROUND(dmax * 1.0 / (n1 * n2), 6) AS ks_d,
                    ROUND(1.358 * sqrt((n1 + n2) * 1.0 / (n1 * n2)), 6)
                        AS critical_value
             FROM agg WHERE n1 > 0 AND n2 > 0)
    SELECT event_type, n1, n2, ks_d, critical_value,
           CAST(CASE WHEN ks_d > critical_value THEN 1 ELSE 0 END
               AS INTEGER) AS drifted
    FROM stat
    """,
)
def q238_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift test per event type:
    each type's value distribution in the EARLIER half of its time range
    against the LATER half (the deploy-window question "did the metric's
    whole distribution move, not just its mean" that q117's centroid
    shift and q154's CUSUM cannot answer — KS sees shape changes with
    zero mean shift). D = max |F1(x) - F2(x)| evaluated at every distinct
    value; the supremum is computed on EXACT integers — |f1*n2 - f2*n1|
    with cumulative counts from a per-type window — so both engines agree
    bit-for-bit, and only the final two ratios touch doubles (rounded
    6dp). The alpha = 0.05 rejection threshold is the classical
    c(alpha) * sqrt((n1+n2)/(n1*n2)) with c = 1.358.

    Scale (100 TB): one grouped count collapses the corpus to distinct
    (type, value-cent) cells before any window runs; the cumulative scan
    partitions by type (never a global window). Value-domain cells, not
    rows, bound the window input."""
    events = read_table(spark, sf_dir, "events")
    ev = events.select(
        "event_type",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
        F.unix_micros("ts").alias("tus"),
    )
    bounds = ev.groupBy("event_type").agg(
        F.min("tus").alias("lo"), F.max("tus").alias("hi")
    )
    tagged = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "vc",
        F.when(
            F.col("tus")
            < F.col("lo") + F.expr("(hi - lo) div 2"),
            1,
        )
        .otherwise(0)
        .alias("s1"),
    )
    counts = tagged.groupBy("event_type", "vc").agg(
        F.sum("s1").alias("c1"), F.sum(1 - F.col("s1")).alias("c2")
    )
    wcum = (
        Window.partitionBy("event_type")
        .orderBy("vc")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wall = Window.partitionBy("event_type")
    cum = counts.select(
        "event_type",
        F.sum("c1").over(wcum).alias("f1"),
        F.sum("c2").over(wcum).alias("f2"),
        F.sum("c1").over(wall).alias("n1"),
        F.sum("c2").over(wall).alias("n2"),
    )
    agg = cum.groupBy("event_type").agg(
        F.max("n1").alias("n1"),
        F.max("n2").alias("n2"),
        F.max(
            F.abs(F.col("f1") * F.col("n2") - F.col("f2") * F.col("n1"))
        ).alias("dmax"),
    )
    stat = agg.filter((F.col("n1") > 0) & (F.col("n2") > 0)).select(
        "event_type",
        "n1",
        "n2",
        F.round(F.col("dmax") * 1.0 / (F.col("n1") * F.col("n2")), 6).alias(
            "ks_d"
        ),
        F.round(
            1.358
            * F.sqrt(
                (F.col("n1") + F.col("n2"))
                * 1.0
                / (F.col("n1") * F.col("n2"))
            ),
            6,
        ).alias("critical_value"),
    )
    return stat.select(
        "event_type",
        "n1",
        "n2",
        "ks_d",
        "critical_value",
        F.when(F.col("ks_d") > F.col("critical_value"), 1)
        .otherwise(0)
        .cast("int")
        .alias("drifted"),
    )


# ---------------------------------------------------------------------------
# Classifier calibration: reliability diagram + expected calibration error
# ---------------------------------------------------------------------------


_ECE_TAU = 12.0  # inverse temperature: spreads 64-class confidences over bins


@query(
    "q235_calibration_ece",
    oracle=f"""
    WITH coords AS (SELECT * FROM {_duck_coords(None)}),
    mx AS (SELECT vec_id, label,
                  MAX(v) OVER (PARTITION BY vec_id) AS vmax,
                  dim, v
           FROM coords),
    e AS (SELECT vec_id, label, dim,
                 CAST(ROUND(ROUND(exp(12.0 * (v - vmax)), 6) * 1000000) AS BIGINT)
                     AS e6,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY v DESC, dim) AS rn
          FROM mx),
    per_vec AS (SELECT vec_id, label,
                       CAST(SUM(e6) AS BIGINT) AS sum_e,
                       CAST(MAX(e6) AS BIGINT) AS max_e,
                       MAX(CASE WHEN rn = 1 THEN dim END) AS pred_dim
                FROM e GROUP BY vec_id, label),
    scored AS (SELECT vec_id,
                      CAST((1000000 * max_e) // sum_e AS BIGINT) AS conf_ppm,
                      CAST(LEAST((10 * max_e) // sum_e, 9) AS INTEGER)
                          AS bin,
                      CASE WHEN pred_dim % 10 = label THEN 1 ELSE 0 END
                          AS correct
               FROM per_vec),
    bins AS (SELECT bin,
                    CAST(COUNT(*) AS BIGINT) AS n_vectors,
                    CAST(SUM(conf_ppm) AS BIGINT) AS sum_conf_ppm,
                    CAST(SUM(correct) AS BIGINT) AS n_correct
             FROM scored GROUP BY bin),
    tot AS (SELECT CAST(SUM(n_vectors) AS BIGINT) AS n_total,
                   ROUND(SUM(ABS(n_correct * 1000000 - sum_conf_ppm))
                         / (SUM(n_vectors) * 1000000.0), 6) AS ece
            FROM bins)
    SELECT bin, n_vectors,
           ROUND(sum_conf_ppm / (n_vectors * 1000000.0), 6)
               AS avg_confidence,
           ROUND(n_correct * 1.0 / n_vectors, 6) AS accuracy,
           ROUND((n_correct * 1000000 - sum_conf_ppm)
                 / (n_vectors * 1000000.0), 6) AS calib_gap,
           ece
    FROM bins, tot
    """,
)
def q235_calibration_ece(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classifier calibration audit — the reliability diagram plus
    Expected Calibration Error (Guo et al. 2017) for the argmax
    classifier q72 evaluates: per vector, confidence = max softmax
    probability at inverse temperature tau=12 (the sharpening knob Guo et
    al. tune; raw 64-class logits here are near-uniform, which would
    collapse the diagram to one bin), correctness = (argmax dim mod 10 == label); confidences
    bin into 10 deciles, and each bin reports average confidence vs
    empirical accuracy. ECE = sum_b (n_b/N)|acc_b - conf_b| is the
    single number deciding whether the cascade thresholds (q108) can
    trust the probabilities at all. Every per-vector quantity is an
    exact integer (6dp-rounded exp in 1e-6 units, ppm confidence by
    floor division, decile by integer division), so bin membership and
    ECE hash-match across engines; only the final displayed ratios touch
    doubles.

    Scale (100 TB): one partitioned window over vec coordinates (the
    softmax grain), one grouped reduce to <=10 bin rows, ECE from the
    bin table — the corpus never re-shuffles after the per-vector
    reduce; the 1-row ECE total broadcasts back onto the bins."""
    coords = embedding_coords(spark, sf_dir)
    wv = Window.partitionBy("vec_id")
    wr = Window.partitionBy("vec_id").orderBy(F.desc("v"), "dim")
    e = coords.select(
        "vec_id",
        "label",
        "dim",
        F.round(
            F.round(F.exp(_ECE_TAU * (F.col("v") - F.max("v").over(wv))), 6)
            * 1_000_000
        )
        .cast("long")
        .alias("e6"),
        F.row_number().over(wr).alias("rn"),
    )
    per_vec = e.groupBy("vec_id", "label").agg(
        F.sum("e6").alias("sum_e"),
        F.max("e6").alias("max_e"),
        F.max(F.when(F.col("rn") == 1, F.col("dim"))).alias("pred_dim"),
    )
    scored = per_vec.select(
        "vec_id",
        F.expr("(1000000 * max_e) div sum_e").alias("conf_ppm"),
        F.least(F.expr("(10 * max_e) div sum_e"), F.lit(9))
        .cast("int")
        .alias("bin"),
        F.when(F.col("pred_dim") % 10 == F.col("label"), 1)
        .otherwise(0)
        .alias("correct"),
    )
    bins = scored.groupBy("bin").agg(
        F.count("*").alias("n_vectors"),
        F.sum("conf_ppm").alias("sum_conf_ppm"),
        F.sum("correct").alias("n_correct"),
    )
    tot = bins.agg(
        F.round(
            F.sum(
                F.abs(
                    F.col("n_correct") * 1_000_000 - F.col("sum_conf_ppm")
                )
            )
            / (F.sum("n_vectors") * 1_000_000.0),
            6,
        ).alias("ece")
    )
    return bins.crossJoin(F.broadcast(tot)).select(
        "bin",
        "n_vectors",
        F.round(
            F.col("sum_conf_ppm") / (F.col("n_vectors") * 1_000_000.0), 6
        ).alias("avg_confidence"),
        F.round(F.col("n_correct") * 1.0 / F.col("n_vectors"), 6).alias(
            "accuracy"
        ),
        F.round(
            (F.col("n_correct") * 1_000_000 - F.col("sum_conf_ppm"))
            / (F.col("n_vectors") * 1_000_000.0),
            6,
        ).alias("calib_gap"),
        "ece",
    )


# ---------------------------------------------------------------------------
# Planner QA: join cardinality estimation vs exact output size
# ---------------------------------------------------------------------------


def _card_audit_sql(name: str, left: str, lkey: str, right: str, rkey: str) -> str:
    return f"""
    SELECT '{name}' AS join_name,
           l.n AS n_left, r.n AS n_right,
           l.ndv AS ndv_left, r.ndv AS ndv_right,
           CAST((l.n * r.n) // GREATEST(l.ndv, r.ndv) AS BIGINT) AS est_rows,
           a.actual AS actual_rows,
           ROUND(((l.n * r.n) // GREATEST(l.ndv, r.ndv)) * 1.0 / a.actual, 6)
               AS est_over_actual
    FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COUNT(DISTINCT {lkey}) AS BIGINT) AS ndv
          FROM {left}) l,
         (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(COUNT(DISTINCT {rkey}) AS BIGINT) AS ndv
          FROM {right}) r,
         (SELECT CAST(SUM(lc * rc) AS BIGINT) AS actual
          FROM (SELECT {lkey} AS k, CAST(COUNT(*) AS BIGINT) AS lc
                FROM {left} GROUP BY 1) lg
          JOIN (SELECT {rkey} AS k, CAST(COUNT(*) AS BIGINT) AS rc
                FROM {right} GROUP BY 1) rg USING (k)) a
    """


def _card_audit_df(
    spark: SparkSession, sf_dir: str, name: str,
    left: DataFrame, lkey: str, right: DataFrame, rkey: str,
) -> DataFrame:
    # ONE scan per side: the per-key histogram is materialized and the
    # row/ndv stats fold over it (sum of per-key counts = row count,
    # non-NULL histogram rows = ndv — exact integers either way); the
    # r11 shape scanned each side twice (stats pass + histogram pass).
    # Corpus tier (r13): one histogram row per distinct key — ndv grows
    # with the corpus on high-cardinality keys.
    lg = corpus_checkpoint(
        left.groupBy(F.col(lkey).alias("k")).agg(F.count("*").alias("lc"))
    )
    rg = corpus_checkpoint(
        right.groupBy(F.col(rkey).alias("k")).agg(F.count("*").alias("rc"))
    )
    # ndv counts NON-NULL keys only (count(k)): COUNT(DISTINCT k) — the
    # r11 shape and the oracle — excludes NULLs, but a bare count(*)
    # over the histogram would count a NULL-key group; and the row-count
    # sums coalesce to 0 so an EMPTY side reports 0, not NULL (ADVICE
    # r12 — latent on the current non-null fixture keys, asserted
    # value-identical against the unchanged oracle)
    lstats = lg.agg(
        F.coalesce(F.sum("lc"), F.lit(0)).cast("long").alias("n_left"),
        F.count("k").alias("ndv_left"),
    )
    rstats = rg.agg(
        F.coalesce(F.sum("rc"), F.lit(0)).cast("long").alias("n_right"),
        F.count("k").alias("ndv_right"),
    )
    actual = lg.join(rg, "k").agg(
        F.sum(F.col("lc") * F.col("rc")).alias("actual_rows")
    )
    est = F.expr("(n_left * n_right) div greatest(ndv_left, ndv_right)")
    return (
        lstats.crossJoin(rstats)
        .crossJoin(actual)
        .select(
            F.lit(name).alias("join_name"),
            "n_left",
            "n_right",
            "ndv_left",
            "ndv_right",
            est.alias("est_rows"),
            "actual_rows",
            F.round(est * 1.0 / F.col("actual_rows"), 6).alias(
                "est_over_actual"
            ),
        )
    )


@query(
    "q237_join_cardinality",
    oracle=f"""
    SELECT * FROM ({_card_audit_sql("lineitem_orders", "lineitem", "l_orderkey", "orders", "o_orderkey")})
    UNION ALL
    SELECT * FROM ({_card_audit_sql("orders_customer", "orders", "o_custkey", "customer", "c_custkey")})
    ORDER BY join_name
    """,
)
def q237_join_cardinality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join cardinality-estimation audit — the System-R containment
    estimate |R||S| / max(ndv_R, ndv_S) against the EXACT join output
    size Σ_k n_R(k)·n_S(k), for the fixture's two fact joins. The ratio
    est/actual is the number a cost-based optimizer lives or dies by
    (CBO join reordering, broadcast-threshold decisions, AQE partition
    coalescing all consume this estimate); auditing it against ground
    truth computed from per-key histograms is how a real pipeline
    decides whether its table statistics are stale. The exact size
    needs no join materialization: per-key counts on each side join on
    the key and sum the products — |keys| rows through the join, not
    |output| rows.

    Scale (100 TB): two grouped counts and a key-aligned join per
    audited pair — the same shuffle the real join would do, but
    carrying one bigint per key; est/actual stays exact in integers
    until the final displayed ratio."""
    li = read_table(spark, sf_dir, "lineitem")
    orders = read_table(spark, sf_dir, "orders")
    cust = read_table(spark, sf_dir, "customer")
    a = _card_audit_df(
        spark, sf_dir, "lineitem_orders", li, "l_orderkey", orders,
        "o_orderkey",
    )
    b = _card_audit_df(
        spark, sf_dir, "orders_customer", orders, "o_custkey", cust,
        "c_custkey",
    )
    return a.unionByName(b).orderBy("join_name")


# ---------------------------------------------------------------------------
# Conformal prediction: split-conformal interval + honest coverage audit
# ---------------------------------------------------------------------------


@query(
    "q239_conformal_interval",
    oracle="""
    WITH ev AS (SELECT event_type, event_id,
                       CAST(ROUND(value * 100) AS BIGINT) AS vc,
                       epoch_us(ts) AS tus,
                       CAST(hour(ts) AS INTEGER) AS hod
                FROM events),
    bounds AS (SELECT event_type, MIN(tus) AS lo, MAX(tus) AS hi
               FROM ev GROUP BY event_type),
    seg AS (SELECT ev.*, CASE
                WHEN tus < lo + (hi - lo) // 3 THEN 1
                WHEN tus < lo + (2 * (hi - lo)) // 3 THEN 2
                ELSE 3 END AS segment
            FROM ev JOIN bounds USING (event_type)),
    fit AS (SELECT event_type, hod,
                   (SUM(vc) * 10000) // COUNT(*) AS mu_c4
            FROM seg WHERE segment = 1 GROUP BY event_type, hod),
    cal AS (SELECT s.event_type, s.event_id,
                   ABS(s.vc * 10000 - f.mu_c4) AS r_c4
            FROM seg s JOIN fit f
              ON s.event_type = f.event_type AND s.hod = f.hod
            WHERE s.segment = 2),
    ranked AS (SELECT event_type, r_c4,
                      ROW_NUMBER() OVER (PARTITION BY event_type
                                         ORDER BY r_c4, event_id) AS rn,
                      COUNT(*) OVER (PARTITION BY event_type) AS n_cal
               FROM cal),
    qhat AS (SELECT event_type,
                    CAST(MAX(n_cal) AS BIGINT) AS n_cal,
                    CAST(MAX(CASE WHEN rn = LEAST(
                             CAST(CEIL((n_cal + 1) * 0.9) AS BIGINT), n_cal)
                         THEN r_c4 END) AS BIGINT) AS q_c4
             FROM ranked GROUP BY event_type),
    test AS (SELECT s.event_type,
                    CAST(COUNT(*) AS BIGINT) AS n_test,
                    CAST(SUM(CASE WHEN ABS(s.vc * 10000 - f.mu_c4) <= q.q_c4
                                  THEN 1 ELSE 0 END) AS BIGINT) AS covered
             FROM seg s
             JOIN fit f ON s.event_type = f.event_type AND s.hod = f.hod
             JOIN qhat q ON s.event_type = q.event_type
             WHERE s.segment = 3
             GROUP BY s.event_type),
    nfit AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_fit
             FROM seg WHERE segment = 1 GROUP BY event_type)
    SELECT t.event_type, n_fit, q.n_cal, t.n_test,
           ROUND(q.q_c4 / 1000000.0, 6) AS qhat,
           ROUND(t.covered * 1.0 / t.n_test, 6) AS coverage
    FROM test t JOIN qhat q ON t.event_type = q.event_type
    JOIN nfit ON t.event_type = nfit.event_type
    """,
)
def q239_conformal_interval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Split-conformal prediction interval (Vovk; Lei et al. 2018) with
    an HONEST coverage audit — the distribution-free uncertainty
    wrapper q234's bootstrap cannot give per-prediction: each event
    type's time range splits into thirds; segment 1 fits the point
    predictor (per-hour-of-day mean, exact 1e-4-cent integers), segment
    2 calibrates q-hat = the ceil((n+1)*0.9)-th smallest absolute
    residual (the finite-sample-valid discrete quantile, (r, event_id)
    tie-break), segment 3 — data neither fitting nor calibration ever
    saw — measures realized coverage of |y - mu| <= q-hat, which
    conformal theory guarantees ~90% WITHOUT any distributional
    assumption on the values. Residuals, quantile selection, and the
    coverage test all run on exact integers; only the two displayed
    ratios touch doubles.

    Scale (100 TB): the predictor table is |type| x 24 rows (broadcast
    back), the calibration window partitions by type over residual
    CELLS, and coverage is one conditional count — the corpus streams
    once per segment with no global window anywhere."""
    events = read_table(spark, sf_dir, "events")
    ev = events.select(
        "event_type",
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("vc"),
        F.unix_micros("ts").alias("tus"),
        F.hour("ts").cast("int").alias("hod"),
    )
    bounds = ev.groupBy("event_type").agg(
        F.min("tus").alias("lo"), F.max("tus").alias("hi")
    )
    seg = ev.join(F.broadcast(bounds), "event_type").select(
        "event_type",
        "event_id",
        "vc",
        "hod",
        F.when(F.col("tus") < F.col("lo") + F.expr("(hi - lo) div 3"), 1)
        .when(
            F.col("tus") < F.col("lo") + F.expr("(2 * (hi - lo)) div 3"), 2
        )
        .otherwise(3)
        .alias("segment"),
    )
    # |type| x 24 predictor table, referenced by calibration AND test
    # (and, via its per-cell counts, by the n_fit report — the r11 shape
    # re-scanned segment 1 a third time for that count): materialized so
    # the fitting scan runs once (r12, guide §3.3/§5)
    fit = maybe_local_checkpoint(
        seg.filter(F.col("segment") == 1)
        .groupBy("event_type", "hod")
        .agg(
            F.expr("(sum(vc) * 10000) div count(*)").alias("mu_c4"),
            F.count("*").alias("n_cell"),
        )
    )
    cal = (
        seg.filter(F.col("segment") == 2)
        .join(F.broadcast(fit), ["event_type", "hod"])
        .select(
            "event_type",
            "event_id",
            F.abs(F.col("vc") * 10000 - F.col("mu_c4")).alias("r_c4"),
        )
    )
    wr = Window.partitionBy("event_type").orderBy("r_c4", "event_id")
    wc = Window.partitionBy("event_type")
    ranked = cal.select(
        "event_type",
        "r_c4",
        F.row_number().over(wr).alias("rn"),
        F.count("*").over(wc).alias("n_cal"),
    )
    pick = F.least(
        F.ceil((F.col("n_cal") + 1) * 0.9).cast("long"), F.col("n_cal")
    )
    # |type|-row calibration quantile, referenced by the test join AND
    # the final report — materialized so the calibration scan runs once
    qhat = maybe_local_checkpoint(
        ranked.groupBy("event_type").agg(
            F.max("n_cal").alias("n_cal"),
            F.max(F.when(F.col("rn") == pick, F.col("r_c4"))).alias("q_c4"),
        )
    )
    test = (
        seg.filter(F.col("segment") == 3)
        .join(F.broadcast(fit), ["event_type", "hod"])
        .join(F.broadcast(qhat), "event_type")
        .groupBy("event_type")
        .agg(
            F.count("*").alias("n_test"),
            F.sum(
                F.when(
                    F.abs(F.col("vc") * 10000 - F.col("mu_c4"))
                    <= F.col("q_c4"),
                    1,
                ).otherwise(0)
            ).alias("covered"),
        )
    )
    # per-type fit count folded over the materialized predictor table —
    # no third scan of segment 1
    nfit = fit.groupBy("event_type").agg(
        F.sum("n_cell").cast("long").alias("n_fit")
    )
    return (
        test.join(F.broadcast(qhat), "event_type")
        .join(F.broadcast(nfit), "event_type")
        .select(
            "event_type",
            "n_fit",
            "n_cal",
            "n_test",
            F.round(F.col("q_c4") / 1_000_000.0, 6).alias("qhat"),
            F.round(F.col("covered") * 1.0 / F.col("n_test"), 6).alias(
                "coverage"
            ),
        )
    )

# ---------------------------------------------------------------------------
# Survival analysis: Kaplan-Meier time-to-next-event with right-censoring
# ---------------------------------------------------------------------------


@query(
    "q242_kaplan_meier",
    oracle="""
    WITH ev AS (SELECT user_id, event_id, epoch_us(ts) AS tus FROM events),
    horizon AS (SELECT MAX(tus) AS t_end FROM ev),
    gaps AS (SELECT tus,
                    LEAD(tus) OVER (PARTITION BY user_id
                                    ORDER BY tus, event_id) AS nxt
             FROM ev),
    lifetimes AS (SELECT CASE WHEN nxt IS NULL
                              THEN (t_end - tus) // 3600000000
                              ELSE (nxt - tus) // 3600000000 END AS t_h,
                         CASE WHEN nxt IS NULL THEN 0 ELSE 1 END AS observed
                  FROM gaps, horizon),
    steps AS (SELECT t_h,
                     CAST(SUM(observed) AS BIGINT) AS d,
                     CAST(SUM(1 - observed) AS BIGINT) AS c
              FROM lifetimes GROUP BY t_h),
    risk AS (SELECT t_h, d, c,
                    CAST(SUM(d + c) OVER (ORDER BY t_h DESC) AS BIGINT)
                        AS n_risk
             FROM steps),
    lnstep AS (SELECT t_h, d, c, n_risk,
                      CASE WHEN d = 0 THEN 0
                           ELSE CAST(ROUND(ln((n_risk - d) * 1.0 / n_risk)
                                           * 1000000) AS BIGINT)
                      END AS l6
               FROM risk WHERE n_risk > d),
    curve AS (SELECT t_h, d, c, n_risk,
                     CAST(SUM(l6) OVER (ORDER BY t_h) AS BIGINT) AS cl6
              FROM lnstep)
    SELECT CAST(t_h AS BIGINT) AS t_hours, n_risk,
           d AS n_observed, c AS n_censored,
           ROUND(exp(cl6 / 1000000.0), 6) AS survival
    FROM curve WHERE d > 0 ORDER BY t_hours
    """,
)
def q242_kaplan_meier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kaplan-Meier survival curve for TIME TO NEXT EVENT — the
    engagement-halflife estimator with proper right-censoring (each
    user's LAST event has no successor; a naive gap histogram silently
    drops exactly the longest, most informative spells, biasing
    re-engagement time down — KM keeps them in the risk set until the
    observation horizon): subject = every event, duration = whole hours
    until that user's next event, censored at the corpus horizon when no
    successor exists. S(t) = prod_(t_i <= t) (n_i - d_i)/n_i over
    distinct gap-hours with n_i = at-risk (reverse-cumulative). The
    product runs in LOG space as an exact integer cumsum of 6dp-rounded
    ln factors (the q118/q73 transcendental discipline), so the curve
    hash-matches across engines.

    Scale (100 TB): one lag window per user (co-partitioned with the
    event stream's natural key), then every global window runs over
    distinct GAP-HOUR cells — bounded by the observation span in hours,
    never by event cardinality."""
    events = read_table(spark, sf_dir, "events")
    ev = events.select(
        "user_id", "event_id", F.unix_micros("ts").alias("tus")
    )
    horizon = ev.agg(F.max("tus").alias("t_end"))
    wlead = Window.partitionBy("user_id").orderBy("tus", "event_id")
    gaps = ev.select(
        "tus", F.lead("tus").over(wlead).alias("nxt")
    )
    lifetimes = gaps.crossJoin(F.broadcast(horizon)).select(
        F.when(
            F.col("nxt").isNull(),
            F.expr("(t_end - tus) div 3600000000"),
        )
        .otherwise(F.expr("(nxt - tus) div 3600000000"))
        .alias("t_h"),
        F.when(F.col("nxt").isNull(), 0).otherwise(1).alias("observed"),
    )
    steps = lifetimes.groupBy("t_h").agg(
        F.sum("observed").alias("d"),
        F.sum(1 - F.col("observed")).alias("c"),
    )
    wdesc = (
        Window.orderBy(F.desc("t_h"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    risk = steps.select(
        "t_h",
        "d",
        "c",
        F.sum(F.col("d") + F.col("c")).over(wdesc).alias("n_risk"),
    )
    lnstep = risk.filter(F.col("n_risk") > F.col("d")).select(
        "t_h",
        "d",
        "c",
        "n_risk",
        F.when(F.col("d") == 0, F.lit(0))
        .otherwise(
            F.round(
                F.log(
                    (F.col("n_risk") - F.col("d")) * 1.0 / F.col("n_risk")
                )
                * 1_000_000
            ).cast("long")
        )
        .alias("l6"),
    )
    wasc = (
        Window.orderBy("t_h")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    curve = lnstep.select(
        "t_h",
        "d",
        "c",
        "n_risk",
        F.sum("l6").over(wasc).alias("cl6"),
    )
    return (
        curve.filter(F.col("d") > 0)
        .select(
            F.col("t_h").alias("t_hours"),
            "n_risk",
            F.col("d").alias("n_observed"),
            F.col("c").alias("n_censored"),
            F.round(F.exp(F.col("cl6") / 1_000_000.0), 6).alias("survival"),
        )
        .orderBy("t_hours")
    )


# ---------------------------------------------------------------------------
# Sequence modeling: Markov transition matrix + stationary distribution
# ---------------------------------------------------------------------------

_MK_ITERS = 32  # fixed-point iterations for the stationary distribution


def _mk_oracle_sql() -> str:
    """Transition counts, ppm transition probabilities, and the unrolled
    integer-exact stationary iteration (q240's discipline: MATERIALIZED
    CTEs, nonneg floor division)."""
    ctes = [
        """pairs AS MATERIALIZED (
        SELECT event_type AS f,
               LEAD(event_type) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id) AS t
        FROM events)""",
        """cnt AS MATERIALIZED (
        SELECT f, t, CAST(COUNT(*) AS BIGINT) AS n
        FROM pairs WHERE t IS NOT NULL GROUP BY f, t)""",
        """p AS MATERIALIZED (
        SELECT f, t, n,
               CAST((n * 1000000) //
                    (SUM(n) OVER (PARTITION BY f)) AS BIGINT) AS p6
        FROM cnt)""",
        # State space = BOTH roles: a type seen only as a transition
        # DESTINATION (terminal/absorbing) is still a state; seeding
        # from-types only dropped it from the vector and crashed the
        # replay's nxt[t] lookup on any fixture with such a type.
        """sts AS MATERIALIZED (
        SELECT f AS st FROM cnt UNION SELECT t FROM cnt)""",
        # Absorbing states get the standard implicit self-loop
        # (P(s->s)=1): without it their all-zero row leaks mass out of
        # the chain every step and the stationary total floors to zero.
        """pa AS MATERIALIZED (
        SELECT f, t, p6 FROM p
        UNION ALL
        SELECT st, st, CAST(1000000 AS BIGINT)
        FROM sts WHERE st NOT IN (SELECT f FROM cnt))""",
        """it0 AS MATERIALIZED (
        SELECT st, CAST(1000000 AS BIGINT) AS v FROM sts)""",
    ]
    for k in range(1, _MK_ITERS + 1):
        # LEFT joins keep every state present each step (value 0 when
        # nothing flows in), mirroring the replay's dense dict exactly.
        ctes.append(
            f"""it{k} AS MATERIALIZED (
        SELECT s.st,
               CAST(COALESCE(SUM(prev.v * pa.p6), 0) // 1000000
                    AS BIGINT) AS v
        FROM sts s
        LEFT JOIN pa ON pa.t = s.st
        LEFT JOIN it{k - 1} prev ON pa.f = prev.st
        GROUP BY s.st)"""
        )
    ctes.append(
        f"""pi AS MATERIALIZED (
        SELECT st, v, CAST(SUM(v) OVER () AS BIGINT) AS tot
        FROM it{_MK_ITERS})"""
    )
    return (
        "WITH "
        + ",\n    ".join(ctes)
        + """
    SELECT p.f AS from_type, p.t AS to_type, p.n AS n_transitions,
           p.p6 / 1000000.0 AS p_transition,
           ((pi.v * 2000000 + pi.tot) // (2 * pi.tot)) / 1000000.0
               AS stationary_to
    FROM p JOIN pi ON p.t = pi.st
    ORDER BY from_type, to_type"""
    )


@query("q243_markov_transitions", oracle=_mk_oracle_sql())
def q243_markov_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """First-order Markov model of user event sequences: the transition
    matrix P(next type | current type) from per-user consecutive event
    pairs ((ts, event_id) replay order — the unique tie-break the
    recurrence contract requires), plus the chain's STATIONARY
    distribution pi = pi.P — the long-run behavioral mix the raw
    event-type histogram only approximates when sequences are
    non-ergodic. The state space is BOTH roles (a type seen only as a
    destination is an absorbing state, given the standard implicit
    self-loop so the chain stays stochastic). Transition probabilities
    quantize to exact ppm integers
    by floor division (nonnegative counts, so Spark `div` and DuckDB
    `//` agree), and the stationary vector comes from 32 fixed
    iterations of the SAME integer arithmetic on both engines — bounded
    |types|^2 state, bit-identical, no linear solver; the displayed ratios use the
    integer half-up idiom (python round() is half-even — the numpy-class
    parity trap).

    Scale (100 TB): the lead window co-partitions with the per-user
    event stream; the corpus reduces to a |types|^2 count matrix
    (map-side partials), and the iteration runs on that bounded sketch —
    driver-side in Spark (the audited-collect class), an unrolled
    25-row CTE chain in the oracle."""
    events = read_table(spark, sf_dir, "events")
    wlead = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = events.select(
        F.col("event_type").alias("f"),
        F.lead("event_type").over(wlead).alias("t"),
    ).filter(F.col("t").isNotNull())
    cnt = pairs.groupBy("f", "t").agg(F.count("*").alias("n"))
    wrow = Window.partitionBy("f")
    p = cnt.select(
        "f",
        "t",
        "n",
        F.expr("(n * 1000000)").alias("_num"),
        F.sum("n").over(wrow).alias("_den"),
    ).select(
        "f", "t", "n", F.expr("_num div _den").cast("long").alias("p6")
    )
    rows = p.collect()  # bounded: |types|^2 transition sketch
    mat = {(r["f"], r["t"]): r["p6"] for r in rows}
    # Both roles: destination-only (absorbing) types are states too —
    # seeding from-types alone KeyErrors on nxt[t] for such a type.
    froms = {f for f, _ in mat}
    states = sorted(froms | {t for _, t in mat})
    # implicit self-loop on absorbing states (P(s->s)=1), else their
    # all-zero row leaks mass and the stationary total floors to zero
    for s in states:
        if s not in froms:
            mat[(s, s)] = 1_000_000
    v = {s: 1_000_000 for s in states}
    for _ in range(_MK_ITERS):
        nxt = {s: 0 for s in states}
        for (f, t), p6 in mat.items():
            nxt[t] += v[f] * p6
        # nonnegative operands: Python's flooring // == engine truncation
        v = {s: x // 1_000_000 for s, x in nxt.items()}
    tot = sum(v.values())
    out = [
        (r["f"], r["t"], r["n"], r["p6"] / 1_000_000.0,
         ((v[r["t"]] * 2_000_000 + tot) // (2 * tot)) / 1_000_000.0)
        for r in rows
    ]
    df = spark.createDataFrame(
        out,
        "from_type string, to_type string, n_transitions long, "
        "p_transition double, stationary_to double",
    )
    return df.orderBy("from_type", "to_type")


# ---------------------------------------------------------------------------
# Quantile normalization across sources (distribution alignment)
# ---------------------------------------------------------------------------


@query(
    "q249_quantile_normalize",
    oracle="""
    WITH scored AS (SELECT doc_id, source, n_chars,
                           NTILE(10) OVER (PARTITION BY source
                                           ORDER BY n_chars, doc_id)
                               AS decile
                    FROM documents),
         pooled AS (SELECT decile,
                           CAST(SUM(n_chars) AS BIGINT) AS pool_chars,
                           CAST(COUNT(*) AS BIGINT) AS pool_docs
                    FROM scored GROUP BY decile)
    SELECT s.source, s.decile,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           ROUND(SUM(s.n_chars) * 1.0 / COUNT(*), 6) AS raw_avg,
           ROUND(p.pool_chars * 1.0 / p.pool_docs, 6) AS normalized
    FROM scored s JOIN pooled p USING (decile)
    GROUP BY s.source, s.decile, p.pool_chars, p.pool_docs
    """,
)
def q249_quantile_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantile normalization of the document-length distribution across
    sources: each doc gets its WITHIN-SOURCE decile (ntile over n_chars,
    doc_id tie-break makes the bucketing engine-deterministic), and every
    source's decile is mapped onto the POOLED decile mean — the classic
    distribution-alignment step before mixing sources whose length (or
    quality-score) distributions differ systematically. Output is the
    per-(source, decile) cell: raw mean vs the normalized target it maps
    to. All means are exact BIGINT-sum / count divisions, so both engines
    round identical doubles.

    Scale (100 TB): ntile partitions by source — a skewed source becomes
    one sort task, so at real scale the decile assignment swaps to
    two-pass range bucketing (per-source decile BOUNDARIES from a
    distributed sort / approx-quantile sketch, broadcast ~|sources|×9
    numbers, then a map-side bucket lookup); the cell rollup and pooled
    reduce are unchanged. The output is |sources| × 10 rows either way."""
    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "source", "n_chars"
    )
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    scored = docs.withColumn("decile", F.ntile(10).over(w).cast("long"))
    pooled = scored.groupBy("decile").agg(
        F.sum("n_chars").alias("pool_chars"),
        F.count("*").alias("pool_docs"),
    )
    cells = scored.groupBy("source", "decile").agg(
        F.count("*").alias("n_docs"),
        F.round(F.sum("n_chars") * 1.0 / F.count("*"), 6).alias("raw_avg"),
    )
    return cells.join(F.broadcast(pooled), "decile").select(
        "source",
        "decile",
        "n_docs",
        "raw_avg",
        F.round(
            F.col("pool_chars") * 1.0 / F.col("pool_docs"), 6
        ).alias("normalized"),
    )


# ---------------------------------------------------------------------------
# Theil-Sen robust trend (median-of-slopes, outlier-proof q128 twin)
# ---------------------------------------------------------------------------


def _day_slope_pairs(
    spark: SparkSession, sf_dir: str, keep, x1: str, x2: str
) -> tuple[DataFrame, DataFrame]:
    """q256/q256a's inputs: daily cent totals per event type indexed by
    day offset ``x``, and the slope ``s`` of every same-type day pair
    with ``keep(a.x, b.x)`` (pair days named ``x1``/``x2``)."""
    events = read_table(spark, sf_dir, "events")
    daily = (
        events.select(
            "event_type",
            F.expr("unix_micros(ts) div 86400000000").alias("d"),
            "value",
        )
        .groupBy("event_type", "d")
        .agg(
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("cents")
        )
    )
    wmin = Window.partitionBy("event_type")
    idx = daily.select(
        "event_type",
        "cents",
        (F.col("d") - F.min("d").over(wmin)).alias("x"),
    )
    a = idx.alias("a")
    b = idx.alias("b")
    pairs = a.join(
        b,
        (F.col("a.event_type") == F.col("b.event_type"))
        & keep(F.col("a.x"), F.col("b.x")),
    ).select(
        F.col("a.event_type").alias("event_type"),
        F.col("a.x").alias(x1),
        F.col("b.x").alias(x2),
        (
            (F.col("b.cents") - F.col("a.cents"))
            * 1.0
            / ((F.col("b.x") - F.col("a.x")) * 100.0)
        ).alias("s"),
    )
    return idx, pairs


def _middle_rows(
    df: DataFrame, part: list[str], order: list[str], cols: list[str]
) -> DataFrame:
    """``cols`` of the middle row (two when even) of each ``part`` group
    in ``order``, with its rank ``rn`` and the group's row count ``m``."""
    return df.select(
        *cols,
        F.row_number().over(Window.partitionBy(*part).orderBy(*order)).alias(
            "rn"
        ),
        F.count("*").over(Window.partitionBy(*part)).alias("m"),
    ).filter(
        (F.col("rn") == F.expr("(m + 1) div 2"))
        | (F.col("rn") == F.expr("(m + 2) div 2"))
    )


def _median_residuals(idx: DataFrame, fit: DataFrame) -> DataFrame:
    """The middle residual rows ``r`` (of ``m`` days) of each type's
    fitted ``slope`` line, joined back to ``fit``."""
    resid = idx.join(F.broadcast(fit), "event_type").select(
        "event_type",
        "x",
        (F.col("cents") / 100.0 - F.col("slope") * F.col("x")).alias("r"),
    )
    rr = _middle_rows(resid, ["event_type"], ["r", "x"], ["event_type", "r"])
    return rr.join(F.broadcast(fit), "event_type")


@query(
    "q256_theil_sen",
    oracle=f"""
    WITH daily AS (SELECT event_type,
                          CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
                          {duck_unit_sum("value")} AS cents
                   FROM events GROUP BY 1, 2),
         idx AS (SELECT event_type, cents,
                        d - MIN(d) OVER (PARTITION BY event_type) AS x
                 FROM daily),
         pairs AS (SELECT a.event_type, a.x AS xa, b.x AS xb,
                          (b.cents - a.cents) * 1.0
                              / ((b.x - a.x) * 100.0) AS s
                   FROM idx a JOIN idx b
                     ON a.event_type = b.event_type AND a.x < b.x),
         ranked AS (SELECT event_type, s,
                           ROW_NUMBER() OVER (PARTITION BY event_type
                                              ORDER BY s, xa, xb) AS rn,
                           COUNT(*) OVER (PARTITION BY event_type) AS m
                    FROM pairs),
         med AS (SELECT event_type, CAST(MAX(m) AS BIGINT) AS n_pairs,
                        AVG(s) AS slope
                 FROM ranked
                 WHERE rn IN ((m + 1) // 2, (m + 2) // 2)
                 GROUP BY event_type),
         resid AS (SELECT i.event_type, i.x,
                          i.cents / 100.0 - med.slope * i.x AS r
                   FROM idx i JOIN med ON i.event_type = med.event_type),
         rr AS (SELECT event_type, r,
                       ROW_NUMBER() OVER (PARTITION BY event_type
                                          ORDER BY r, x) AS rn,
                       COUNT(*) OVER (PARTITION BY event_type) AS m
                FROM resid)
    SELECT rr.event_type,
           CAST(MAX(rr.m) AS BIGINT) AS n_days,
           med.n_pairs,
           ROUND(med.slope, 6) AS theil_slope,
           ROUND(AVG(rr.r), 6) AS theil_intercept
    FROM rr JOIN med ON rr.event_type = med.event_type
    WHERE rr.rn IN ((rr.m + 1) // 2, (rr.m + 2) // 2)
    GROUP BY rr.event_type, med.n_pairs, med.slope
    """,
)
def q256_theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Theil-Sen robust trend per event type: slope = MEDIAN of all
    pairwise day-slopes, intercept = median residual — the
    breakdown-point-29% twin of q128's OLS (one corrupted day moves OLS
    arbitrarily; Theil-Sen shrugs until a third of the days lie). All
    slope inputs are exact integers (daily cent totals, day indices), so
    both engines derive identical doubles, and the median picks
    identically ranked values under the (slope, xa, xb) unique order;
    even counts average the two middle values (commutative two-term sum).

    Scale (100 TB): the pair stream is per-GROUP quadratic, bounded by
    C(days, 2) per type — a calendar-bounded constant (the corpus grows
    in rows per day, not days), so the self-join is safe at any corpus
    size; daily totals are one partial-agg shuffle, medians one window
    per group. For unbounded x-domains the scale move is Siegel's
    repeated-median on a bounded sample per group."""
    idx, pairs = _day_slope_pairs(spark, sf_dir, operator.lt, "xa", "xb")
    med = (
        _middle_rows(
            pairs, ["event_type"], ["s", "xa", "xb"], ["event_type", "s"]
        )
        .groupBy("event_type")
        .agg(
            F.max("m").cast("long").alias("n_pairs"),
            F.avg("s").alias("slope"),
        )
    )
    return (
        _median_residuals(idx, med)
        .groupBy("event_type", "n_pairs", "slope")
        .agg(
            F.max("m").cast("long").alias("n_days"),
            F.round(F.avg("r"), 6).alias("theil_intercept"),
        )
        .select(
            "event_type",
            "n_days",
            "n_pairs",
            F.round("slope", 6).alias("theil_slope"),
            "theil_intercept",
        )
    )


# ---------------------------------------------------------------------------
# Siegel repeated-median trend (50% breakdown upgrade of q256)
# ---------------------------------------------------------------------------


@query(
    "q256a_siegel_repeated_median",
    oracle=f"""
    WITH daily AS (SELECT event_type,
                          CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
                          {duck_unit_sum("value")} AS cents
                   FROM events GROUP BY 1, 2),
         idx AS (SELECT event_type, cents,
                        d - MIN(d) OVER (PARTITION BY event_type) AS x
                 FROM daily),
         pairs AS (SELECT a.event_type, a.x AS xi, b.x AS xj,
                          (b.cents - a.cents) * 1.0
                              / ((b.x - a.x) * 100.0) AS s
                   FROM idx a JOIN idx b
                     ON a.event_type = b.event_type AND a.x != b.x),
         irank AS (SELECT event_type, xi, s,
                          ROW_NUMBER() OVER (PARTITION BY event_type, xi
                                             ORDER BY s, xj) AS rn,
                          COUNT(*) OVER (PARTITION BY event_type, xi) AS m
                   FROM pairs),
         imed AS (SELECT event_type, xi, AVG(s) AS ms
                  FROM irank
                  WHERE rn IN ((m + 1) // 2, (m + 2) // 2)
                  GROUP BY event_type, xi),
         orank AS (SELECT event_type, ms,
                          ROW_NUMBER() OVER (PARTITION BY event_type
                                             ORDER BY ms, xi) AS rn,
                          COUNT(*) OVER (PARTITION BY event_type) AS m
                   FROM imed),
         omed AS (SELECT event_type, CAST(MAX(m) AS BIGINT) AS n_days,
                         AVG(ms) AS slope
                  FROM orank
                  WHERE rn IN ((m + 1) // 2, (m + 2) // 2)
                  GROUP BY event_type),
         resid AS (SELECT i.event_type, i.x,
                          i.cents / 100.0 - o.slope * i.x AS r
                   FROM idx i JOIN omed o ON i.event_type = o.event_type),
         rr AS (SELECT event_type, r,
                       ROW_NUMBER() OVER (PARTITION BY event_type
                                          ORDER BY r, x) AS rn,
                       COUNT(*) OVER (PARTITION BY event_type) AS m
                FROM resid)
    SELECT rr.event_type, o.n_days,
           ROUND(o.slope, 6) AS siegel_slope,
           ROUND(AVG(rr.r), 6) AS siegel_intercept
    FROM rr JOIN omed o ON rr.event_type = o.event_type
    WHERE rr.rn IN ((rr.m + 1) // 2, (rr.m + 2) // 2)
    GROUP BY rr.event_type, o.n_days, o.slope
    """,
)
def q256a_siegel_repeated_median(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Siegel repeated-median trend — q256's named upgrade (SURVEY §12):
    slope = median over points i of (median over j != i of the pairwise
    slope s_ij), intercept = median residual. Breakdown point 50% vs
    Theil-Sen's 29%: HALF the days can be corrupted before the estimate
    moves, because a poisoned day only perturbs its own inner median
    and the outer median ignores a minority of poisoned inner medians.
    Same exact-integer discipline as q256 (daily cent totals, day
    indices → identical doubles on both engines; every median ranked
    under a unique (value, tiebreak) order; even counts average the two
    middle values — a commutative two-term mean).

    Scale (100 TB): identical envelope to q256 — the pair stream is
    per-type C(days, 2)-bounded (calendar-bounded, corpus grows in rows
    per day, not days); the inner medians are one window partitioned by
    (type, day), the outer one window per type. For unbounded x-domains
    both estimators sample per group first; the repeated-median is the
    one that stays robust when the sample itself is contaminated."""
    idx, pairs = _day_slope_pairs(spark, sf_dir, operator.ne, "xi", "xj")
    imed = (
        _middle_rows(
            pairs,
            ["event_type", "xi"],
            ["s", "xj"],
            ["event_type", "xi", "s"],
        )
        .groupBy("event_type", "xi")
        .agg(F.avg("s").alias("ms"))
    )
    omed = (
        _middle_rows(imed, ["event_type"], ["ms", "xi"], ["event_type", "ms"])
        .groupBy("event_type")
        .agg(
            F.max("m").cast("long").alias("n_days"),
            F.avg("ms").alias("slope"),
        )
    )
    return (
        _median_residuals(idx, omed)
        .groupBy("event_type", "n_days", "slope")
        .agg(F.round(F.avg("r"), 6).alias("siegel_intercept"))
        .select(
            "event_type",
            "n_days",
            F.round("slope", 6).alias("siegel_slope"),
            "siegel_intercept",
        )
    )


@query(
    "q280_roc_auc",
    oracle="""
    WITH scored AS (SELECT event_id, value,
                           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                           END AS y
                    FROM events),
         tot AS (SELECT CAST(SUM(y) AS BIGINT) AS p,
                        CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
                 FROM scored),
         ranked AS (SELECT y,
                           RANK() OVER (ORDER BY value) AS r,
                           COUNT(*) OVER (PARTITION BY value) AS c
                    FROM scored),
         aucn AS (SELECT CAST(SUM(CASE WHEN y = 1 THEN 2 * r + c - 1
                                       ELSE 0 END)
                              - (SELECT p * (p + 1) FROM tot)
                              AS BIGINT) AS auc2num
                  FROM ranked),
         decs AS (SELECT y,
                         NTILE(10) OVER (ORDER BY value DESC, event_id)
                             AS decile
                  FROM scored),
         per AS (SELECT decile, CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(y) AS BIGINT) AS n_pos
                 FROM decs GROUP BY decile),
         cum AS (SELECT decile, n, n_pos,
                        CAST(SUM(n_pos) OVER (ORDER BY decile) AS BIGINT)
                            AS cum_tp,
                        CAST(SUM(n - n_pos) OVER (ORDER BY decile)
                             AS BIGINT) AS cum_fp,
                        CAST(SUM(n) OVER (ORDER BY decile) AS BIGINT)
                            AS cum_n
                 FROM per)
    SELECT cum.decile, cum.n, cum.n_pos, cum.cum_tp, cum.cum_fp,
           ROUND(cum.cum_tp * 1.0 / tot.p, 6) AS tpr,
           ROUND(cum.cum_fp * 1.0 / tot.neg, 6) AS fpr,
           ROUND(cum.cum_tp * 1.0 / cum.cum_n, 6) AS precision_at,
           aucn.auc2num,
           ROUND(aucn.auc2num * 1.0 / (2.0 * tot.p * tot.neg), 6) AS auc
    FROM cum, tot, aucn
    """,
)
def q280_roc_auc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROC curve + exact AUC for a score/label pair (score = event
    value, positive class = 'purchase'): decile-bucketed operating
    points (cumulative TP/FP from the highest-score decile down, with
    TPR/FPR/precision) plus the exact rank-statistic AUC — the
    classifier-eval readout next to q235's calibration ECE and q279's
    rank-sum test (AUC == U/(P*N), the Mann-Whitney identity).

    Exactness: tie-averaged ranks are exact halves (2*avg_rank =
    2*RANK + tiecount - 1, the q279 trick), so auc2num = 2*U is an
    exact BIGINT witness; every curve point is a ratio of exact
    integer counts rounded at 6dp. Decile assignment uses NTILE over
    the unique (value DESC, event_id) order — deterministic under ties.

    Scale: one global rank + one NTILE (per-shard rank merged by
    offset in production, like q113's manifest), then a 10-row
    cumulative window — no joins at event scale."""
    events = read_table(spark, sf_dir, "events")
    scored = events.select(
        "event_id",
        "value",
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .cast("long")
        .alias("y"),
    )
    tot = scored.agg(
        F.sum("y").cast("long").alias("p"),
        (F.count("*") - F.sum("y")).cast("long").alias("neg"),
    )
    ranked = scored.select(
        "y",
        F.rank().over(Window.orderBy("value")).alias("r"),
        F.count("*").over(Window.partitionBy("value")).alias("c"),
    )
    r2sum = ranked.agg(
        F.sum(
            F.when(F.col("y") == 1, 2 * F.col("r") + F.col("c") - 1)
            .otherwise(0)
        )
        .cast("long")
        .alias("r2sum_pos")
    )
    decs = scored.select(
        "y",
        F.ntile(10)
        .over(Window.orderBy(F.desc("value"), "event_id"))
        .cast("long")
        .alias("decile"),
    )
    per = decs.groupBy("decile").agg(
        F.count("*").alias("n"),
        F.sum("y").cast("long").alias("n_pos"),
    )
    w = Window.orderBy("decile").rowsBetween(Window.unboundedPreceding, 0)
    cum = per.select(
        "decile",
        "n",
        "n_pos",
        F.sum("n_pos").over(w).cast("long").alias("cum_tp"),
        F.sum(F.col("n") - F.col("n_pos")).over(w).cast("long").alias(
            "cum_fp"
        ),
        F.sum("n").over(w).cast("long").alias("cum_n"),
    )
    aucn = r2sum.join(F.broadcast(tot)).select(
        (F.col("r2sum_pos") - F.col("p") * (F.col("p") + 1))
        .cast("long")
        .alias("auc2num"),
        "p",
        "neg",
    )
    return cum.join(F.broadcast(aucn)).select(
        "decile",
        "n",
        "n_pos",
        "cum_tp",
        "cum_fp",
        F.round(F.col("cum_tp") * 1.0 / F.col("p"), 6).alias("tpr"),
        F.round(F.col("cum_fp") * 1.0 / F.col("neg"), 6).alias("fpr"),
        F.round(F.col("cum_tp") * 1.0 / F.col("cum_n"), 6).alias(
            "precision_at"
        ),
        "auc2num",
        F.round(
            F.col("auc2num") * 1.0 / (2.0 * F.col("p") * F.col("neg")), 6
        ).alias("auc"),
    )


# The exact daily-cents reduction shared by q281/q286/q289 (q256/q279
# predate it and keep their inlined twins): one grouped aggregate from
# events to |types| x |days| exact integer cents.
_DUCK_DAILY_CENTS = f"""daily AS (SELECT event_type,
                          CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
                          {duck_unit_sum("value")} AS cents
                   FROM events GROUP BY 1, 2)"""


def daily_cents(events: DataFrame) -> DataFrame:
    """(event_type, d, cents): the Spark twin of _DUCK_DAILY_CENTS."""
    return events.groupBy(
        "event_type",
        (F.unix_micros("ts") / F.lit(86_400_000_000))
        .cast("long")
        .alias("d"),
    ).agg(
        F.sum(F.round(F.col("value") * 100).cast("long"))
        .cast("long")
        .alias("cents")
    )


# the (type_a < type_b) day-aligned series pairing shared by q286
# (Kendall) and q298 (Spearman) — both engines
_DUCK_TYPE_PAIR_JOINT = """joint AS (SELECT a.d, a.event_type AS type_a,
                          b.event_type AS type_b,
                          a.cents AS xa, b.cents AS ya
                   FROM daily a JOIN daily b
                     ON a.d = b.d AND a.event_type < b.event_type)"""


def type_pair_joint(daily: DataFrame) -> DataFrame:
    """(d, type_a, type_b, xa, ya): the Spark twin of
    _DUCK_TYPE_PAIR_JOINT over a daily_cents frame."""
    a = daily.select(
        F.col("event_type").alias("type_a"),
        "d",
        F.col("cents").alias("xa"),
    )
    b = daily.select(
        F.col("event_type").alias("type_b"),
        "d",
        F.col("cents").alias("ya"),
    )
    return a.join(b, "d").filter(F.col("type_a") < F.col("type_b"))


@query(
    "q286_kendall_tau",
    oracle=f"""
    WITH {_DUCK_DAILY_CENTS},
         {_DUCK_TYPE_PAIR_JOINT},
         pairs AS (SELECT p.type_a, p.type_b,
                          CASE WHEN (q.xa - p.xa) * (q.ya - p.ya) > 0
                               THEN 1 ELSE 0 END AS conc,
                          CASE WHEN (q.xa - p.xa) * (q.ya - p.ya) < 0
                               THEN 1 ELSE 0 END AS disc,
                          CASE WHEN q.xa = p.xa THEN 1 ELSE 0 END AS tx,
                          CASE WHEN q.ya = p.ya THEN 1 ELSE 0 END AS ty
                   FROM joint p JOIN joint q
                     ON p.type_a = q.type_a AND p.type_b = q.type_b
                        AND p.d < q.d),
         agg AS (SELECT type_a, type_b,
                        CAST(COUNT(*) AS BIGINT) AS n0,
                        CAST(SUM(conc) AS BIGINT) AS nc,
                        CAST(SUM(disc) AS BIGINT) AS nd,
                        CAST(SUM(tx) AS BIGINT) AS n1,
                        CAST(SUM(ty) AS BIGINT) AS n2
                 FROM pairs GROUP BY type_a, type_b)
    SELECT type_a, type_b, n0, nc, nd, n1, n2,
           ROUND((nc - nd) * 1.0
                 / NULLIF(sqrt((n0 - n1) * 1.0 * (n0 - n2)), 0), 6)
               AS tau_b
    FROM agg
    """,
)
def q286_kendall_tau(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Kendall tau-b rank correlation between every pair of event-type
    daily-total series — the robust, tie-corrected companion to q123's
    Pearson r (outlier days move Pearson arbitrarily; tau counts order
    inversions). nc/nd = concordant/discordant day pairs, n1/n2 =
    pairs tied in x/y, tau_b = (nc-nd)/sqrt((n0-n1)(n0-n2)), NULL when
    a series is constant (denominator 0; try_divide/NULLIF on both
    engines).

    Exactness: daily totals reduce to exact integer cents (the q256
    convention), so every pair class is an exact BIGINT count; the
    single double expression divides identical integers before 6dp
    rounding.

    Scale: the event-scale work is ONE grouped aggregate to daily
    cents; the pairwise stage is days^2 per type pair — bounded by
    the calendar, not the corpus (30 days -> 435 pairs), so the
    self-join is dimension-scale at any SF."""
    daily = daily_cents(read_table(spark, sf_dir, "events"))
    joint = type_pair_joint(daily)
    p = joint.select(
        "type_a", "type_b", F.col("d").alias("dp"),
        F.col("xa").alias("pxa"), F.col("ya").alias("pya"),
    )
    q = joint.select(
        "type_a", "type_b", F.col("d").alias("dq"),
        F.col("xa").alias("qxa"), F.col("ya").alias("qya"),
    )
    dx = F.col("qxa") - F.col("pxa")
    dy = F.col("qya") - F.col("pya")
    pairs = p.join(q, ["type_a", "type_b"]).filter(
        F.col("dp") < F.col("dq")
    )
    agg = pairs.groupBy("type_a", "type_b").agg(
        F.count("*").alias("n0"),
        F.sum(F.when(dx * dy > 0, 1).otherwise(0)).cast("long").alias("nc"),
        F.sum(F.when(dx * dy < 0, 1).otherwise(0)).cast("long").alias("nd"),
        F.sum(F.when(dx == 0, 1).otherwise(0)).cast("long").alias("n1"),
        F.sum(F.when(dy == 0, 1).otherwise(0)).cast("long").alias("n2"),
    )
    n0, nc, nd = F.col("n0"), F.col("nc"), F.col("nd")
    return agg.select(
        "type_a", "type_b", "n0", "nc", "nd", "n1", "n2",
        F.round(
            F.try_divide(
                (nc - nd) * 1.0,
                F.sqrt((n0 - F.col("n1")) * 1.0 * (n0 - F.col("n2"))),
            ),
            6,
        ).alias("tau_b"),
    )


@query(
    "q282_chi2_independence",
    oracle="""
    WITH obs AS (SELECT event_type,
                        CAST((epoch_us(ts) // 86400000000) % 7 AS BIGINT)
                            AS dow,
                        CAST(COUNT(*) AS BIGINT) AS o
                 FROM events GROUP BY 1, 2),
         cells AS (SELECT t.event_type, d.dow,
                          CAST(COALESCE(obs.o, 0) AS BIGINT) AS o
                   FROM (SELECT DISTINCT event_type FROM obs) t
                   CROSS JOIN (SELECT DISTINCT dow FROM obs) d
                   LEFT JOIN obs ON obs.event_type = t.event_type
                                 AND obs.dow = d.dow),
         rows_t AS (SELECT event_type, CAST(SUM(o) AS BIGINT) AS rt,
                           COUNT(*) AS r_cells
                    FROM cells GROUP BY event_type),
         cols_t AS (SELECT dow, CAST(SUM(o) AS BIGINT) AS ct
                    FROM cells GROUP BY dow),
         tot AS (SELECT CAST(SUM(o) AS BIGINT) AS tt,
                        CAST(COUNT(DISTINCT event_type) AS BIGINT) AS nr,
                        CAST(COUNT(DISTINCT dow) AS BIGINT) AS nc
                 FROM cells),
         scored AS (SELECT c.event_type, c.dow, c.o, r.rt, k.ct, t.tt,
                           t.nr, t.nc,
                           CAST(c.o * t.tt - r.rt * k.ct AS BIGINT)
                               AS delta,
                           CAST(ROUND(1e6 * ((c.o * t.tt - r.rt * k.ct)
                                             * 1.0
                                             * (c.o * t.tt - r.rt * k.ct))
                                      / (r.rt * 1.0 * k.ct * t.tt))
                                AS BIGINT) AS chi2_units
                    FROM cells c
                    JOIN rows_t r ON c.event_type = r.event_type
                    JOIN cols_t k ON c.dow = k.dow
                    CROSS JOIN tot t),
         summed AS (SELECT *,
                           CAST(SUM(chi2_units) OVER () AS BIGINT)
                               AS chi2_total_units
                    FROM scored)
    SELECT event_type, dow, o AS observed,
           CAST(ROUND(1e6 * (rt * 1.0 * ct / tt)) AS BIGINT)
               AS expected_units,
           delta, chi2_units, chi2_total_units,
           CAST((nr - 1) * (nc - 1) AS BIGINT) AS dof,
           ROUND(sqrt((chi2_total_units / 1e6)
                      / (tt * 1.0 * LEAST(nr - 1, nc - 1))), 6)
               AS cramers_v
    FROM summed
    """,
)
def q282_chi2_independence(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chi-squared test of independence between event_type and
    day-of-week (day-number mod 7): per-cell observed count (over the
    FULL type x dow grid — structural zeros included, since a missing
    cell still owes its (O-E)^2/E = E term), expected count, and
    chi-squared contribution, plus the global statistic,
    degrees of freedom, and Cramer's V effect size — the categorical
    drift/seasonality readout next to q238's KS (continuous) and
    q230's Benford (digit) tests.

    Exactness: the per-cell deviation delta = O*T - R*C is an exact
    BIGINT (all counts), each cell's chi-squared contribution is ONE
    identical double expression in both engines frozen to integer
    1e-6 units before the (order-independent) integer total, and
    Cramer's V derives from that frozen total.

    Scale: one grouped count at event scale, then everything is
    |types| x 7 cells — the margins broadcast back onto the cell
    table; no second pass over events."""
    events = read_table(spark, sf_dir, "events")
    obs = events.groupBy(
        "event_type",
        ((F.unix_micros("ts") / F.lit(86_400_000_000)).cast("long") % 7)
        .cast("long")
        .alias("dow"),
    ).agg(F.count("*").alias("o"))
    # the <=|types| x 7 observed table is referenced three times (both
    # margin distincts + the grid join) and the grid four more (margins,
    # total, scored) — materialized so the event-scale count runs ONCE,
    # making the docstring's "no second pass over events" true in the
    # plan as well (r12, guide §3.3/§5)
    obs = maybe_local_checkpoint(obs)
    # full grid incl. structural zeros: a never-on-Tuesdays type still
    # owes its (O-E)^2/E = E term, and per-row deltas must sum to zero
    cells = maybe_local_checkpoint(
        obs.select("event_type")
        .distinct()
        .join(F.broadcast(obs.select("dow").distinct()))
        .join(obs, ["event_type", "dow"], "left")
        .select(
            "event_type",
            "dow",
            F.coalesce("o", F.lit(0)).cast("long").alias("o"),
        )
    )
    rows_t = cells.groupBy("event_type").agg(
        F.sum("o").cast("long").alias("rt")
    )
    cols_t = cells.groupBy("dow").agg(F.sum("o").cast("long").alias("ct"))
    tot = cells.agg(
        F.sum("o").cast("long").alias("tt"),
        F.countDistinct("event_type").cast("long").alias("nr"),
        F.countDistinct("dow").cast("long").alias("nc"),
    )
    delta = F.col("o") * F.col("tt") - F.col("rt") * F.col("ct")
    scored = (
        cells.join(rows_t, "event_type")
        .join(F.broadcast(cols_t), "dow")
        .join(F.broadcast(tot))
        .select(
            "event_type",
            "dow",
            "o",
            "rt",
            "ct",
            "tt",
            "nr",
            "nc",
            delta.cast("long").alias("delta"),
            F.round(
                F.lit(1e6)
                * (delta * 1.0 * delta)
                / (F.col("rt") * 1.0 * F.col("ct") * F.col("tt"))
            )
            .cast("long")
            .alias("chi2_units"),
        )
    )
    summed = scored.withColumn(
        "chi2_total_units",
        F.sum("chi2_units")
        .over(Window.rowsBetween(Window.unboundedPreceding,
                                 Window.unboundedFollowing))
        .cast("long"),
    )
    return summed.select(
        "event_type",
        "dow",
        F.col("o").alias("observed"),
        F.round(F.lit(1e6) * (F.col("rt") * 1.0 * F.col("ct") / F.col("tt")))
        .cast("long")
        .alias("expected_units"),
        "delta",
        "chi2_units",
        "chi2_total_units",
        ((F.col("nr") - 1) * (F.col("nc") - 1)).cast("long").alias("dof"),
        F.round(
            F.sqrt(
                (F.col("chi2_total_units") / F.lit(1e6))
                / (F.col("tt") * 1.0
                   * F.least(F.col("nr") - 1, F.col("nc") - 1))
            ),
            6,
        ).alias("cramers_v"),
    )


# Sign-test window cap: the trailing-delta count is bounded so the exact
# binomial tail arithmetic stays in BIGINT (2^n and p_num*20*m must not
# overflow; 40 < 62 leaves headroom) — the test is "trend over the last
# ~6 weeks", not "since the epoch", at any corpus scale.
_SIGN_TEST_MAX_N = 40


def _binom_cum_rows(max_n: int) -> list[tuple[int, int, int, int, int]]:
    """(n, k, cle, cleprev, tot) for n in 1..max_n, k in 0..n, where
    cle = sum_{i<=k} C(n,i), cleprev = cle(k-1), tot = 2^n — the exact
    integer binomial tail table (multiplicative recurrence, always
    divides exactly). max_n=40 -> 860 rows of BIGINTs <= 2^40, the
    bounded driver-side state the Spark plan broadcasts."""
    rows = []
    for n in range(1, max_n + 1):
        c = 1
        cums = []
        cum = 0
        for k in range(0, n + 1):
            if k > 0:
                c = c * (n - k + 1) // k
            cum += c
            cums.append(cum)
        for k in range(0, n + 1):
            rows.append((n, k, cums[k], cums[k - 1] if k > 0 else 0,
                         cums[n]))
    return rows


@query(
    "q281_bh_fdr",
    oracle=f"""
    WITH RECURSIVE
         {_DUCK_DAILY_CENTS},
         delt AS (SELECT event_type, d,
                         cents - LAG(cents) OVER (PARTITION BY event_type
                                                  ORDER BY d) AS delta
                  FROM daily),
         nz AS (SELECT event_type, delta,
                       ROW_NUMBER() OVER (PARTITION BY event_type
                                          ORDER BY d DESC) AS rn
                FROM delt WHERE delta IS NOT NULL AND delta <> 0),
         stats AS (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n,
                          CAST(SUM(CASE WHEN delta > 0 THEN 1 ELSE 0 END)
                               AS BIGINT) AS k
                   FROM nz WHERE rn <= {_SIGN_TEST_MAX_N}
                   GROUP BY event_type),
         ns AS (SELECT DISTINCT n FROM stats),
         binom(n, k, c) AS (
             SELECT n, CAST(0 AS BIGINT) AS k, CAST(1 AS BIGINT) AS c
             FROM ns
             UNION ALL
             SELECT n, k + 1, c * (n - k) // (k + 1)
             FROM binom WHERE k < n),
         cum AS (SELECT n, k,
                        CAST(SUM(c) OVER (PARTITION BY n ORDER BY k)
                             AS BIGINT) AS cle
                 FROM binom),
         wtot AS (SELECT n, k, cle,
                         CAST(COALESCE(LAG(cle) OVER (PARTITION BY n
                                                      ORDER BY k), 0)
                              AS BIGINT) AS cleprev,
                         CAST(MAX(cle) OVER (PARTITION BY n) AS BIGINT)
                             AS tot
                  FROM cum),
         joined AS (SELECT s.event_type, s.n, s.k,
                           CAST(LEAST(w.tot,
                                      2 * LEAST(w.cle, w.tot - w.cleprev))
                                AS BIGINT) AS p_num,
                           w.tot
                    FROM stats s JOIN wtot w ON s.n = w.n AND s.k = w.k),
         ranked AS (SELECT j.*,
                           CAST(COUNT(*) OVER () AS BIGINT) AS m,
                           ROW_NUMBER() OVER (ORDER BY j.p_num * 1.0
                                                       / j.tot,
                                              j.event_type) AS i
                    FROM joined j),
         crit AS (SELECT ranked.*,
                         MAX(CASE WHEN p_num * 20 * m <= i * tot
                                  THEN i END) OVER () AS i_max
                  FROM ranked)
    SELECT event_type, n, k AS k_pos, p_num, tot AS p_den,
           ROUND(p_num * 1.0 / tot, 6) AS p_value,
           CAST(i AS BIGINT) AS bh_rank, m AS n_tests,
           CAST(CASE WHEN i_max IS NOT NULL AND i <= i_max
                     THEN 1 ELSE 0 END AS INT) AS rejected
    FROM crit
    """,
)
def q281_bh_fdr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiple-testing control: an EXACT two-sided sign test per
    event_type (is the daily total drifting?) with Benjamini-Hochberg
    FDR selection across the family of tests at alpha = 0.05 — the
    many-metrics dashboard answer to q189/q279's single-comparison
    readouts (testing every metric at 0.05 individually inflates the
    false-alarm rate; BH caps the expected false-discovery fraction).

    Exactness, end to end: daily totals are exact cents; deltas and
    their signs are exact; the binomial tail p-value is an exact
    rational p_num/2^n (both BIGINT; two-sided = min(1, 2*min(tails)));
    and the BH acceptance test p_(i) <= i*alpha/m is evaluated as the
    cross-multiplied INTEGER inequality p_num*20*m <= i*2^n — no
    floating comparison decides anything. The trailing-window cap
    (_SIGN_TEST_MAX_N = 40 deltas) keeps 2^n in range; the emitted
    p_value is the exact rational rendered at 6dp.

    Scale: events reduce to |types| x |days| in one grouped aggregate;
    the binomial table is 860 precomputed rows broadcast to the (tiny)
    stats table; BH ranks |types| rows. The Spark side ships the table
    from the driver (bounded state); the oracle derives the SAME table
    via a recursive CTE on the multiplicative recurrence
    C(n,k+1) = C(n,k)*(n-k)/(k+1), which divides exactly."""
    daily = daily_cents(read_table(spark, sf_dir, "events"))
    wd = Window.partitionBy("event_type").orderBy("d")
    delt = daily.withColumn(
        "delta", F.col("cents") - F.lag("cents").over(wd)
    ).filter(F.col("delta").isNotNull() & (F.col("delta") != 0))
    wrev = Window.partitionBy("event_type").orderBy(F.desc("d"))
    nz = delt.withColumn("rn", F.row_number().over(wrev)).filter(
        F.col("rn") <= _SIGN_TEST_MAX_N
    )
    stats = nz.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n"),
        F.sum(F.when(F.col("delta") > 0, 1).otherwise(0))
        .cast("long")
        .alias("k"),
    )
    binom = spark.createDataFrame(
        _binom_cum_rows(_SIGN_TEST_MAX_N),
        "n long, k long, cle long, cleprev long, tot long",
    )
    joined = stats.join(F.broadcast(binom), ["n", "k"]).select(
        "event_type",
        "n",
        "k",
        F.least(
            F.col("tot"),
            2 * F.least(F.col("cle"), F.col("tot") - F.col("cleprev")),
        )
        .cast("long")
        .alias("p_num"),
        "tot",
    )
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    ranked = joined.select(
        "*",
        F.count("*").over(wall).cast("long").alias("m"),
        F.row_number()
        .over(Window.orderBy(F.col("p_num") * 1.0 / F.col("tot"),
                             "event_type"))
        .alias("i"),
    )
    crit = ranked.withColumn(
        "i_max",
        F.max(
            F.when(
                F.col("p_num") * 20 * F.col("m")
                <= F.col("i") * F.col("tot"),
                F.col("i"),
            )
        ).over(wall),
    )
    return crit.select(
        "event_type",
        "n",
        F.col("k").alias("k_pos"),
        "p_num",
        F.col("tot").alias("p_den"),
        F.round(F.col("p_num") * 1.0 / F.col("tot"), 6).alias("p_value"),
        F.col("i").cast("long").alias("bh_rank"),
        F.col("m").alias("n_tests"),
        F.when(
            F.col("i_max").isNotNull() & (F.col("i") <= F.col("i_max")), 1
        )
        .otherwise(0)
        .cast("int")
        .alias("rejected"),
    )


# q288 split-finder bin count: equal-frequency bins over the score, the
# XGBoost-style histogram resolution. 64 keeps the candidate-split table
# dimension-scale while the corpus-scale work stays in ONE ntile pass.
_SPLIT_BINS = 64


@query(
    "q288_gbdt_split",
    oracle=f"""
    WITH scored AS (SELECT event_id, value,
                           CASE WHEN event_type = 'purchase' THEN 1 ELSE 0
                           END AS y
                    FROM events),
         binned AS (SELECT y, value,
                           NTILE({_SPLIT_BINS})
                               OVER (ORDER BY value, event_id) AS bin
                    FROM scored),
         per AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(y) AS BIGINT) AS pos,
                        MAX(value) AS thr
                 FROM binned GROUP BY bin),
         cum AS (SELECT bin, thr,
                        CAST(SUM(pos) OVER (ORDER BY bin) AS BIGINT) AS lp,
                        CAST(SUM(n - pos) OVER (ORDER BY bin) AS BIGINT)
                            AS lnn,
                        CAST(SUM(pos) OVER () AS BIGINT) AS tp,
                        CAST(SUM(n - pos) OVER () AS BIGINT) AS tn,
                        MAX(bin) OVER () AS maxbin
                 FROM per),
         gains AS (SELECT bin, thr, lp, lnn,
                          tp - lp AS rp, tn - lnn AS rn,
                          CAST(ROUND(1e9 * (
                              (1.0 - (tp * 1.0 * tp + tn * 1.0 * tn)
                                     / ((tp + tn) * 1.0 * (tp + tn)))
                              - ((lp + lnn) * 1.0 / (tp + tn))
                                * (1.0 - (lp * 1.0 * lp + lnn * 1.0 * lnn)
                                         / ((lp + lnn) * 1.0 * (lp + lnn)))
                              - ((tp - lp + tn - lnn) * 1.0 / (tp + tn))
                                * (1.0 - ((tp - lp) * 1.0 * (tp - lp)
                                          + (tn - lnn) * 1.0 * (tn - lnn))
                                         / ((tp - lp + tn - lnn) * 1.0
                                            * (tp - lp + tn - lnn)))))
                               AS BIGINT) AS gain_units
                   FROM cum WHERE bin < maxbin)
    SELECT bin, ROUND(thr, 6) AS threshold, lp, lnn AS ln_, rp, rn,
           gain_units,
           CAST(ROW_NUMBER() OVER (ORDER BY gain_units DESC, bin) AS INT)
               AS split_rank
    FROM gains
    """,
)
def q288_gbdt_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Histogram-based decision-stump split finder — the inner loop of
    every distributed GBDT trainer (XGBoost/LightGBM 'hist' mode):
    bucket the feature (event value) into 64 equal-frequency bins in
    ONE pass, reduce to per-bin (count, positives, boundary), then
    score every candidate split 'left = bins 1..i' by exact Gini
    impurity decrease from the cumulative counts. The corpus never
    materializes per-split partitions — 63 candidate splits are
    evaluated from one 64-row table, which is precisely why the
    histogram trick wins at scale.

    Exactness: bin assignment is NTILE over the unique (value,
    event_id) order; all class counts are exact BIGINTs; the Gini
    gain is ONE identical double expression over those integers
    frozen to 1e-9 units; split_rank breaks gain ties by bin.

    Scale: one event-scale ntile (per-shard rank + offset merge in
    production, the q113 pattern), one grouped aggregate, then
    64-row windows."""
    events = read_table(spark, sf_dir, "events")
    scored = events.select(
        "event_id",
        "value",
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .cast("long")
        .alias("y"),
    )
    binned = scored.select(
        "y",
        "value",
        F.ntile(_SPLIT_BINS)
        .over(Window.orderBy("value", "event_id"))
        .cast("long")
        .alias("bin"),
    )
    per = binned.groupBy("bin").agg(
        F.count("*").alias("n"),
        F.sum("y").cast("long").alias("pos"),
        F.max("value").alias("thr"),
    )
    wcum = Window.orderBy("bin").rowsBetween(Window.unboundedPreceding, 0)
    wall = Window.rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    # exclude the LAST OCCUPIED bin, not bin 64: with < 64 occupied
    # bins the full-left "split" has an empty right child (0/0 Gini)
    cum = per.select(
        "bin",
        "thr",
        F.sum("pos").over(wcum).cast("long").alias("lp"),
        F.sum(F.col("n") - F.col("pos")).over(wcum).cast("long").alias(
            "lnn"
        ),
        F.sum("pos").over(wall).cast("long").alias("tp"),
        F.sum(F.col("n") - F.col("pos")).over(wall).cast("long").alias(
            "tn"
        ),
        F.max("bin").over(wall).alias("maxbin"),
    ).filter(F.col("bin") < F.col("maxbin"))
    tp, tn = F.col("tp"), F.col("tn")
    lp, lnn = F.col("lp"), F.col("lnn")
    rp, rn = tp - lp, tn - lnn
    g_parent = 1.0 - (tp * 1.0 * tp + tn * 1.0 * tn) / (
        (tp + tn) * 1.0 * (tp + tn)
    )
    g_left = 1.0 - (lp * 1.0 * lp + lnn * 1.0 * lnn) / (
        (lp + lnn) * 1.0 * (lp + lnn)
    )
    g_right = 1.0 - (rp * 1.0 * rp + rn * 1.0 * rn) / (
        (rp + rn) * 1.0 * (rp + rn)
    )
    gain = (
        g_parent
        - ((lp + lnn) * 1.0 / (tp + tn)) * g_left
        - ((rp + rn) * 1.0 / (tp + tn)) * g_right
    )
    gains = cum.select(
        "bin",
        F.round("thr", 6).alias("threshold"),
        "lp",
        F.col("lnn").alias("ln_"),
        rp.cast("long").alias("rp"),
        rn.cast("long").alias("rn"),
        F.round(F.lit(1e9) * gain).cast("long").alias("gain_units"),
    )
    return gains.select(
        "*",
        F.row_number()
        .over(Window.orderBy(F.desc("gain_units"), "bin"))
        .cast("int")
        .alias("split_rank"),
    )


# q289 permutation count: 200 deterministic md5-keyed relabelings per
# type pair. Resolution floor of the p-value is 1/(B+1) ~ 0.005 — the
# standard exact-test budget; the pool is calendar-bounded so B scales
# the work linearly on a dimension-sized table, never on the corpus.
_PERM_B = 200


@query(
    "q289_permutation_test",
    oracle=f"""
    WITH {_DUCK_DAILY_CENTS},
         types AS (SELECT DISTINCT event_type FROM daily),
         prs AS (SELECT a.event_type AS ta, b.event_type AS tb
                 FROM types a JOIN types b
                   ON a.event_type < b.event_type),
         pool AS (SELECT p.ta, p.tb, d.event_type, d.d, d.cents
                  FROM prs p JOIN daily d ON d.event_type = p.ta
                  UNION ALL
                  SELECT p.ta, p.tb, d.event_type, d.d, d.cents
                  FROM prs p JOIN daily d ON d.event_type = p.tb),
         obs AS (SELECT ta, tb,
                        CAST(SUM(CASE WHEN event_type = ta THEN 1
                                 ELSE 0 END) AS BIGINT) AS na,
                        CAST(SUM(CASE WHEN event_type = tb THEN 1
                                 ELSE 0 END) AS BIGINT) AS nb,
                        CAST(SUM(cents) AS BIGINT) AS total,
                        CAST(SUM(CASE WHEN event_type = ta THEN cents
                                 ELSE 0 END) AS BIGINT) AS t_obs
                 FROM pool GROUP BY ta, tb),
         perms AS (SELECT pool.*, g.b,
                          md5(CAST(g.b AS VARCHAR) || ':' || event_type
                              || ':' || CAST(d AS VARCHAR)) AS k
                   FROM pool, generate_series(1, {_PERM_B}) g(b)),
         ranked AS (SELECT ta, tb, b, cents,
                           ROW_NUMBER() OVER (PARTITION BY ta, tb, b
                                              ORDER BY k, event_type, d)
                               AS rn
                    FROM perms),
         tb_sums AS (SELECT r.ta, r.tb, r.b,
                            CAST(SUM(CASE WHEN r.rn <= o.na THEN r.cents
                                     ELSE 0 END) AS BIGINT) AS t_b
                     FROM ranked r JOIN obs o
                       ON o.ta = r.ta AND o.tb = r.tb
                     GROUP BY r.ta, r.tb, r.b),
         ext AS (SELECT o.ta, o.tb, o.na, o.nb, o.t_obs,
                        CAST(SUM(CASE WHEN
                                 abs(s.t_b * (o.na + o.nb)
                                     - o.na * o.total)
                                 >= abs(o.t_obs * (o.na + o.nb)
                                        - o.na * o.total)
                                 THEN 1 ELSE 0 END) AS BIGINT)
                            AS n_extreme
                 FROM obs o JOIN tb_sums s
                   ON s.ta = o.ta AND s.tb = o.tb
                 GROUP BY o.ta, o.tb, o.na, o.nb, o.t_obs)
    SELECT ta AS type_a, tb AS type_b, na, nb, t_obs, n_extreme,
           CAST(ROUND(1e6 * (1 + n_extreme) * 1.0 / (1 + {_PERM_B}))
                AS BIGINT) AS p_units
    FROM ext
    """,
)
def q289_permutation_test(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT two-sample permutation test between every pair of
    event-type daily-total series — the assumption-free significance
    readout next to q279's rank test and q281's sign test: does type
    A's daily spend differ from type B's beyond relabeling noise?
    B = 200 DETERMINISTIC permutations (rank the pooled days by
    md5(b:type:day) and hand the first n_a to group A — both engines
    derive the identical relabelings, so the Monte-Carlo test becomes
    a reproducible artifact), statistic = group-A sum of exact daily
    cents, two-sided extremeness decided by the cross-multiplied
    INTEGER inequality |T_b*(na+nb) - na*total| >= |T_obs*(...)| —
    no floating comparison anywhere; p = (1+n_extreme)/(B+1) in 1e-6
    units (the add-one estimator that keeps p > 0).

    Scale: events reduce to |types| x |days| once (the q256/q281
    convention); the permutation table is pairs x pool x B —
    calendar-bounded dimensions, never corpus rows — and each
    permutation is one 60-row window partition."""
    # |types| x |days| waist over the corpus-scale events aggregate,
    # referenced by types + both pool legs (and via obs twice more) —
    # localCheckpointed (r12) so events reduce exactly once instead of
    # the plan re-scanning the corpus per reference (guide §3.3/§5)
    daily = daily_cents(read_table(spark, sf_dir, "events")).transform(maybe_local_checkpoint)
    types = daily.select("event_type").distinct()
    prs = (
        types.select(F.col("event_type").alias("ta"))
        .join(types.select(F.col("event_type").alias("tb")))
        .filter(F.col("ta") < F.col("tb"))
    )
    pool = prs.join(
        daily, F.col("event_type") == F.col("ta")
    ).unionByName(prs.join(daily, F.col("event_type") == F.col("tb")))
    obs = pool.groupBy("ta", "tb").agg(
        F.sum(F.when(F.col("event_type") == F.col("ta"), 1).otherwise(0))
        .cast("long")
        .alias("na"),
        F.sum(F.when(F.col("event_type") == F.col("tb"), 1).otherwise(0))
        .cast("long")
        .alias("nb"),
        F.sum("cents").cast("long").alias("total"),
        F.sum(
            F.when(F.col("event_type") == F.col("ta"), F.col("cents"))
            .otherwise(0)
        )
        .cast("long")
        .alias("t_obs"),
    )
    perms = pool.select(
        "ta",
        "tb",
        "event_type",
        "d",
        "cents",
        F.explode(F.sequence(F.lit(1), F.lit(_PERM_B))).alias("b"),
    ).withColumn(
        "k",
        F.md5(
            F.concat_ws(
                ":",
                F.col("b").cast("string"),
                F.col("event_type"),
                F.col("d").cast("string"),
            )
        ),
    )
    wp = Window.partitionBy("ta", "tb", "b").orderBy(
        "k", "event_type", "d"
    )
    ranked = perms.withColumn("rn", F.row_number().over(wp))
    tb_sums = (
        ranked.join(F.broadcast(obs), ["ta", "tb"])
        .groupBy("ta", "tb", "b")
        .agg(
            F.sum(
                F.when(F.col("rn") <= F.col("na"), F.col("cents"))
                .otherwise(0)
            )
            .cast("long")
            .alias("t_b")
        )
    )
    ext = (
        tb_sums.join(F.broadcast(obs), ["ta", "tb"])
        .groupBy("ta", "tb", "na", "nb", "t_obs")
        .agg(
            F.sum(
                F.when(
                    F.abs(
                        F.col("t_b") * (F.col("na") + F.col("nb"))
                        - F.col("na") * F.col("total")
                    )
                    >= F.abs(
                        F.col("t_obs") * (F.col("na") + F.col("nb"))
                        - F.col("na") * F.col("total")
                    ),
                    1,
                ).otherwise(0)
            )
            .cast("long")
            .alias("n_extreme")
        )
    )
    return ext.select(
        F.col("ta").alias("type_a"),
        F.col("tb").alias("type_b"),
        "na",
        "nb",
        "t_obs",
        "n_extreme",
        F.round(
            F.lit(1e6) * (1 + F.col("n_extreme")) * 1.0 / (1 + _PERM_B)
        )
        .cast("long")
        .alias("p_units"),
    )


# q290's report depth (the sketch geometry itself lives in
# hive_reflex_spark.functions so the streaming twin's oracle can build
# WITHOUT importing the operators package at module-import time — an
# import-time cycle there silently re-ordered the registry when
# streaming.ops was imported first).
_CS_TOP = 10

from hive_reflex_spark.functions import (  # noqa: E402
    _CS_BUCKETS,
    _CS_MID,
    _CS_ROWS,
    _CS_ROWS_VALUES,
    _cs_keyed_sql,
    cs_keyed,
)
@query(
    "q290_count_sketch",
    oracle=f"""
    WITH f AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) AS f_true
               FROM events GROUP BY user_id),
         rows_j AS (SELECT CAST(j AS BIGINT) AS j
                    FROM (VALUES {_CS_ROWS_VALUES}) t(j)),
         keyed AS (SELECT f.user_id, f.f_true, rows_j.j,
                          {_cs_keyed_sql("f.user_id")}
                   FROM f, rows_j),
         grid AS (SELECT j, bucket,
                         CAST(SUM(sgn * f_true) AS BIGINT) AS c
                  FROM keyed GROUP BY j, bucket),
         top AS (SELECT user_id, f_true
                 FROM f ORDER BY f_true DESC, user_id
                 LIMIT {_CS_TOP}),
         ests AS (SELECT t.user_id, t.f_true,
                         k.sgn * g.c AS est,
                         ROW_NUMBER() OVER (PARTITION BY t.user_id
                                            ORDER BY k.sgn * g.c, k.j)
                             AS rn
                  FROM top t
                  JOIN keyed k ON k.user_id = t.user_id
                  JOIN grid g ON g.j = k.j AND g.bucket = k.bucket)
    SELECT user_id, f_true,
           CAST(SUM(CASE WHEN rn IN {_CS_MID} THEN est ELSE 0 END)
                AS BIGINT) AS est2x,
           CAST(SUM(CASE WHEN rn IN {_CS_MID} THEN est ELSE 0 END)
                - 2 * f_true AS BIGINT) AS err2x
    FROM ests GROUP BY user_id, f_true
    """,
)
def q290_count_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CountSketch (Charikar-Chen-Farach-Colton 2002) over per-user
    event counts: 4 x 16 SIGNED counters — the UNBIASED, turnstile
    (deletion-tolerant) member of the frequency-sketch family, next
    to q114's CMS (overestimate-only bound) and q266's TPUT
    (worst-case bounds). Each row hashes users to a bucket and a
    +/-1 sign; colliding keys cancel in expectation instead of
    inflating, and the row estimates' MEDIAN kills outlier rows.
    Report: the top-10 true-heaviest users with their estimates.

    Exactness: the grid is ONE grouped integer aggregate (signed
    counts — fully mergeable/order-independent); the median of 4 row
    estimates is emitted as est2x = the exact-integer sum of the two
    middle order statistics (2*median, avoiding the .5), so every
    output cell is a BIGINT.

    Scale: events reduce to per-user counts once; the expansion is
    x4 on the USER table, not on events; the sketch itself is 64
    integers — broadcastable state, the same shape q121 maintains
    by stream."""
    events = read_table(spark, sf_dir, "events")
    f = events.groupBy("user_id").agg(
        F.count("*").cast("long").alias("f_true")
    )
    keyed = cs_keyed(f)
    grid = keyed.groupBy("j", "bucket").agg(
        F.sum(F.col("sgn") * F.col("f_true")).cast("long").alias("c")
    )
    top = f.orderBy(F.desc("f_true"), "user_id").limit(_CS_TOP)
    ests = (
        F.broadcast(top)
        .join(keyed, ["user_id", "f_true"])
        .join(F.broadcast(grid), ["j", "bucket"])
        .select(
            "user_id",
            "f_true",
            (F.col("sgn") * F.col("c")).alias("est"),
            F.row_number()
            .over(
                Window.partitionBy("user_id").orderBy(
                    F.col("sgn") * F.col("c"), "j"
                )
            )
            .alias("rn"),
        )
    )
    mid = F.sum(
        F.when(F.col("rn").isin(*_CS_MID), F.col("est")).otherwise(0)
    ).cast("long")
    return ests.groupBy("user_id", "f_true").agg(
        mid.alias("est2x"),
        (mid - 2 * F.col("f_true")).cast("long").alias("err2x"),
    )


@query(
    "q291_brier_decomposition",
    oracle="""
    WITH scored AS (SELECT event_id,
                           CAST(ROUND(value * 100) AS BIGINT) AS cents,
                           CASE WHEN event_type = 'purchase' THEN 1
                                ELSE 0 END AS y
                    FROM events),
         bounds AS (SELECT CAST(MIN(cents) AS BIGINT) AS mn,
                           CAST(MAX(cents) AS BIGINT) AS mx,
                           CAST(COUNT(*) AS BIGINT) AS n_all,
                           CAST(SUM(y) AS BIGINT) AS p_all
                    FROM scored),
         binned AS (SELECT y, cents,
                           NTILE(10) OVER (ORDER BY cents, event_id)
                               AS bin
                    FROM scored),
         per AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n,
                        CAST(SUM(y) AS BIGINT) AS pos,
                        CAST(SUM(cents) AS BIGINT) AS sc
                 FROM binned GROUP BY bin),
         terms AS (SELECT per.bin, per.n, per.pos,
                          (per.sc - per.n * b.mn) * 1.0
                              / (per.n * 1.0 * (b.mx - b.mn)) AS fbar,
                          per.pos * 1.0 / per.n AS ybar,
                          b.n_all, b.p_all,
                          CAST(ROUND(1e9 * per.n
                               * ((per.sc - per.n * b.mn) * 1.0
                                  / (per.n * 1.0 * (b.mx - b.mn))
                                  - per.pos * 1.0 / per.n)
                               * ((per.sc - per.n * b.mn) * 1.0
                                  / (per.n * 1.0 * (b.mx - b.mn))
                                  - per.pos * 1.0 / per.n)
                               / b.n_all) AS BIGINT) AS rel_units_k,
                          CAST(ROUND(1e9 * per.n
                               * (per.pos * 1.0 / per.n
                                  - b.p_all * 1.0 / b.n_all)
                               * (per.pos * 1.0 / per.n
                                  - b.p_all * 1.0 / b.n_all)
                               / b.n_all) AS BIGINT) AS res_units_k
                   FROM per, bounds b),
         tot AS (SELECT CAST(SUM(rel_units_k) AS BIGINT) AS rel_units,
                        CAST(SUM(res_units_k) AS BIGINT) AS res_units,
                        CAST(ROUND(1e9 * (MAX(p_all) * 1.0 / MAX(n_all))
                             * (1.0 - MAX(p_all) * 1.0 / MAX(n_all)))
                             AS BIGINT) AS unc_units
                 FROM terms)
    SELECT t.bin, t.n, t.pos,
           ROUND(t.fbar, 6) AS fbar, ROUND(t.ybar, 6) AS ybar,
           t.rel_units_k, t.res_units_k,
           tot.rel_units, tot.res_units, tot.unc_units,
           CAST(tot.rel_units - tot.res_units + tot.unc_units AS BIGINT)
               AS brier_units
    FROM terms t, tot
    """,
)
def q291_brier_decomposition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Murphy decomposition of the Brier score for the binned forecast
    (score deciles as forecast bins, forecast = bin-mean normalized
    score): BRIER = RELIABILITY - RESOLUTION + UNCERTAINTY. The
    proper-scoring-rule companion to q235's ECE: reliability is the
    calibration error ECE squares, resolution is what ECE cannot see
    (how much the forecast separates outcomes — a useless
    always-say-base-rate forecast is perfectly calibrated), and
    uncertainty ybar(1-ybar) is the floor no forecaster beats.
    Per-bin rows carry each bin's contribution; the identity holds
    EXACTLY by construction since the forecast is constant within
    bins (the binned-forecast form of the decomposition).

    Exactness: bins via NTILE over the unique (cents, event_id)
    order; every bin moment is an exact BIGINT (counts, positives,
    cent sums); each component term is ONE identical double
    expression over those integers frozen to 1e-9 units before the
    integer total; brier_units derives from the three integer
    totals.

    Scale: one event-scale ntile + one grouped aggregate; everything
    after is a 10-row frame with a broadcast 1-row bounds table."""
    events = read_table(spark, sf_dir, "events")
    scored = events.select(
        "event_id",
        F.round(F.col("value") * 100).cast("long").alias("cents"),
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .cast("long")
        .alias("y"),
    )
    bounds = scored.agg(
        F.min("cents").cast("long").alias("mn"),
        F.max("cents").cast("long").alias("mx"),
        F.count("*").cast("long").alias("n_all"),
        F.sum("y").cast("long").alias("p_all"),
    )
    binned = scored.select(
        "y",
        "cents",
        F.ntile(10)
        .over(Window.orderBy("cents", "event_id"))
        .cast("long")
        .alias("bin"),
    )
    per = binned.groupBy("bin").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("y").cast("long").alias("pos"),
        F.sum("cents").cast("long").alias("sc"),
    )
    fbar = (F.col("sc") - F.col("n") * F.col("mn")) * 1.0 / (
        F.col("n") * 1.0 * (F.col("mx") - F.col("mn"))
    )
    ybar = F.col("pos") * 1.0 / F.col("n")
    ybar_all = F.col("p_all") * 1.0 / F.col("n_all")
    terms = per.join(F.broadcast(bounds)).select(
        "bin",
        "n",
        "pos",
        fbar.alias("fbar"),
        ybar.alias("ybar"),
        "n_all",
        "p_all",
        F.round(
            F.lit(1e9)
            * F.col("n")
            * (fbar - ybar)
            * (fbar - ybar)
            / F.col("n_all")
        )
        .cast("long")
        .alias("rel_units_k"),
        F.round(
            F.lit(1e9)
            * F.col("n")
            * (ybar - ybar_all)
            * (ybar - ybar_all)
            / F.col("n_all")
        )
        .cast("long")
        .alias("res_units_k"),
    )
    tot = terms.agg(
        F.sum("rel_units_k").cast("long").alias("rel_units"),
        F.sum("res_units_k").cast("long").alias("res_units"),
        F.round(
            F.lit(1e9)
            * (F.max("p_all") * 1.0 / F.max("n_all"))
            * (1.0 - F.max("p_all") * 1.0 / F.max("n_all"))
        )
        .cast("long")
        .alias("unc_units"),
    )
    return terms.join(F.broadcast(tot)).select(
        "bin",
        "n",
        "pos",
        F.round("fbar", 6).alias("fbar"),
        F.round("ybar", 6).alias("ybar"),
        "rel_units_k",
        "res_units_k",
        "rel_units",
        "res_units",
        "unc_units",
        (F.col("rel_units") - F.col("res_units") + F.col("unc_units"))
        .cast("long")
        .alias("brier_units"),
    )


# q293 period split: the first _CUPED_PRE_DAYS days of the window are the
# pre-experiment covariate period, the rest is the measured period.
_CUPED_PRE_DAYS = 15


@query(
    "q293_cuped_adjustment",
    oracle=f"""
    WITH ev AS (SELECT user_id,
                       CAST(epoch_us(ts) // 86400000000 AS BIGINT) AS d,
                       CAST(ROUND(value * 100) AS BIGINT) AS cents
                FROM events),
         d0 AS (SELECT CAST(MIN(d) AS BIGINT) AS mind FROM ev),
         per_user AS (SELECT user_id,
                             CAST(SUM(CASE WHEN d - d0.mind
                                                < {_CUPED_PRE_DAYS}
                                      THEN cents ELSE 0 END) AS BIGINT)
                                 AS x,
                             CAST(SUM(CASE WHEN d - d0.mind
                                                >= {_CUPED_PRE_DAYS}
                                      THEN cents ELSE 0 END) AS BIGINT)
                                 AS y,
                             user_id % 2 AS arm
                      FROM ev, d0 GROUP BY user_id),
         m AS (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(x) AS BIGINT) AS sx,
                      CAST(SUM(y) AS BIGINT) AS sy,
                      CAST(SUM(x * y) AS BIGINT) AS sxy,
                      CAST(SUM(x * x) AS BIGINT) AS sxx,
                      CAST(SUM(y * y) AS BIGINT) AS syy,
                      CAST(SUM(CASE WHEN arm = 0 THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_a,
                      CAST(SUM(CASE WHEN arm = 0 THEN x ELSE 0 END)
                           AS BIGINT) AS sx_a,
                      CAST(SUM(CASE WHEN arm = 0 THEN y ELSE 0 END)
                           AS BIGINT) AS sy_a,
                      CAST(SUM(CASE WHEN arm = 1 THEN 1 ELSE 0 END)
                           AS BIGINT) AS n_b,
                      CAST(SUM(CASE WHEN arm = 1 THEN x ELSE 0 END)
                           AS BIGINT) AS sx_b,
                      CAST(SUM(CASE WHEN arm = 1 THEN y ELSE 0 END)
                           AS BIGINT) AS sy_b
               FROM per_user)
    SELECT n AS n_users, n_a, n_b,
           ROUND((n * sxy - sx * sy) * 1.0
                 / NULLIF(n * sxx - sx * sx, 0), 6) AS theta,
           ROUND(sy_b * 1.0 / n_b - sy_a * 1.0 / n_a, 6) AS raw_lift,
           ROUND((sy_b * 1.0 / n_b - sy_a * 1.0 / n_a)
                 - ((n * sxy - sx * sy) * 1.0
                    / NULLIF(n * sxx - sx * sx, 0))
                   * (sx_b * 1.0 / n_b - sx_a * 1.0 / n_a), 6)
               AS adj_lift,
           ROUND(((n * sxy - sx * sy) * 1.0 * (n * sxy - sx * sy))
                 / NULLIF((n * sxx - sx * sx) * 1.0
                          * (n * syy - sy * sy), 0), 6)
               AS rho2
    FROM m
    """,
)
def q293_cuped_adjustment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUPED variance reduction (Deng et al. 2013) for the q189-style
    parity-arm experiment: per-user pre-period spend (first 15 days)
    as the covariate X, measured-period spend as the metric Y,
    theta = cov(X,Y)/var(X) from pooled exact moments, and the
    adjusted lift diff(Y) - theta*diff(X) — the industry-standard
    trick that removes the user-level variance the covariate
    explains (rho^2 of it, reported), so the same experiment reaches
    significance with ~1/(1-rho^2) times less traffic. Pre-period
    data cannot be affected by the treatment, so the adjustment is
    unbiased by construction.

    Exactness: per-user X/Y are exact BIGINT cents; all five pooled
    moments and the six per-arm sums are exact BIGINTs in ONE
    aggregate; theta, lifts and rho^2 are identical double
    expressions over them at 6dp. (Cross-moments of per-user cents
    fit BIGINT at fixture scales; the production swap at petabyte
    per-user magnitudes is DECIMAL(38) moments, same shape.)

    Scale: one event-scale grouped aggregate to per-user rows, one
    1-row moment reduction — the q128/q123 exact-moment pattern
    applied to experimentation."""
    events = read_table(spark, sf_dir, "events")
    ev = events.select(
        "user_id",
        (F.unix_micros("ts") / F.lit(86_400_000_000))
        .cast("long")
        .alias("d"),
        F.round(F.col("value") * 100).cast("long").alias("cents"),
    )
    d0 = ev.agg(F.min("d").cast("long").alias("mind"))
    pre = F.col("d") - F.col("mind") < _CUPED_PRE_DAYS
    per_user = (
        ev.join(F.broadcast(d0))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(pre, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("x"),
            F.sum(F.when(~pre, F.col("cents")).otherwise(0))
            .cast("long")
            .alias("y"),
        )
        .withColumn("arm", F.col("user_id") % 2)
    )
    arm_a = F.col("arm") == 0
    m = per_user.agg(
        F.count("*").cast("long").alias("n"),
        F.sum("x").cast("long").alias("sx"),
        F.sum("y").cast("long").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("long").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("long").alias("syy"),
        F.sum(F.when(arm_a, 1).otherwise(0)).cast("long").alias("n_a"),
        F.sum(F.when(arm_a, F.col("x")).otherwise(0))
        .cast("long")
        .alias("sx_a"),
        F.sum(F.when(arm_a, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sy_a"),
        F.sum(F.when(~arm_a, 1).otherwise(0)).cast("long").alias("n_b"),
        F.sum(F.when(~arm_a, F.col("x")).otherwise(0))
        .cast("long")
        .alias("sx_b"),
        F.sum(F.when(~arm_a, F.col("y")).otherwise(0))
        .cast("long")
        .alias("sy_b"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxy, sxx, syy = F.col("sxy"), F.col("sxx"), F.col("syy")
    # try_divide/NULLIF on the variance denominators: a zero-variance
    # pre-period covariate must yield NULL identically in both engines
    # (Spark NULL vs DuckDB inf otherwise — ADVICE r8)
    theta = F.try_divide((n * sxy - sx * sy) * 1.0, n * sxx - sx * sx)
    raw = F.col("sy_b") * 1.0 / F.col("n_b") - F.col("sy_a") * 1.0 / F.col(
        "n_a"
    )
    dx = F.col("sx_b") * 1.0 / F.col("n_b") - F.col("sx_a") * 1.0 / F.col(
        "n_a"
    )
    rho2 = F.try_divide(
        (n * sxy - sx * sy) * 1.0 * (n * sxy - sx * sy),
        (n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy),
    )
    return m.select(
        F.col("n").alias("n_users"),
        "n_a",
        "n_b",
        F.round(theta, 6).alias("theta"),
        F.round(raw, 6).alias("raw_lift"),
        F.round(raw - theta * dx, 6).alias("adj_lift"),
        F.round(rho2, 6).alias("rho2"),
    )


@query(
    "q295_auc_delong",
    oracle="""
    WITH scored AS (SELECT value,
                           CASE WHEN event_type = 'purchase' THEN 1
                                ELSE 0 END AS y
                    FROM events),
         tot AS (SELECT CAST(SUM(y) AS BIGINT) AS p,
                        CAST(COUNT(*) - SUM(y) AS BIGINT) AS neg
                 FROM scored),
         ranked AS (SELECT y,
                           2 * RANK() OVER (ORDER BY value)
                           + COUNT(*) OVER (PARTITION BY value) - 1
                               AS r2_comb,
                           2 * RANK() OVER (PARTITION BY y
                                            ORDER BY value)
                           + COUNT(*) OVER (PARTITION BY y, value) - 1
                               AS r2_within
                    FROM scored),
         comp AS (SELECT y,
                         CAST(r2_comb - r2_within AS BIGINT) AS a2
                  FROM ranked),
         aucn AS (SELECT CAST(SUM(CASE WHEN y = 1 THEN a2 ELSE 0 END)
                              AS BIGINT) AS auc2num
                  FROM comp),
         units AS (SELECT
                       CAST(SUM(CASE WHEN y = 1 THEN CAST(ROUND(1e6
                            * ((a2 * 1.0 * tot.p - aucn.auc2num)
                               / (2.0 * tot.p * tot.neg))
                            * ((a2 * 1.0 * tot.p - aucn.auc2num)
                               / (2.0 * tot.p * tot.neg)))
                            AS BIGINT) ELSE 0 END) AS BIGINT) AS s10u,
                       CAST(SUM(CASE WHEN y = 0 THEN CAST(ROUND(1e6
                            * ((a2 * 1.0 * tot.neg
                                - (2.0 * tot.p * tot.neg
                                   - aucn.auc2num))
                               / (2.0 * tot.p * tot.neg))
                            * ((a2 * 1.0 * tot.neg
                                - (2.0 * tot.p * tot.neg
                                   - aucn.auc2num))
                               / (2.0 * tot.p * tot.neg)))
                            AS BIGINT) ELSE 0 END) AS BIGINT) AS s01u
                   FROM comp, tot, aucn)
    SELECT tot.p, tot.neg, aucn.auc2num,
           ROUND(aucn.auc2num * 1.0 / (2.0 * tot.p * tot.neg), 6)
               AS auc,
           units.s10u, units.s01u,
           ROUND(sqrt(units.s10u / 1e6 / NULLIF(tot.p - 1.0, 0) / tot.p
                      + units.s01u / 1e6 / NULLIF(tot.neg - 1.0, 0) / tot.neg),
                 6) AS se,
           ROUND(aucn.auc2num * 1.0 / (2.0 * tot.p * tot.neg)
                 - CAST(1.96 AS DOUBLE)
                   * sqrt(units.s10u / 1e6 / NULLIF(tot.p - 1.0, 0) / tot.p
                          + units.s01u / 1e6 / NULLIF(tot.neg - 1.0, 0)
                            / tot.neg), 6) AS ci_lo,
           ROUND(aucn.auc2num * 1.0 / (2.0 * tot.p * tot.neg)
                 + CAST(1.96 AS DOUBLE)
                   * sqrt(units.s10u / 1e6 / NULLIF(tot.p - 1.0, 0) / tot.p
                          + units.s01u / 1e6 / NULLIF(tot.neg - 1.0, 0)
                            / tot.neg), 6) AS ci_hi
    FROM tot, aucn, units
    """,
)
def q295_auc_delong(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AUC with its DeLong (1988) standard error and 95% CI — the
    uncertainty band q280's point estimate lacks (two classifiers
    whose AUCs differ by less than ~2 SE are NOT distinguishable on
    this eval set; shipping the better-looking one is noise-chasing).
    DeLong's placement values come free from the rank machinery:
    V10_i = (combined tie-avg rank - within-class tie-avg rank)/N_neg
    for each positive; per negative the same rank difference counts
    positives BELOW it (mean 2P(1-AUC)), so its deviation centers at
    1-AUC. SE^2 = var(V10)/P + var(V01)/N.

    Exactness: both tie-averaged ranks are exact halves, so
    a2 = 2*(r_comb - r_within) is an exact BIGINT per row; each
    squared deviation (a BOUNDED quantity <= 1) freezes to 1e-6
    units before the order-independent sum; the final se/ci are one
    identical double expression over the frozen integers.

    Scale: two global ranks + one per-class rank over the same scan
    (per-shard rank + offset merge in production, the q113 pattern),
    then a 1-row reduction — no pairwise work despite the pairwise
    definition."""
    events = read_table(spark, sf_dir, "events")
    scored = events.select(
        "value",
        F.when(F.col("event_type") == "purchase", 1)
        .otherwise(0)
        .cast("long")
        .alias("y"),
    )
    tot = scored.agg(
        F.sum("y").cast("long").alias("p"),
        (F.count("*") - F.sum("y")).cast("long").alias("neg"),
    )
    r2_comb = (
        2 * F.rank().over(Window.orderBy("value"))
        + F.count("*").over(Window.partitionBy("value"))
        - 1
    )
    r2_within = (
        2 * F.rank().over(Window.partitionBy("y").orderBy("value"))
        + F.count("*").over(Window.partitionBy("y", "value"))
        - 1
    )
    comp = scored.select(
        "y", (r2_comb - r2_within).cast("long").alias("a2")
    )
    aucn = comp.agg(
        F.sum(F.when(F.col("y") == 1, F.col("a2")).otherwise(0))
        .cast("long")
        .alias("auc2num")
    )
    j = comp.join(F.broadcast(tot)).join(F.broadcast(aucn))
    dev10 = (F.col("a2") * 1.0 * F.col("p") - F.col("auc2num")) / (
        2.0 * F.col("p") * F.col("neg")
    )
    # negatives' placements count positives BELOW them, whose mean is
    # 2P(1-AUC) — center there, not at AUC (a 2.4x-inflated SE on a
    # constructed AUC=0.83 sample otherwise)
    dev01 = (
        F.col("a2") * 1.0 * F.col("neg")
        - (2.0 * F.col("p") * F.col("neg") - F.col("auc2num"))
    ) / (2.0 * F.col("p") * F.col("neg"))
    units = j.agg(
        F.sum(
            F.when(
                F.col("y") == 1,
                F.round(F.lit(1e6) * dev10 * dev10).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("s10u"),
        F.sum(
            F.when(
                F.col("y") == 0,
                F.round(F.lit(1e6) * dev01 * dev01).cast("long"),
            ).otherwise(0)
        )
        .cast("long")
        .alias("s01u"),
    )
    out = tot.join(F.broadcast(aucn)).join(F.broadcast(units))
    auc = F.col("auc2num") * 1.0 / (2.0 * F.col("p") * F.col("neg"))
    # try_divide on (p-1)/(neg-1): a single-example class degenerates the
    # variance term to division by zero with engine-dependent results
    # (Spark NULL vs DuckDB inf — ADVICE r8); same division ORDER as
    # before so the defined-case doubles are bit-identical
    se = F.sqrt(
        F.try_divide(F.col("s10u") / F.lit(1e6), F.col("p") - 1.0)
        / F.col("p")
        + F.try_divide(F.col("s01u") / F.lit(1e6), F.col("neg") - 1.0)
        / F.col("neg")
    )
    return out.select(
        "p",
        "neg",
        "auc2num",
        F.round(auc, 6).alias("auc"),
        "s10u",
        "s01u",
        F.round(se, 6).alias("se"),
        F.round(auc - F.lit(1.96) * se, 6).alias("ci_lo"),
        F.round(auc + F.lit(1.96) * se, 6).alias("ci_hi"),
    )


@query(
    "q298_spearman",
    oracle=f"""
    WITH {_DUCK_DAILY_CENTS},
         {_DUCK_TYPE_PAIR_JOINT},
         ranked AS (SELECT type_a, type_b,
                           2 * RANK() OVER (PARTITION BY type_a, type_b
                                            ORDER BY xa)
                           + COUNT(*) OVER (PARTITION BY type_a, type_b,
                                            xa) - 1 AS rx2,
                           2 * RANK() OVER (PARTITION BY type_a, type_b
                                            ORDER BY ya)
                           + COUNT(*) OVER (PARTITION BY type_a, type_b,
                                            ya) - 1 AS ry2
                    FROM joint),
         m AS (SELECT type_a, type_b,
                      CAST(COUNT(*) AS BIGINT) AS n,
                      CAST(SUM(rx2) AS BIGINT) AS sx,
                      CAST(SUM(ry2) AS BIGINT) AS sy,
                      CAST(SUM(rx2 * ry2) AS BIGINT) AS sxy,
                      CAST(SUM(rx2 * rx2) AS BIGINT) AS sxx,
                      CAST(SUM(ry2 * ry2) AS BIGINT) AS syy
               FROM ranked GROUP BY type_a, type_b)
    SELECT type_a, type_b, n,
           ROUND((n * sxy - sx * sy) * 1.0
                 / NULLIF(sqrt((n * sxx - sx * sx) * 1.0
                               * (n * syy - sy * sy)), 0), 6) AS rho
    FROM m
    """,
)
def q298_spearman(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spearman rank correlation between every pair of event-type
    daily series — completing the correlation triple (q123 Pearson on
    values, q286 Kendall on order inversions, now Pearson on RANKS):
    monotone-but-nonlinear co-movement that Pearson understates,
    cheaper than Kendall's pairwise classification (one rank + one
    moment reduction vs days^2 pairs). Tie-robust by construction:
    tie-averaged ranks feed the full product-moment formula, which
    equals the textbook 1 - 6*sum(d^2)/(n(n^2-1)) exactly when ranks
    are untied and is the CORRECT generalization when they are not.

    Exactness: 2*avg_rank = 2*RANK + tiecount - 1 is an exact BIGINT
    (the q279 machinery), so all five moments are exact integers; rho
    is one identical double expression at 6dp, NULL when a series is
    constant.

    Scale: daily reduction shared (daily_cents); per-pair ranks
    partition by the type pair — calendar-bounded frames."""
    daily = daily_cents(read_table(spark, sf_dir, "events"))
    joint = type_pair_joint(daily)
    wp = ["type_a", "type_b"]
    rx2 = (
        2 * F.rank().over(Window.partitionBy(*wp).orderBy("xa"))
        + F.count("*").over(Window.partitionBy(*wp, "xa"))
        - 1
    )
    ry2 = (
        2 * F.rank().over(Window.partitionBy(*wp).orderBy("ya"))
        + F.count("*").over(Window.partitionBy(*wp, "ya"))
        - 1
    )
    ranked = joint.select(
        "type_a", "type_b", rx2.alias("rx2"), ry2.alias("ry2")
    )
    m = ranked.groupBy("type_a", "type_b").agg(
        F.count("*").cast("long").alias("n"),
        F.sum("rx2").cast("long").alias("sx"),
        F.sum("ry2").cast("long").alias("sy"),
        F.sum(F.col("rx2") * F.col("ry2")).cast("long").alias("sxy"),
        F.sum(F.col("rx2") * F.col("rx2")).cast("long").alias("sxx"),
        F.sum(F.col("ry2") * F.col("ry2")).cast("long").alias("syy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    return m.select(
        "type_a",
        "type_b",
        "n",
        F.round(
            F.try_divide(
                (n * F.col("sxy") - sx * sy) * 1.0,
                F.nullif(
                    F.sqrt(
                        (n * F.col("sxx") - sx * sx)
                        * 1.0
                        * (n * F.col("syy") - sy * sy)
                    ),
                    F.lit(0.0),
                ),
            ),
            6,
        ).alias("rho"),
    )
