"""Time-series operators (SURVEY §2A W1-W8, P16): FIR/IIR filters, PID,
EWMA — the reference's firmware/middleware filter bank re-expressed for
data scale.

Two execution tiers per recurrence (SURVEY §7 watch-list #2):
- *windowed/closed forms* (FIR taps, windup-free PID) are pure window
  expressions — JVM-side, oracle-checkable, scale with one shuffle on the
  partition key;
- *exact recurrences* (IIR state, PID with windup clamp, LSTM) are not
  frame aggregates: they run as per-key numpy loops under applyInPandas —
  sequential *within* a key, parallel *across* keys (nodes/users), which
  is how the reference scales too (one controller per joint node).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from hive_reflex_spark.functions import (
    duck_exact_sum,
    duck_unit_sum,
    exact_sum,
)
from hive_reflex_spark.io import read_table
from hive_reflex_spark.registry import query

# ---------------------------------------------------------------------------
# Library: exact recurrences via grouped-map pandas (Arrow-batched)
# ---------------------------------------------------------------------------


def iir_lowpass(
    df: DataFrame,
    key_cols: list[str],
    order_col: str | list[str],
    value_col: str,
    alpha: float,
    out_col: str = "filtered",
) -> DataFrame:
    """Exact IIR low-pass s = α·x + (1−α)·s (W1,
    `fixed_point_filter.c:63-97`). Per-key sequential loop, parallel
    across keys via applyInPandas. ``order_col`` may be a list so the
    replay ordering can carry a unique tie-break — a recurrence is only
    engine-deterministic if its input order is."""
    schema = f"{df.schema.simpleString()[7:-1]},{out_col}:double"
    order = [order_col] if isinstance(order_col, str) else list(order_col)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order).reset_index(drop=True)
        x = pdf[value_col].to_numpy(dtype="float64")
        s = x.copy()
        for i in range(1, len(x)):
            s[i] = alpha * x[i] + (1.0 - alpha) * s[i - 1]
        pdf[out_col] = s
        return pdf

    return df.groupBy(*key_cols).applyInPandas(fn, schema)


def tdiv(a: int, b: int) -> int:
    """Integer division truncating toward zero — the semantics DuckDB's
    `//` and Spark's `div` share. Python's `//` FLOORS (-7 // 2 is -4 in
    Python but -3 in DuckDB/Spark), so a raw `//` in a Python replay of
    an integer recurrence diverges from the SQL oracle the moment an
    accumulator goes negative. The two agree on nonnegative operands."""
    q = abs(a) // abs(b)
    return q if (a < 0) == (b < 0) else -q


def ewma_fixed_units(
    df: DataFrame,
    key_cols: list[str],
    order_cols: list[str],
    unit_col: str,
    num: int,
    den: int,
    out_col: str = "s_u",
) -> DataFrame:
    """EWMA s = (num·s_prev + (den−num)·x) // den replayed in exact
    integer units — q68a's Q16.16 discipline applied to the smoother:
    every step is BIGINT arithmetic with truncating division (tdiv —
    DuckDB `//` / Spark `div` semantics, which Python's flooring `//`
    only matches on nonnegative operands), so ANY engine replaying the
    same recurrence is bit-identical at ANY scale and ANY sign (the
    binary64 replay accumulates sub-ulp drift that eventually crosses a
    rounding boundary — observed at 10x SF, BASELINE.md r5). The seed
    is the first sample itself."""
    schema = f"{df.schema.simpleString()[7:-1]},{out_col}:bigint"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(list(order_cols)).reset_index(drop=True)
        xs = [int(v) for v in pdf[unit_col]]  # Python ints: no overflow
        out: list[int] = []
        s = 0
        for i, x in enumerate(xs):
            s = x if i == 0 else tdiv(num * s + (den - num) * x, den)
            out.append(s)
        pdf[out_col] = pd.Series(out, dtype="int64")
        return pdf

    return df.groupBy(*key_cols).applyInPandas(fn, schema)


def ewma(df: DataFrame, key_cols, order_col, value_col, beta: float, out_col="smoothed"):
    """Exponential smoothing c = β·c_prev + (1−β)·raw (W6,
    `tinyml_adaptive.c:242-244`) — the same recurrence as IIR with
    α = 1−β."""
    return iir_lowpass(df, key_cols, order_col, value_col, 1.0 - beta, out_col)


def complementary_filter(
    df: DataFrame,
    key_cols: list[str],
    order_col: str | list[str],
    gyro_col: str,
    accel_col: str,
    alpha: float,
    dt: float,
    out_col: str = "angle",
) -> DataFrame:
    """Complementary filter s = α(s + gyro·dt) + (1−α)·accel (W2,
    `fixed_point_filter.c:13-57`): gyro integration with accel drift
    correction, per-key stateful."""
    schema = f"{df.schema.simpleString()[7:-1]},{out_col}:double"
    order = [order_col] if isinstance(order_col, str) else list(order_col)

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order).reset_index(drop=True)
        g = pdf[gyro_col].to_numpy(dtype="float64")
        a = pdf[accel_col].to_numpy(dtype="float64")
        s = 0.0
        out = []
        for i in range(len(g)):
            s = alpha * (s + g[i] * dt) + (1.0 - alpha) * a[i]
            out.append(s)
        pdf[out_col] = out
        return pdf

    return df.groupBy(*key_cols).applyInPandas(fn, schema)


def pid_controller(
    df: DataFrame,
    key_cols: list[str],
    order_col: str,
    error_col: str,
    kp: float,
    ki: float,
    kd: float,
    dt: float = 1.0,
    integral_clamp: float | None = None,
    out_col: str = "control",
) -> DataFrame:
    """PID with anti-windup clamp (P16, `simulator.py:42-58`,
    `example_reflex_node.c:45-59`). The clamp makes the integral
    data-dependent → exact recurrence tier."""
    schema = f"{df.schema.simpleString()[7:-1]},{out_col}:double"

    def fn(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(order_col).reset_index(drop=True)
        e = pdf[error_col].to_numpy(dtype="float64")
        integral = 0.0
        prev = 0.0
        out = []
        for i in range(len(e)):
            integral += e[i] * dt
            if integral_clamp is not None:
                integral = max(min(integral, integral_clamp), -integral_clamp)
            deriv = (e[i] - prev) / dt
            out.append(kp * e[i] + ki * integral + kd * deriv)
            prev = e[i]
        pdf[out_col] = out
        return pdf

    return df.groupBy(*key_cols).applyInPandas(fn, schema)


# ---------------------------------------------------------------------------
# Queries: exact IIR (rows-only; numpy-oracled in tests) + FIR (oracled)
# ---------------------------------------------------------------------------


def _ewma_units_oracle(cte: str, prev: str, step: str, out: str) -> str:
    """Recursive-CTE replay of :func:`ewma_fixed_units` over each user's
    event values in 1e-6 units: ``step`` is the next ``s_u`` from the
    previous row ``{prev}.s_u`` and the input ``s.x_u``."""
    return f"""
    WITH RECURSIVE seq AS MATERIALIZED (
        SELECT user_id, event_id,
               CAST(ROUND(value * 1000000) AS BIGINT) AS x_u,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id) AS rn
        FROM events),
    {cte} AS (
        SELECT user_id, event_id, rn, x_u AS s_u
        FROM seq WHERE rn = 1
        UNION ALL
        SELECT s.user_id, s.event_id, s.rn,
               {step}
        FROM seq s JOIN {cte} {prev}
          ON s.user_id = {prev}.user_id AND s.rn = {prev}.rn + 1)
    SELECT event_id, user_id, ROUND(s_u / 1000000.0, 6) AS {out}
    FROM {cte}
    """


def _ewma_units_query(
    spark: SparkSession, sf_dir: str, num: int, out: str
) -> DataFrame:
    """q54/q158: s = (num·s_prev + (10−num)·x) // 10 per user over the
    event values in exact 1e-6 integer units, rounded back to ``out``."""
    events = read_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.round(F.col("value") * 1_000_000).cast("long").alias("x_u"),
    )
    units = ewma_fixed_units(
        events, ["user_id"], ["ts_us", "event_id"], "x_u", num=num, den=10
    )
    return units.select(
        "event_id",
        "user_id",
        F.round(F.col("s_u") / 1_000_000.0, 6).alias(out),
    )


@query(
    "q54_iir_lowpass",
    oracle=_ewma_units_oracle(
        "iir", "i", "(7 * i.s_u + 3 * s.x_u) // 10", "filtered"
    ),
)
def q54_iir_lowpass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact IIR low-pass over each user's event-value series (α=0.3 =
    3/10), replayed in 1e-6 integer units: s = (7·s_prev + 3·x) // 10 in
    pure BIGINT — the fixed-point form the reference filter itself uses
    (`fixed_point_filter.c:63-97` runs Q16.16, not float). The
    recursive-CTE oracle replays the identical integer recurrence, so
    the hash check is bit-exact at ANY scale — the previous binary64
    replay crossed the 6th-decimal rounding boundary on 60/1,000,000
    rows at 10x SF, the same sub-ulp drift q154/q158 retired
    (BASELINE.md r6). The float library form (iir_lowpass) remains for
    callers that want it and keeps its numpy bit-parity tests."""
    return _ewma_units_query(spark, sf_dir, 7, "filtered")


@query(
    "q158_ewma_smooth",
    oracle=_ewma_units_oracle("ew", "e", "(9 * e.s_u + s.x_u) // 10", "smoothed"),
)
def q158_ewma_smooth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W6 exponential smoothing c = β·c_prev + (1−β)·raw with β=0.9
    (`tinyml_adaptive.c:242-244`'s confidence smoother), per user over
    the event-value series — replayed in EXACT 1e-6 integer units
    (q68a's fixed-point discipline, the form the reference's own
    fixed-point firmware uses): x quantizes to micro-units once, then
    every step is s = (9·s_prev + x) // 10 in BIGINT. The recursive-CTE
    oracle replays the identical integer recurrence, so the hash check
    is bit-exact at ANY scale — the previous binary64 replay diverged
    sub-ulp-per-step and crossed the 6th-decimal rounding boundary on
    10/1,000,000 rows at 10x SF (BASELINE.md r5); integer floor-division
    steps cannot drift."""
    return _ewma_units_query(spark, sf_dir, 9, "smoothed")


_FIR_TAPS = 12
_FIR_ALPHA = 0.3


def _fir_weights() -> list[float]:
    # α(1-α)^j — the IIR impulse response truncated to 12 taps.
    return [_FIR_ALPHA * (1 - _FIR_ALPHA) ** j for j in range(_FIR_TAPS)]


@query(
    "q55_fir_lowpass",
    oracle=f"""
    SELECT event_id, user_id,
           ROUND(({' + '.join(
               f"COALESCE(lag(value, {j}) OVER win, 0) * {w!r}"
               for j, w in enumerate(_fir_weights()))})
           / ({' + '.join(
               f"CASE WHEN lag(value, {j}) OVER win IS NULL THEN 0 ELSE {w!r} END"
               for j, w in enumerate(_fir_weights()))}), 6) AS filtered
    FROM events
    WINDOW win AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def q55_fir_lowpass(spark: SparkSession, sf_dir: str) -> DataFrame:
    """12-tap FIR approximation of the IIR low-pass (SURVEY W1's documented
    windowed form): weights α(1−α)^j, normalized over available taps at
    sequence starts. Pure window expressions — the oracle-checkable twin
    of q54, and the form to prefer at 100 TB (no Python, no state)."""
    events = read_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ws = _fir_weights()
    num = sum(
        [
            F.coalesce(F.lag("value", j).over(w), F.lit(0.0)) * F.lit(wj)
            for j, wj in enumerate(ws)
        ],
        F.lit(0.0),
    )
    den = sum(
        [
            F.when(F.lag("value", j).over(w).isNull(), 0.0).otherwise(F.lit(wj))
            for j, wj in enumerate(ws)
        ],
        F.lit(0.0),
    )
    return events.select(
        "event_id", "user_id", F.round(num / den, 6).alias("filtered")
    )


@query(
    "q56_pid_windowed",
    oracle="""
    SELECT event_id, user_id,
           ROUND(0.8 * err
                 + 0.1 * (CAST(SUM(CAST(ROUND(err * 100) AS BIGINT))
                          OVER (PARTITION BY user_id ORDER BY ts, event_id
                                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                          AS BIGINT) / 100.0)
                 + 0.2 * (err - COALESCE(lag(err) OVER (
                          PARTITION BY user_id ORDER BY ts, event_id), 0)),
                 6) AS control
    FROM (SELECT event_id, user_id, ts, value - 100 AS err FROM events)
    """,
)
def q56_pid_windowed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Windup-free PID (P16) as pure window algebra: P = kp·e,
    I = ki·running-Σe (exact integer cents), D = kd·(e − lag e).
    The clamped variant lives in pid_controller() (recurrence tier)."""
    events = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts", (F.col("value") - 100).alias("err")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcum = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    integral = F.sum(F.round(F.col("err") * 100).cast("long")).over(wcum) / 100.0
    deriv = F.col("err") - F.coalesce(F.lag("err").over(w), F.lit(0.0))
    return events.select(
        "event_id",
        "user_id",
        F.round(0.8 * F.col("err") + 0.1 * integral + 0.2 * deriv, 6).alias(
            "control"
        ),
    )


@query(
    "q57_gap_detect",
    oracle="""
    SELECT user_id, prev_event_id, event_id,
           ROUND((ts_us - prev_us) / 1000000.0, 6) AS gap_sec
    FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us,
                 lag(event_id) OVER win AS prev_event_id,
                 lag(epoch_us(ts)) OVER win AS prev_us
          FROM events
          WINDOW win AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id))
    WHERE prev_us IS NOT NULL AND ts_us - prev_us > 7200000000
    """,
)
def q57_gap_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence-gap / heartbeat-timeout detection (ST2/ST3,
    `can_sync.c:63-69,85-98`): per-key lag over event time, emit gaps
    > 2 h. The batch twin of the streaming timeout operator in
    streaming/ops.py."""
    events = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    w = Window.partitionBy("user_id").orderBy("ts_us", "event_id")
    flagged = events.select(
        "user_id",
        "event_id",
        "ts_us",
        F.lag("event_id").over(w).alias("prev_event_id"),
        F.lag("ts_us").over(w).alias("prev_us"),
    )
    return flagged.filter(
        F.col("prev_us").isNotNull()
        & (F.col("ts_us") - F.col("prev_us") > 7_200_000_000)
    ).select(
        "user_id",
        "prev_event_id",
        "event_id",
        F.round((F.col("ts_us") - F.col("prev_us")) / 1_000_000.0, 6).alias(
            "gap_sec"
        ),
    )


@query(
    "q58_phase_windows",
    oracle=f"""
    SELECT CAST(phase_bucket AS INTEGER) AS phase_bucket, event_type,
           COUNT(*) AS n,
           {duck_exact_sum("value")}
               AS total_value
    FROM (SELECT event_type, value,
                 (epoch_us(ts) % 3600000000) // 600000000 AS phase_bucket
          FROM events)
    GROUP BY phase_bucket, event_type
    """,
)
def q58_phase_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Phase-window scheduling (ST1/ST4, `can_sync.c:104-148`): phase =
    ts mod period (1 h), bucketed into 6 slots — the Spark form of the
    reference's sync-phase alignment check."""
    events = read_table(spark, sf_dir, "events")
    phase = (F.unix_micros("ts") % 3_600_000_000) / 600_000_000
    return (
        events.withColumn("phase_bucket", phase.cast("int"))
        .groupBy("phase_bucket", "event_type")
        .agg(
            F.count("*").alias("n"),
            exact_sum(F.col("value"), 2).alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# As-of join (temporal enrichment)
# ---------------------------------------------------------------------------


@query(
    "q59a_asof_join",
    oracle="""
    SELECT event_id, user_id, latest_orderkey, latest_total
    FROM (
        SELECT e.event_id, e.user_id, o.o_orderkey AS latest_orderkey,
               o.o_totalprice AS latest_total,
               ROW_NUMBER() OVER (PARTITION BY e.event_id
                                  ORDER BY o.o_orderdate DESC,
                                           o.o_orderkey DESC) AS rn
        FROM events e
        JOIN orders o ON o.o_custkey = e.user_id AND o.o_orderdate <= e.ts)
    WHERE rn = 1
    """,
)
def q59a_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join (the time-sync lookup of ST1, and the pyspark-guide
    range-join pattern): each event enriched with that user's most recent
    order at event time.

    Union-then-window formulation — the LINEAR as-of shape: tag orders
    and events, union, one shuffle+sort per user on (ts, is_event,
    orderkey), and a running ``last(order, ignorenulls)`` window hands
    every event the latest order at or before its timestamp. No
    range-join, so no O(events × earlier-orders) intermediate at any
    scale — total cost is one sort of |events| + |orders| rows. Orders
    sort ascending by (date, key), so the running last is exactly the
    top-1 by (date DESC, key DESC); at equal timestamps orders sort
    before events, matching the oracle's ``<=``.

    Built as four parsed expression blocks (selectExpr / one windowed
    F.expr) instead of ~20 py4j Column calls — plan-identical, and
    plan construction is ~40% of this query's bench wall at toy SF
    (guide §7.3 planning overhead)."""
    events = read_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "ts"
    )
    orders = read_table(spark, sf_dir, "orders").select(
        "o_custkey", "o_orderkey", "o_orderdate", "o_totalprice"
    )
    odt = dict(orders.dtypes)
    ev = events.selectExpr(
        "user_id",
        "CAST(ts AS timestamp) AS t",
        "1 AS is_event",
        "CAST(NULL AS BIGINT) AS okey",
        "event_id",
        f"CAST(NULL AS {odt['o_orderdate']}) AS odate",
        f"CAST(NULL AS {odt['o_totalprice']}) AS ototal",
    )
    od = orders.selectExpr(
        "o_custkey AS user_id",
        "CAST(o_orderdate AS timestamp) AS t",
        "0 AS is_event",
        "CAST(o_orderkey AS BIGINT) AS okey",
        f"CAST(NULL AS {dict(events.dtypes)['event_id']}) AS event_id",
        "o_orderdate AS odate",
        "o_totalprice AS ototal",
    )
    tagged = ev.unionByName(od).withColumn(
        "latest",
        F.expr(
            "last(CASE WHEN is_event = 0 THEN struct(odate, okey, ototal)"
            " END, true) OVER (PARTITION BY user_id"
            " ORDER BY t, is_event, okey"
            " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"
        ),
    )
    return tagged.filter(
        "is_event = 1 AND latest IS NOT NULL"
    ).selectExpr(
        "event_id",
        "user_id",
        "latest.okey AS latest_orderkey",
        "latest.ototal AS latest_total",
    )


def asof_join_pandas(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
) -> DataFrame:
    """Library as-of join via pd.merge_asof per key — linear in each
    partition (vs the range-join's O(matches)); use when the right side
    has many rows per key."""
    import pandas as pd

    right_cols = [c for c in right.columns if c != key]
    out_schema = (
        left.schema.simpleString()[7:-1]
        + ","
        + ",".join(f"{c}:{dict(right.dtypes)[c]}" for c in right_cols)
    )
    merged_key = "__k"
    l2 = left.withColumn(merged_key, F.col(key))
    r2 = right.withColumn(merged_key, F.col(key))

    # cogroup: left and right partitions for the same key arrive together
    def cg(lpdf: pd.DataFrame, rpdf: pd.DataFrame) -> pd.DataFrame:
        lpdf = lpdf.sort_values(left_ts)
        rpdf = rpdf.sort_values(right_ts)
        if rpdf.empty:
            for c in right_cols:
                lpdf[c] = None
            return lpdf.drop(columns=[merged_key])
        out = pd.merge_asof(
            lpdf,
            rpdf.drop(columns=[merged_key, key]),
            left_on=left_ts,
            right_on=right_ts,
            direction="backward",
        )
        return out.drop(columns=[merged_key])

    return (
        l2.groupBy(merged_key)
        .cogroup(r2.groupBy(merged_key))
        .applyInPandas(lambda l, r: cg(l, r), out_schema)
    )


@query(
    "q57a_late_data",
    oracle="""
    SELECT user_id,
           COUNT(*) AS n_events,
           CAST(SUM(CASE WHEN ts_us < running_max THEN 1 ELSE 0 END) AS BIGINT)
               AS n_out_of_order,
           CAST(SUM(CASE WHEN ts_us < running_max THEN 1 ELSE 0 END) AS BIGINT)
               * 1.0 / COUNT(*) AS late_ratio,
           COALESCE(ROUND(MAX(CASE WHEN ts_us < running_max
                         THEN (running_max - ts_us) / 1000000.0 END), 6), 0.0)
               AS max_lateness_sec
    FROM (SELECT user_id, ts_us,
                 MAX(ts_us) OVER (PARTITION BY user_id
                                  ORDER BY md5(CAST(event_id AS VARCHAR))
                                  ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS running_max
          FROM (SELECT user_id, event_id, epoch_us(ts) AS ts_us FROM events))
    GROUP BY user_id
    """,
)
def q57a_late_data(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Late/out-of-order data detection (ST3, `can_sync.c:63-69`): under a
    deterministic pseudo-random arrival order, a row is late if its event time precedes
    the running max — the batch measurement of what a streaming watermark
    would drop, and the basis for choosing the watermark delay (max
    observed lateness)."""
    events = read_table(spark, sf_dir, "events").select(
        "user_id", "event_id", F.unix_micros("ts").alias("ts_us")
    )
    # the fixture's event_ids are time-sorted (no natural lateness), so
    # arrival order is a deterministic md5 permutation of the ids — the
    # same shuffled-arrival process both engines can reproduce
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.md5(F.col("event_id").cast("string")))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    flagged = events.withColumn("running_max", F.max("ts_us").over(w))
    late = F.when(F.col("ts_us") < F.col("running_max"), 1).otherwise(0)
    lateness = F.when(
        F.col("ts_us") < F.col("running_max"),
        (F.col("running_max") - F.col("ts_us")) / 1_000_000.0,
    )
    return flagged.groupBy("user_id").agg(
        F.count("*").alias("n_events"),
        F.sum(late).alias("n_out_of_order"),
        (F.sum(late) * 1.0 / F.count("*")).alias("late_ratio"),
        F.coalesce(F.round(F.max(lateness), 6), F.lit(0.0)).alias(
            "max_lateness_sec"
        ),
    )


# ---------------------------------------------------------------------------
# Gap-fill resampling with linear interpolation (hypertable rollup)
# ---------------------------------------------------------------------------

RESAMPLE_USERS = 4  # bounded output slice; the operator itself is per-user
RESAMPLE_STEP_US = 3_600_000_000  # 1-hour grid


@query(
    "q99_resample_interpolate",
    oracle=f"""
    WITH ev AS (SELECT user_id, epoch_us(ts) AS ts_us, value
                FROM events WHERE user_id < {RESAMPLE_USERS}),
    b AS (SELECT user_id,
                 epoch_us(date_trunc('hour', make_timestamp(MIN(ts_us))))
                     AS lo,
                 epoch_us(date_trunc('hour', make_timestamp(MAX(ts_us))))
                     AS hi
          FROM ev GROUP BY user_id),
    grid AS (SELECT user_id,
                    unnest(range(lo, hi + 1, {RESAMPLE_STEP_US})) AS ts_us
             FROM b),
    u AS (SELECT user_id, ts_us, value, 0 AS is_grid FROM ev
          UNION ALL
          SELECT user_id, ts_us, NULL, 1 FROM grid),
    w AS (SELECT user_id, ts_us, is_grid,
                 last_value(value IGNORE NULLS) OVER wb AS pv,
                 last_value(CASE WHEN value IS NOT NULL THEN ts_us END
                            IGNORE NULLS) OVER wb AS pt,
                 first_value(value IGNORE NULLS) OVER wf AS nv,
                 first_value(CASE WHEN value IS NOT NULL THEN ts_us END
                             IGNORE NULLS) OVER wf AS nt
          FROM u
          WINDOW wb AS (PARTITION BY user_id ORDER BY ts_us, is_grid
                        ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 wf AS (PARTITION BY user_id ORDER BY ts_us, is_grid
                        ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id,
           strftime(make_timestamp(ts_us), '%Y-%m-%d %H:%M:%S') AS grid_ts,
           ROUND(CASE WHEN pt IS NULL THEN nv
                      WHEN nt IS NULL THEN pv
                      WHEN nt = pt THEN pv
                      ELSE pv + (nv - pv) * (ts_us - pt) / (nt - pt)
                 END, 6) AS value_interp,
           CASE WHEN pt IS NULL OR nt IS NULL THEN NULL
                ELSE nt - pt END AS gap_us
    FROM w WHERE is_grid = 1
    """,
)
def q99_resample_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable gap-fill rollup: resample each user's irregular event
    series onto a fixed 1-hour grid with linear interpolation between
    the enclosing observations (boundary grid points clamp to the
    nearest value) — `time_bucket_gapfill` + `interpolate`, and the
    relational form of the reference's fixed-rate resampling of sensor
    streams (`imc22_sdk/tinyml_adaptive.h:43-53`'s 1 kHz records).

    Join-free: grid points UNION into the event stream and two windows
    (running last / reverse-running first, both ignore-nulls) find each
    grid instant's neighbors — one shuffle on user_id, linear in
    |events| + |grid|, no range join, no per-gap explode. The same
    union-then-window trick as the q59a as-of join; at 100 TB the series
    key partitioning is the natural layout. Interpolation arithmetic is
    structured identically in the oracle so binary64 results match
    bit-for-bit."""
    ev = (
        read_table(spark, sf_dir, "events")
        .filter(F.col("user_id") < RESAMPLE_USERS)
        .select("user_id", F.unix_micros("ts").alias("ts_us"), "value")
    )
    step = RESAMPLE_STEP_US
    grid = (
        ev.groupBy("user_id")
        .agg(
            (F.floor(F.min("ts_us") / step) * step).alias("lo"),
            (F.floor(F.max("ts_us") / step) * step).alias("hi"),
        )
        .select(
            "user_id",
            F.explode(
                F.sequence("lo", "hi", F.lit(step).cast("long"))
            ).alias("ts_us"),
        )
    )
    u = ev.withColumn("is_grid", F.lit(0)).unionByName(
        grid.select(
            "user_id",
            "ts_us",
            F.lit(None).cast("double").alias("value"),
            F.lit(1).alias("is_grid"),
        )
    )
    order = [F.col("ts_us"), F.col("is_grid")]
    wb = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wf = (
        Window.partitionBy("user_id")
        .orderBy(*order)
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    ts_if_val = F.when(F.col("value").isNotNull(), F.col("ts_us"))
    w = u.select(
        "user_id",
        "ts_us",
        "is_grid",
        F.last("value", ignorenulls=True).over(wb).alias("pv"),
        F.last(ts_if_val, ignorenulls=True).over(wb).alias("pt"),
        F.first("value", ignorenulls=True).over(wf).alias("nv"),
        F.first(ts_if_val, ignorenulls=True).over(wf).alias("nt"),
    )
    interp = (
        F.when(F.col("pt").isNull(), F.col("nv"))
        .when(F.col("nt").isNull(), F.col("pv"))
        .when(F.col("nt") == F.col("pt"), F.col("pv"))
        .otherwise(
            F.col("pv")
            + (F.col("nv") - F.col("pv"))
            * (F.col("ts_us") - F.col("pt"))
            / (F.col("nt") - F.col("pt"))
        )
    )
    return w.filter(F.col("is_grid") == 1).select(
        "user_id",
        F.date_format(F.timestamp_micros("ts_us"), "yyyy-MM-dd HH:mm:ss").alias(
            "grid_ts"
        ),
        F.round(interp, 6).alias("value_interp"),
        F.when(
            F.col("pt").isNull() | F.col("nt").isNull(), F.lit(None)
        )
        .otherwise(F.col("nt") - F.col("pt"))
        .cast("long")
        .alias("gap_us"),
    )


# ---------------------------------------------------------------------------
# Complementary filter (W2) — driver-checked via the q54 recursion
# technique
# ---------------------------------------------------------------------------

_COMP_ALPHA = 0.98  # gyro trust — fixed_point_filter.c:13-57 shape
_COMP_DT = 0.01  # 100 Hz tick


@query(
    "q143_complementary_filter",
    oracle=f"""
    WITH RECURSIVE seq AS MATERIALIZED (
        SELECT user_id, event_id,
               CAST(value AS DOUBLE) AS gyro,
               (event_id % 360 - 180) * CAST(0.5 AS DOUBLE) AS accel,
               ROW_NUMBER() OVER (PARTITION BY user_id
                                  ORDER BY epoch_us(ts), event_id) AS rn
        FROM events),
    comp AS (
        SELECT user_id, CAST(NULL AS BIGINT) AS event_id, 0 AS rn,
               CAST(0 AS DOUBLE) AS gyro, CAST(0 AS DOUBLE) AS accel,
               CAST(0 AS DOUBLE) AS angle
        FROM (SELECT DISTINCT user_id FROM seq)
        UNION ALL
        SELECT s.user_id, s.event_id, s.rn, s.gyro, s.accel,
               CAST({_COMP_ALPHA} AS DOUBLE)
                   * (c.angle + s.gyro * CAST({_COMP_DT} AS DOUBLE))
               + (CAST(1.0 AS DOUBLE) - CAST({_COMP_ALPHA} AS DOUBLE))
                   * s.accel
        FROM seq s JOIN comp c
          ON s.user_id = c.user_id AND s.rn = c.rn + 1)
    SELECT event_id, user_id, ROUND(angle, 6) AS angle
    FROM comp WHERE rn >= 1
    """,
)
def q143_complementary_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Complementary filter (W2, `fixed_point_filter.c:13-57`):
    s = α(s + gyro·dt) + (1−α)·accel per user over the event series —
    gyro integration with accel drift correction, the IMU-fusion
    recurrence every reflex node runs at 100 Hz. The event value plays
    the gyro rate; a deterministic accel signal is derived from
    event_id. Same engine-exactness discipline as q54: the DuckDB
    recursive CTE replays the identical binary64 operation order from
    the same zero initial state, so the trajectory hash-matches; numpy
    parity is pinned separately in tests."""
    events = read_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        F.unix_micros("ts").alias("ts_us"),
        F.col("value").alias("gyro"),
        ((F.col("event_id") % 360 - 180) * 0.5).alias("accel"),
    )
    out = complementary_filter(
        events, ["user_id"], ["ts_us", "event_id"], "gyro", "accel",
        alpha=_COMP_ALPHA, dt=_COMP_DT,
    )
    return out.select(
        "event_id", "user_id", F.round(F.col("angle"), 6).alias("angle")
    )


# ---------------------------------------------------------------------------
# Fixed-point + CAN wire decode + compliance blend (P12/P13/P15) as one
# driver-checked projection
# ---------------------------------------------------------------------------


@query(
    "q144_fixed_point_wire",
    oracle="""
    SELECT event_id,
           CAST(ROUND(value * 65536.0) AS BIGINT) AS q16,
           ROUND(CAST(CAST(ROUND(value * 65536.0) AS BIGINT) AS DOUBLE)
                 / 65536.0, 6) AS q16_back,
           ROUND(CAST(event_id % 65536 - 32768 AS DOUBLE) * 0.01, 6)
               AS angle_deg,
           ROUND(CAST(user_id % 256 AS DOUBLE) / 255.0, 6) AS compliance,
           ROUND(LEAST(GREATEST(
               (value / 200.0 - 0.5) * (1.0 - CAST(user_id % 256 AS DOUBLE)
                                              / 255.0)
               + CAST(event_id % 200 - 100 AS DOUBLE) / 100.0
                 * (CAST(user_id % 256 AS DOUBLE) / 255.0) * 1.0,
               CAST(-1.0 AS DOUBLE)), CAST(1.0 AS DOUBLE)), 6) AS torque
    FROM events
    """,
)
def q144_fixed_point_wire(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The scalar firmware-boundary functions (P12/P13/P15) as one
    scan-side projection, driver-checked: Q16.16 fixed-point round-trip
    of the event value (`fixed_point_filter.c:17-35`), CAN int16
    0.01-degree angle decode and uint8 compliance decode
    (`hive_arch.md:60-61`), and the compliance torque blend
    U = pid(1−γ) + nn·γ·Tmax clamped to [-1, 1] (`hive_arch.md:21-29`)
    — with pid/nn signals derived deterministically from the row. Pure
    whole-stage-codegen expressions: no shuffle, no UDF; the quantized
    q16 column is exact integer, the rest round to 6dp."""
    from hive_reflex_spark.functions.tensor_fns import (
        compliance_blend,
        decode_angle_raw,
        decode_compliance_raw,
        float_to_q16_16,
        q16_16_to_float,
    )

    events = read_table(spark, sf_dir, "events")
    q16 = float_to_q16_16(F.col("value"))
    gamma = decode_compliance_raw(F.col("user_id") % 256)
    pid = F.col("value") / 200.0 - 0.5
    nn = (F.col("event_id") % 200 - 100).cast("double") / 100.0
    return events.select(
        "event_id",
        q16.alias("q16"),
        F.round(q16_16_to_float(q16), 6).alias("q16_back"),
        F.round(decode_angle_raw(F.col("event_id") % 65536 - 32768), 6)
        .alias("angle_deg"),
        F.round(gamma, 6).alias("compliance"),
        F.round(compliance_blend(pid, nn, gamma, tmax=1.0), 6)
        .alias("torque"),
    )

_ACF_LAGS = (1, 2, 3, 6, 12, 24)


@query(
    "q197_autocorrelation",
    oracle=f"""
    WITH hourly AS (
        SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1),
    lagk AS (
        SELECT l.lag, a.x AS x0, b.x AS xk
        FROM (SELECT unnest([{", ".join(str(k) for k in _ACF_LAGS)}])
                  AS lag) l
        JOIN hourly a ON TRUE
        JOIN hourly b ON b.h = a.h + l.lag),
    m AS (SELECT lag, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(x0) AS BIGINT) AS sx,
                 CAST(SUM(xk) AS BIGINT) AS sy,
                 CAST(SUM(x0 * xk) AS BIGINT) AS sxy,
                 CAST(SUM(x0 * x0) AS BIGINT) AS sxx,
                 CAST(SUM(xk * xk) AS BIGINT) AS syy
          FROM lagk GROUP BY lag)
    SELECT CAST(lag AS INT) AS lag, n,
           ROUND((n * sxy - sx * sy)
                 / sqrt((n * sxx - sx * sx) * 1.0 * (n * syy - sy * sy)),
                 6) AS acf
    FROM m
    """,
)
def q197_autocorrelation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lag-k autocorrelation of the hourly event-count series at lags
    {1,2,3,6,12,24} — the seasonality detector (a spike at lag 24 means
    daily rhythm; at lag 1, momentum). Pearson over (x_t, x_{t+k})
    pairs from EXACT integer moments (q123's discipline: n, Σx, Σy,
    Σxy, Σxx, Σyy as BIGINTs, one division at the end) so the
    correlations hash-match. The hourly rollup is the only event-scale
    work; the lag self-join runs over |hours| rows."""
    events = read_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.floor(F.unix_micros("ts") / 3_600_000_000).cast("long").alias("h")
    ).agg(F.count("*").alias("x"))
    lags = events.sparkSession.createDataFrame(
        [(k,) for k in _ACF_LAGS], "lag int"
    )
    a = hourly.alias("a")
    b = hourly.alias("b")
    lagk = (
        a.join(F.broadcast(lags))
        .join(b, F.col("b.h") == F.col("a.h") + F.col("lag"))
        .select("lag", F.col("a.x").alias("x0"), F.col("b.x").alias("xk"))
    )
    m = lagk.groupBy("lag").agg(
        F.count("*").alias("n"),
        F.sum("x0").cast("long").alias("sx"),
        F.sum("xk").cast("long").alias("sy"),
        F.sum(F.col("x0") * F.col("xk")).cast("long").alias("sxy"),
        F.sum(F.col("x0") * F.col("x0")).cast("long").alias("sxx"),
        F.sum(F.col("xk") * F.col("xk")).cast("long").alias("syy"),
    )
    num = F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")
    den = F.sqrt(
        (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx"))
        * 1.0
        * (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy"))
    )
    return m.select(
        F.col("lag").cast("int").alias("lag"),
        "n",
        F.round(num / den, 6).alias("acf"),
    )


@query(
    "q198_rate_spikes",
    oracle="""
    WITH hourly AS (
        SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1),
    trail AS (
        SELECT h, x,
               CAST(COUNT(*) OVER w AS BIGINT) AS n,
               CAST(SUM(x) OVER w AS BIGINT) AS s,
               CAST(SUM(x * x) OVER w AS BIGINT) AS ss
        FROM hourly
        WINDOW w AS (ORDER BY h RANGE BETWEEN 24 PRECEDING
                     AND 1 PRECEDING))
    SELECT h, x, n,
           ROUND(s * 1.0 / n, 6) AS trail_mean,
           ROUND((x - s * 1.0 / n)
                 / sqrt((ss * 1.0 / n) - (s * 1.0 / n) * (s * 1.0 / n)
                        + 1.0), 6) AS z,
           CAST((x - s * 1.0 / n)
                / sqrt((ss * 1.0 / n) - (s * 1.0 / n) * (s * 1.0 / n)
                       + 1.0) > 3 AS BOOLEAN) AS spike
    FROM trail WHERE n >= 12
    """,
)
def q198_rate_spikes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trailing-window spike detection: each hour's event count scored
    against the mean/std of its own PRECEDING 24 hours (a RANGE frame
    ending at 1 PRECEDING — the current hour never contaminates its own
    baseline), z > 3 flags the spike; +1 inside the sqrt regularizes
    flat windows. The alerting primitive ops dashboards run — unlike
    q154's CUSUM it reacts to single-hour bursts, not slow drifts.
    Exact integer moments inside the frame; one window over the hourly
    rollup."""
    events = read_table(spark, sf_dir, "events")
    hourly = events.groupBy(
        F.floor(F.unix_micros("ts") / 3_600_000_000).cast("long").alias("h")
    ).agg(F.count("*").alias("x"))
    w = Window.orderBy("h").rangeBetween(-24, -1)
    trail = hourly.select(
        "h",
        "x",
        F.count("*").over(w).alias("n"),
        F.sum("x").over(w).cast("long").alias("s"),
        F.sum(F.col("x") * F.col("x")).over(w).cast("long").alias("ss"),
    ).filter(F.col("n") >= 12)
    mean = F.col("s") * 1.0 / F.col("n")
    z = (F.col("x") - mean) / F.sqrt(
        (F.col("ss") * 1.0 / F.col("n")) - mean * mean + 1.0
    )
    return trail.select(
        "h",
        "x",
        "n",
        F.round(mean, 6).alias("trail_mean"),
        F.round(z, 6).alias("z"),
        (z > 3).alias("spike"),
    )

@query(
    "q209_seasonal_profile",
    oracle="""
    WITH hourly AS (
        SELECT CAST(epoch_us(ts) // 3600000000 AS BIGINT) AS h,
               CAST(COUNT(*) AS BIGINT) AS x
        FROM events GROUP BY 1),
    keyed AS (SELECT h, x, CAST(h % 24 AS INTEGER) AS hod FROM hourly),
    prof AS (SELECT hod, CAST(COUNT(*) AS BIGINT) AS n,
                    CAST(SUM(x) AS BIGINT) AS s
             FROM keyed GROUP BY hod),
    g AS (SELECT CAST(SUM(n) AS BIGINT) AS nt, CAST(SUM(s) AS BIGINT) AS st,
                 CAST(SUM(ss) AS BIGINT) AS sst
          FROM (SELECT CAST(COUNT(*) AS BIGINT) AS n,
                       CAST(SUM(x) AS BIGINT) AS s,
                       CAST(SUM(x * x) AS BIGINT) AS ss
                FROM keyed)),
    r AS (SELECT SUM(p.n * (p.s * 1.0 / p.n - g.st * 1.0 / g.nt)
                     * (p.s * 1.0 / p.n - g.st * 1.0 / g.nt)) AS between_ss,
                 MAX(g.sst - g.st * 1.0 * g.st / g.nt) AS total_ss
          FROM prof p, g)
    SELECT p.hod, p.n AS n_hours,
           ROUND(p.s * 1.0 / p.n, 6) AS mean_rate,
           ROUND(p.s * 1.0 / p.n / (g.st * 1.0 / g.nt), 6) AS seasonal_index,
           ROUND(r.between_ss / r.total_ss, 6) AS variance_explained
    FROM prof p, g, r
    """,
)
def q209_seasonal_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hour-of-day seasonal profile with variance explained: the 24-slot
    mean-rate profile (seasonal index = slot mean / global mean) plus
    the fraction of hourly variance the profile alone explains
    (between-slot SS / total SS — the same decomposition as q201's
    Fisher ratio, applied to time). A variance_explained near 1 says
    'rate anomalies should be judged against the q198 trailing baseline,
    not a global one'. Exact integer moments; the 24-row profile and
    the 1-row globals cross-join at the end."""
    events = read_table(spark, sf_dir, "events")
    keyed = events.groupBy(
        F.floor(F.unix_micros("ts") / 3_600_000_000).cast("long").alias("h")
    ).agg(F.count("*").alias("x")).select(
        "x", (F.col("h") % 24).cast("int").alias("hod")
    )
    prof = keyed.groupBy("hod").agg(
        F.count("*").alias("n"), F.sum("x").cast("long").alias("s")
    )
    g = keyed.agg(
        F.count("*").cast("long").alias("nt"),
        F.sum("x").cast("long").alias("st"),
        F.sum(F.col("x") * F.col("x")).cast("long").alias("sst"),
    )
    gmean = F.col("st") * 1.0 / F.col("nt")
    smean = F.col("s") * 1.0 / F.col("n")
    r = prof.join(F.broadcast(g)).agg(
        F.sum(F.col("n") * (smean - gmean) * (smean - gmean)).alias(
            "between_ss"
        ),
        F.max(
            F.col("sst") - F.col("st") * 1.0 * F.col("st") / F.col("nt")
        ).alias("total_ss"),
    )
    return (
        prof.join(F.broadcast(g))
        .join(F.broadcast(r))
        .select(
            "hod",
            F.col("n").alias("n_hours"),
            F.round(smean, 6).alias("mean_rate"),
            F.round(smean / gmean, 6).alias("seasonal_index"),
            F.round(F.col("between_ss") / F.col("total_ss"), 6).alias(
                "variance_explained"
            ),
        )
    )


# ---------------------------------------------------------------------------
# Seasonal decomposition: trend / hour-of-day seasonal / residual
# ---------------------------------------------------------------------------


@query(
    "q241_seasonal_decompose",
    oracle=f"""
    WITH hourly AS (SELECT event_type,
                           epoch_us(ts) // 3600000000 AS hr,
                           CAST(hour(ts) AS INTEGER) AS hod,
                           {duck_unit_sum("value")} AS vc
                    FROM events GROUP BY 1, 2, 3),
    ma AS (SELECT event_type, hr, hod, vc,
                  SUM(vc) OVER (PARTITION BY event_type ORDER BY hr
                                ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
                      AS wsum,
                  COUNT(*) OVER (PARTITION BY event_type ORDER BY hr
                                 ROWS BETWEEN 12 PRECEDING AND 12 FOLLOWING)
                      AS wcnt
           FROM hourly),
    detr AS (SELECT event_type, hod,
                    CAST(vc - wsum // 25 AS BIGINT) AS d
             FROM ma WHERE wcnt = 25),
    seas AS (SELECT event_type, hod,
                    CAST(COUNT(*) AS BIGINT) AS n_hours,
                    CAST(SUM(d) AS BIGINT) AS sd,
                    CAST(CASE WHEN SUM(d) < 0 THEN -1 ELSE 1 END
                         * (ABS(CAST(SUM(d) AS BIGINT)) // COUNT(*))
                        AS BIGINT) AS s
             FROM detr GROUP BY event_type, hod),
    resid AS (SELECT d.event_type,
                     CAST(SUM(d.d * d.d) AS BIGINT) AS ss_detr,
                     CAST(SUM((d.d - s.s) * (d.d - s.s)) AS BIGINT)
                         AS ss_resid
              FROM detr d JOIN seas s
                ON d.event_type = s.event_type AND d.hod = s.hod
              GROUP BY d.event_type),
    strength AS (SELECT event_type,
                        ROUND(1.0 - ss_resid * 1.0 / ss_detr, 6)
                            AS seasonal_strength
                 FROM resid WHERE ss_detr > 0)
    SELECT s.event_type, s.hod, s.n_hours,
           ROUND(s.s / 100.0, 6) AS seasonal,
           st.seasonal_strength
    FROM seas s JOIN strength st ON s.event_type = st.event_type
    """,
)
def q241_seasonal_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical seasonal decomposition of each event type's hourly
    value series — trend by 25-hour centered moving average (the odd
    window keeps the average an exact integer floor), hour-of-day
    seasonal = per-hod mean of the detrended series (sign-guarded
    division — Spark's `div` and DuckDB's `//` truncate toward zero
    while Python's `//` floors, so unguarded division disagrees on
    negative sums otherwise), residual = what's left. The
    output is the 24-slot seasonal profile per type plus seasonal
    STRENGTH = 1 - SS_resid/SS_detrended (Hyndman's measure; how much of
    the de-trended variance the daily cycle explains) — the number that
    decides whether a forecast/anomaly job must model the cycle or can
    treat it as noise (q154's CUSUM and q117's drift both sharpen when
    fed deseasonalized series). Hourly sums, the moving average, both
    sums of squares — all exact BIGINTs; only the displayed seasonal
    value and strength ratio touch doubles.

    Scale (100 TB): the corpus reduces FIRST to (type, hour) cells — the
    windows run over the hourly rollup, never over raw events, and
    partition by type (no global window). Missing hours collapse out of
    the row-frame MA by design (documented gap-tolerance; q99 is the
    gap-FILLING member of the family)."""
    events = read_table(spark, sf_dir, "events")
    hourly = (
        events.groupBy(
            "event_type",
            F.expr("unix_micros(ts) div 3600000000").alias("hr"),
            F.hour("ts").cast("int").alias("hod"),
        )
        .agg(exact_sum(F.col("value"), 2).alias("_v"))
        .select(
            "event_type",
            "hr",
            "hod",
            F.round(F.col("_v") * 100).cast("long").alias("vc"),
        )
    )
    wma = (
        Window.partitionBy("event_type")
        .orderBy("hr")
        .rowsBetween(-12, 12)
    )
    ma = hourly.select(
        "event_type",
        "hod",
        "vc",
        F.sum("vc").over(wma).alias("wsum"),
        F.count("*").over(wma).alias("wcnt"),
    )
    detr = ma.filter(F.col("wcnt") == 25).select(
        "event_type",
        "hod",
        (F.col("vc") - F.expr("wsum div 25")).alias("d"),
    )
    seas = detr.groupBy("event_type", "hod").agg(
        F.count("*").alias("n_hours"),
        F.sum("d").alias("sd"),
    ).select(
        "event_type",
        "hod",
        "n_hours",
        (
            F.when(F.col("sd") < 0, -1).otherwise(1)
            * F.expr("abs(sd) div n_hours")
        ).alias("s"),
    )
    resid = (
        detr.join(F.broadcast(seas), ["event_type", "hod"])
        .groupBy("event_type")
        .agg(
            F.sum(F.col("d") * F.col("d")).alias("ss_detr"),
            F.sum(
                (F.col("d") - F.col("s")) * (F.col("d") - F.col("s"))
            ).alias("ss_resid"),
        )
    )
    strength = resid.filter(F.col("ss_detr") > 0).select(
        "event_type",
        F.round(
            1.0 - F.col("ss_resid") * 1.0 / F.col("ss_detr"), 6
        ).alias("seasonal_strength"),
    )
    return seas.join(F.broadcast(strength), "event_type").select(
        "event_type",
        "hod",
        "n_hours",
        F.round(F.col("s") / 100.0, 6).alias("seasonal"),
        "seasonal_strength",
    )
