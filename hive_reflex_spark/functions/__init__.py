"""Reusable column-expression builders.

The ``exact_*`` helpers solve SURVEY §7 watch-list #4 (float nondeterminism
in distributed sums): quantize to integer units (cents / 1e-4 units), sum
as BIGINT (order-independent, exact), divide back once. Spark and DuckDB
then produce bit-identical doubles regardless of partitioning/merge order,
so the driver's value-hash comparison is stable at any scale factor.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F


def exact_sum(col: Column, scale: int = 2) -> Column:
    """Order-independent SUM of a fixed-point double column.

    Exact for values with <= ``scale`` meaningful decimals (money, rates).
    """
    p = 10**scale
    return F.sum(F.round(col * p).cast("long")) / float(p)


def spark_exact_sum(expr: str, scale: int = 2) -> str:
    """Spark-SQL-text twin of :func:`exact_sum` for F.expr construction.

    Emits the same plan as the Column form (sum(cast(round(x*p) as
    bigint))/p) in ONE parsed string instead of several Py4J round-trips
    — used by hot-path queries where Python-side plan-build time is
    measurable. The ``D`` suffix forces a DOUBLE literal (bare decimal
    literals parse as DECIMAL in Spark SQL and would change the result
    type)."""
    p = 10**scale
    return f"sum(CAST(round(({expr}) * {p}) AS BIGINT)) / {p}.0D"


def spark_exact_sum_unit(expr: str, scale: int = 2) -> str:
    """:func:`spark_exact_sum` fast path for UNIT-EXACT nonnegative
    columns — values that are integer-valued at 10^``scale`` by data
    contract (money in cents, rates quoted to 4dp, integer quantities).

    Spark's ``round()`` on a double goes through a per-value BigDecimal
    (HALF_UP on the decimal expansion) — measured 2.4x the whole
    aggregate's cost on q01 at sf1. For unit-exact inputs the scaled
    value is k ± a-few-ulps, so BigDecimal HALF_UP, DuckDB's binary
    ROUND, and floor(y + 0.5) all land on the same k — there is no
    rounding decision to disagree on — and the floor form is a plain
    multiply-add-cast that stays inside whole-stage codegen.

    DO NOT use on computed expressions with MORE precision than the
    unit (e.g. q01's charge = 6dp-exact summed at 4 units) or on
    possibly-negative values: there the three schemes genuinely round
    and the .5-epsilon class reappears — keep :func:`spark_exact_sum`
    (its BigDecimal matches DuckDB's ROUND on the shared binary value).
    Equality with the round() form on unit-exact data is pinned by
    ``tests/test_properties.py::test_unit_exact_sum_equals_round_form``."""
    p = 10**scale
    return f"sum(CAST(({expr}) * {p} + 0.5D AS BIGINT)) / {p}.0D"


# Rounding an exact 1e-9-unit sum DOWN to 6 decimals with float ROUND is an
# engine-parity trap: when the sum lands on ...500 units the true value sits
# exactly on the 6th-decimal .5 boundary, and Spark (BigDecimal of the
# double's shortest decimal repr, HALF_UP) disagrees with DuckDB (binary
# nearbyint of x*1e6) — observed at sf1 on q66c (1/16384 rows). The safe
# idiom does the half-up AT THE INTEGER LEVEL: out_u = floor((sum_u+500)/
# 1000) is pure BIGINT-exact arithmetic, identical on any engine, and
# out_u/1e6 is the same double everywhere. floor of the IEEE quotient equals
# the true floor for |sum_u| < 2^52 (quotients are never within an ulp of an
# integer unless exact).


def duck_unit_sum(expr: str, scale: int = 2) -> str:
    """DuckDB oracle twin of the integer-unit SUM inside :func:`exact_sum`:
    the BIGINT count of 10^-``scale`` units (the outer CAST undoes
    DuckDB's widening of a BIGINT SUM to HUGEINT)."""
    p = 10**scale
    return f"CAST(SUM(CAST(ROUND(({expr}) * {p}) AS BIGINT)) AS BIGINT)"


def duck_exact_sum(expr: str, scale: int = 2) -> str:
    """DuckDB oracle twin of :func:`exact_sum`."""
    return f"{duck_unit_sum(expr, scale)} / {10**scale}.0"


def exact_sum_round6(col: Column, in_scale: int = 9) -> Column:
    """Exact sum in 1e-``in_scale`` units, emitted half-up-rounded to 6
    decimals via integer arithmetic (engine-parity-safe)."""
    p_in = 10**in_scale
    div = p_in // 1_000_000
    half = div // 2
    sum_u = F.sum(F.round(col * p_in).cast("long"))
    return F.floor((sum_u + F.lit(half)) / float(div)).cast("long") / 1e6


def spark_exact_sum_round6(expr: str, in_scale: int = 9) -> str:
    """SQL-text twin of :func:`exact_sum_round6`."""
    p_in = 10**in_scale
    div = p_in // 1_000_000
    half = div // 2
    return (
        f"CAST(FLOOR((sum(CAST(round(({expr}) * {p_in}) AS BIGINT))"
        f" + {half}) / {div}.0D) AS BIGINT) / 1000000.0D"
    )


def duck_exact_sum_round6(expr: str, in_scale: int = 9) -> str:
    """DuckDB oracle twin of :func:`exact_sum_round6`."""
    div = 10**in_scale // 1_000_000
    return (
        f"CAST(FLOOR(({duck_unit_sum(expr, in_scale)} + {div // 2})"
        f" / {div}.0) AS BIGINT) / 1000000.0"
    )


def dyadic_md5_uniform(expr: str) -> Column:
    """Exact dyadic md5-derived uniform in (0, 1): the first 10 hex
    digits of md5(CAST(expr AS STRING)) as a base-16 polynomial — every
    term is exact in binary64, so Spark and DuckDB build the IDENTICAL
    uniform from the identical hash (no hex->int builtin needed).
    Shared by q124's A-ES keys and the KMV sketch family
    (q268/q268a/q277). ``expr`` is a SQL expression string (a column
    name or cast-able expression)."""
    return sum(
        (
            F.expr(
                "instr('0123456789abcdef', "
                f"substr(md5(CAST(({expr}) AS STRING)), {i + 1}, 1)) - 1"
            )
            * (16.0 ** -(i + 1))
        )
        for i in range(10)
    )


def duck_dyadic_md5_uniform(expr: str) -> str:
    """DuckDB SQL twin of :func:`dyadic_md5_uniform`."""
    return " + ".join(
        "(instr('0123456789abcdef', "
        f"substr(md5(CAST(({expr}) AS VARCHAR)), {i + 1}, 1)) - 1)"
        f" * {16.0 ** -(i + 1)!r}"
        for i in range(10)
    )


# ---------------------------------------------------------------------------
# CountSketch keying (shared by operators.analytics q290 and
# streaming.ops q290a — it lives HERE, outside the operators package,
# so the streaming oracle can build at import time without triggering
# operators/__init__'s finalize_order mid-registration)
# ---------------------------------------------------------------------------

# KMV sketch size (shared by the analytics KMV family and the
# streaming twin's import-safe oracle): rse ~ 1/sqrt(k-2) ~ 18%.
KMV_K = 32

# 4 independent md5-keyed rows x 16 signed buckets (the CMS grid shape
# with signs) — enough rows for a middle-two median, small enough that
# the sketch is a 64-int state. NOTE: the bucket is the FIRST md5 hex
# nibble (0-15), so _CS_BUCKETS must stay 16 unless the keying below
# widens to more hex chars.
_CS_ROWS = 4
_CS_BUCKETS = 16
# explicit raise (not assert — load-bearing, must survive `python -O`)
if _CS_BUCKETS != 16:
    raise ValueError(
        "_CS_BUCKETS must be 16: bucket = one md5 hex nibble; widen the "
        "keying in _cs_keyed_sql before changing the grid"
    )
# the two middle order statistics of the _CS_ROWS row estimates — their
# sum is the exact-integer 2*median the report emits
_CS_MID = (_CS_ROWS // 2, _CS_ROWS // 2 + 1)
_CS_ROWS_VALUES = ", ".join(f"({j})" for j in range(1, _CS_ROWS + 1))


def _cs_keyed_sql(uexpr: str) -> str:
    """DuckDB fragment: the (j, bucket, sgn) CountSketch keying of one
    key expression — the ONE hash definition shared by q290's batch
    oracle and q290a's stream oracle (rows_j must be in scope)."""
    return f"""CAST(instr('0123456789abcdef',
                     substr(md5('h' || CAST(rows_j.j AS VARCHAR) || ':'
                            || CAST({uexpr} AS VARCHAR)), 1, 1)) - 1
                AS BIGINT) % {_CS_BUCKETS} AS bucket,
           CASE WHEN instr('0123456789abcdef',
                     substr(md5('s' || CAST(rows_j.j AS VARCHAR) || ':'
                            || CAST({uexpr} AS VARCHAR)), 1, 1)) - 1 < 8
                THEN 1 ELSE -1 END AS sgn"""


def cs_keyed(df: DataFrame) -> DataFrame:
    """(everything in df, j, bucket, sgn): the Spark twin of
    _cs_keyed_sql over df.user_id, expanded x _CS_ROWS. Shared by q290
    (batch grid + report) and q290a (streaming grid maintenance)."""
    rows_j = (
        df.sparkSession.range(1, _CS_ROWS + 1)
        .select(F.col("id").alias("j"))
    )
    hkey = F.md5(
        F.concat(
            F.lit("h"),
            F.col("j").cast("string"),
            F.lit(":"),
            F.col("user_id").cast("string"),
        )
    )
    skey = F.md5(
        F.concat(
            F.lit("s"),
            F.col("j").cast("string"),
            F.lit(":"),
            F.col("user_id").cast("string"),
        )
    )
    hexpos = F.expr("instr('0123456789abcdef', substr(hk, 1, 1)) - 1")
    sexpos = F.expr("instr('0123456789abcdef', substr(sk, 1, 1)) - 1")
    return (
        df.join(F.broadcast(rows_j))
        .withColumn("hk", hkey)
        .withColumn("sk", skey)
        .select(
            *df.columns,
            "j",
            (hexpos % _CS_BUCKETS).cast("long").alias("bucket"),
            F.when(sexpos < 8, 1).otherwise(-1).alias("sgn"),
        )
    )


