"""Sampling/split/decontamination operator tests (operators/sampling.py).
Oracle parity is covered by check_oracle (q85-q87); these pin the
pipeline-contract properties: split determinism, quota exactness, and
decontamination self-exclusion."""

import os
import sys

import duckdb
from pyspark.sql import functions as F

from hive_reflex_spark.io import TABLES
from hive_reflex_spark.operators.sampling import (
    SAMPLE_PER_STRATUM,
    q85_hash_split,
    q86_stratified_sample,
    q87_decontaminate,
    q262_coverage_selection,
)
from hive_reflex_spark.registry import ORACLES

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
)
from check_oracle import canon_rows  # noqa: E402


def test_split_fractions_and_totals(spark, sf_smoke):
    rows = {r["split"]: r for r in q85_hash_split(spark, sf_smoke).collect()}
    assert set(rows) == {"train", "val", "test"}
    total = sum(r["n_docs"] for r in rows.values())
    # keyspace fractions are 205/25/26 of 256; allow sampling slack on
    # the small fixture but train must dominate and val/test stay minor
    assert rows["train"]["n_docs"] / total > 0.7
    assert rows["val"]["n_docs"] / total < 0.2
    assert rows["test"]["n_docs"] / total < 0.2


def test_split_is_deterministic_rerun(spark, sf_smoke):
    a = sorted(map(tuple, q85_hash_split(spark, sf_smoke).collect()))
    b = sorted(map(tuple, q85_hash_split(spark, sf_smoke).collect()))
    assert a == b


def test_stratified_quota_exact(spark, sf_smoke):
    df = q86_stratified_sample(spark, sf_smoke)
    per = df.groupBy("lang").count().collect()
    assert per, "no strata sampled"
    for r in per:
        assert r["count"] <= SAMPLE_PER_STRATUM
    # no duplicate docs and ranks are 1..k per stratum
    n = df.count()
    assert df.select("doc_id").distinct().count() == n
    assert df.filter(
        (F.col("smp_rank") < 1) | (F.col("smp_rank") > SAMPLE_PER_STRATUM)
    ).count() == 0


def test_decontaminate_excludes_benchmark_docs(spark, sf_smoke):
    df = q87_decontaminate(spark, sf_smoke)
    # benchmark docs must never flag themselves as contaminated
    assert df.filter(F.col("doc_id") % 97 == 0).count() == 0
    # hit counts are positive by construction (inner join)
    assert df.filter(F.col("n_hit_shingles") < 1).count() == 0


def test_kmeans_converges(spark, sf_smoke):
    """Lloyd invariants on the fixture: inertia non-increasing, centroid
    movement shrinking, no cluster lost (seeds are data points)."""
    from hive_reflex_spark.operators.similarity import q88_ivf_kmeans

    hist = q88_ivf_kmeans(spark, sf_smoke).orderBy("iter").collect()
    assert len(hist) >= 2
    assert hist[1]["inertia"] < hist[0]["inertia"]
    assert hist[1]["centroid_shift"] < hist[0]["centroid_shift"]
    assert all(h["k_live"] == hist[0]["k_live"] for h in hist)
    assert all(h["centroid_shift"] > 0 for h in hist)


def test_sequence_pack_fills_exactly(spark, sf_smoke):
    """Packing invariants: every window except each partition's tail
    holds exactly CTX_LEN tokens; no tokens lost or invented; carried
    docs only ever carry from the immediately preceding window."""
    from hive_reflex_spark.operators.sampling import (
        CTX_LEN,
        q89_sequence_pack,
    )
    from hive_reflex_spark.io import read_table

    rows = q89_sequence_pack(spark, sf_smoke).collect()
    assert rows
    tails = {}
    for r in rows:
        tails[r["pid"]] = max(tails.get(r["pid"], -1), r["window_id"])
    for r in rows:
        if r["window_id"] < tails[r["pid"]]:
            assert r["n_tokens"] == CTX_LEN, r
        else:
            assert 0 < r["n_tokens"] <= CTX_LEN, r
        assert r["n_carried"] <= 1 or r["n_docs"] >= r["n_carried"]
    total_packed = sum(r["n_tokens"] for r in rows)
    docs = read_table(spark, sf_smoke, "documents")
    from pyspark.sql import functions as F2

    total_tokens = docs.select(
        F2.sum(F2.size(F2.split("text", " "))).alias("t")
    ).first()["t"]
    assert total_packed == total_tokens


def test_domain_mixture_flattens(spark, sf_smoke):
    """alpha=0.5 mixing: weights are a distribution, and the map
    p -> p^0.5 strictly flattens — smaller domains always get a larger
    upsampling ratio (mix_weight/nat_frac) than bigger ones."""
    from hive_reflex_spark.operators.sampling import q93_domain_mixture

    rows = q93_domain_mixture(spark, sf_smoke).collect()
    assert rows
    assert abs(sum(r["mix_weight"] for r in rows) - 1.0) < 1e-4
    assert abs(sum(r["nat_frac"] for r in rows) - 1.0) < 1e-4
    by_tokens = sorted(rows, key=lambda r: r["n_tokens"])
    ratios = [r["mix_weight"] / r["nat_frac"] for r in by_tokens]
    assert all(
        a >= b - 1e-9 for a, b in zip(ratios, ratios[1:])
    ), "upsampling ratio must fall as domain size grows"
    for r in rows:
        assert r["epochs_at_budget"] > 0


def test_budget_allocation_sums_exactly(spark, sf_smoke):
    """Largest-remainder contract: integer allocations sum EXACTLY to the
    budget, and every allocation is base or base+1."""
    import __spark_entry__ as em
    from hive_reflex_spark.operators.analytics import _ALLOC_BUDGET

    rows = em.queries()["q214_budget_allocation"](spark, sf_smoke).collect()
    assert sum(r.allocated for r in rows) == _ALLOC_BUDGET
    assert all(r.allocated in (r.base, r.base + 1) for r in rows)


def test_triplet_negatives_never_anchor_or_positive_heavy(spark, sf_smoke):
    """q187: negatives are structurally never the anchor; each anchor has
    exactly K negative rows."""
    import collections

    import __spark_entry__ as em
    from hive_reflex_spark.operators.sampling import _NEG_K

    rows = em.queries()["q187_triplet_dataset"](spark, sf_smoke).collect()
    per_anchor = collections.Counter(r.anchor for r in rows)
    assert all(v == _NEG_K for v in per_anchor.values())
    assert all(r.neg_id != r.anchor for r in rows)


def test_coverage_selection_is_submodular_greedy(spark, sf_smoke):
    """Greedy max-coverage invariants: marginal gains are non-increasing
    (submodularity of the greedy sequence), running coverage is the
    cumulative gain sum, and the fraction is monotone in (0, 1]."""
    rows = sorted(
        q262_coverage_selection(spark, sf_smoke).collect(),
        key=lambda r: r.rank,
    )
    assert rows and rows[0].rank == 1
    gains = [r.gain for r in rows]
    assert gains == sorted(gains, reverse=True)
    cum = 0
    prev_frac = 0.0
    for r in rows:
        cum += r.gain
        assert r.covered == cum
        assert prev_frac <= r.coverage_frac <= 1.0
        prev_frac = r.coverage_frac


def test_coverage_oracle_fits_bounded_duckdb_memory(spark, sf_smoke):
    """q262's oracle unrolls the greedy as CTEs; each step is
    MATERIALIZED, so no later step re-expands the earlier ones. It runs
    in 2 GB of DuckDB memory and matches the Spark build row for row."""
    con = duckdb.connect()
    con.execute("SET memory_limit='2GB'")
    for t in TABLES:
        p = os.path.join(sf_smoke, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")
    res = con.execute(ORACLES["q262_coverage_selection"])
    want = canon_rows([d[0] for d in res.description], res.fetchall())
    sdf = q262_coverage_selection(spark, sf_smoke)
    got = canon_rows(sdf.columns, [tuple(r) for r in sdf.collect()])
    assert want[1] and got == want
