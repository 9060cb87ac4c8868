"""Semantic tests for dedup + similarity: LSH candidates must cover the
exact-Jaccard near-dups; the array fast path must agree with the
coordinate-table baseline."""

from __future__ import annotations

from pyspark.sql import functions as F

from hive_reflex_spark.operators.dedup import (
    q47_jaccard_pairs,
    q49_lsh_candidates,
)
from hive_reflex_spark.operators.similarity import (
    q51_cosine_topk,
    q52_cosine_topk_arrays,
)


def test_lsh_covers_exact_jaccard_pairs(spark, sf_smoke):
    """Every J>=0.8 pair must appear among LSH candidates (4 bands of 2,
    P(miss) = (1-J^2)^4 < 2% at J=0.8 — the fixture's planted dups are
    J~0.9+, so full coverage is expected)."""
    exact = {
        (r.doc_a, r.doc_b)
        for r in q47_jaccard_pairs(spark, sf_smoke).filter(
            F.col("jaccard") >= 0.8
        ).collect()
    }
    cand = {
        (r.doc_a, r.doc_b)
        for r in q49_lsh_candidates(spark, sf_smoke).collect()
    }
    assert exact, "fixture should contain planted near-duplicates"
    missed = exact - cand
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"


def test_array_fastpath_matches_coordinate_baseline(spark, sf_smoke):
    """q52 (zip_with/aggregate fold) must return the same ranked neighbors
    as q51 (coordinate join) — same ids and cosines to 4dp."""
    base = {
        (r.query_id, r.rnk): (r.neighbor_id, round(r.cosine, 4))
        for r in q51_cosine_topk(spark, sf_smoke).collect()
    }
    fast = {
        (r.query_id, r.rnk): (r.neighbor_id, round(r.cosine, 4))
        for r in q52_cosine_topk_arrays(spark, sf_smoke).collect()
    }
    assert base == fast


def test_ivf_recall_vs_brute_force(spark, sf_smoke):
    """q54b (IVF, n_probe=2 over 10 clusters) must recover a reasonable
    fraction of q51's exact top-5 (random gaussian corpus → clusters
    are weak, so the bar is recall@5 >= 0.3)."""
    from hive_reflex_spark.operators.similarity import q54b_ivf_topk

    base = {}
    for r in q51_cosine_topk(spark, sf_smoke).collect():
        base.setdefault(r.query_id, set()).add(r.neighbor_id)
    got = {}
    for r in q54b_ivf_topk(spark, sf_smoke).collect():
        got.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = [
        len(base[q] & got.get(q, set())) / len(base[q]) for q in base
    ]
    assert sum(recalls) / len(recalls) >= 0.3, recalls


def test_neardup_filter_keep_first(spark, sf_smoke):
    """q94 keep-first: the drop set is exactly {larger id of every
    LSH-candidate pair that verifies at J >= 0.5}, so it can never drop
    more docs than q47's exact pair list implies, and every source's
    counts are conserved."""
    from hive_reflex_spark.operators.dedup import (
        q47_jaccard_pairs,
        q49_lsh_candidates,
        q94_neardup_filter,
    )

    cand = {
        (r["doc_a"], r["doc_b"])
        for r in q49_lsh_candidates(spark, sf_smoke).collect()
    }
    exact = {
        (r["doc_a"], r["doc_b"])
        for r in q47_jaccard_pairs(spark, sf_smoke).collect()
    }
    expected_drop = {b for a, b in exact & cand}
    rows = q94_neardup_filter(spark, sf_smoke).collect()
    assert sum(r["n_dropped"] for r in rows) == len(expected_drop)
    for r in rows:
        assert r["n_kept"] + r["n_dropped"] == r["n_docs"]
        assert abs(r["retention"] - r["n_kept"] / r["n_docs"]) < 1e-6


def test_embedding_int8_fidelity(spark, sf_smoke):
    """int8 quantization: error per coordinate is bounded by scale/2 =
    max|v|/254, so mean cosine stays ~1 and mse is tiny but nonzero."""
    from hive_reflex_spark.operators.similarity import q96_embedding_int8

    rows = q96_embedding_int8(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert 0.999 < r["mean_cosine"] <= 1.0, r
        assert 0 < r["mse"] < 1e-4, r
        assert 0 < r["max_abs_err"] < 0.05, r


def test_embedding_int8_exact_grid(spark):
    """A vector already on the int8 grid (k * max/127) reconstructs with
    zero error and cosine exactly 1."""
    import hive_reflex_spark.operators.similarity as sim

    df = spark.createDataFrame(
        [(0, [127.0, -127.0, 64.0, 1.0, 0.0], 0)],
        "vec_id long, embedding array<double>, label int",
    )
    orig = sim.embedding_coords
    try:
        from pyspark.sql import functions as F2

        sim.embedding_coords = lambda *_a, **_k: df.select(
            "vec_id", "label", F2.posexplode("embedding").alias("dim", "v")
        )
        r = sim.q96_embedding_int8(spark, "unused").collect()[0]
        assert r["mse"] == 0.0 and r["max_abs_err"] == 0.0
        assert r["mean_cosine"] == 1.0
    finally:
        sim.embedding_coords = orig


def test_pq_refine_reduces_quantization_error(spark, sf_smoke):
    """One Lloyd step on the PQ codebooks must not increase total
    quantization error (monotonicity), and every vector gets exactly one
    code per subspace."""
    from pyspark.sql import functions as F

    from hive_reflex_spark.operators.similarity import _pq_sub, pq_train
    from hive_reflex_spark.operators.tensor import embedding_coords

    coords = _pq_sub(
        embedding_coords(spark, sf_smoke).select("vec_id", "dim", "v")
    ).persist()
    _, a1, a0 = pq_train(spark, coords)
    a0, a1 = a0.persist(), a1.persist()

    n_vec = coords.select("vec_id").distinct().count()
    n_sub = coords.select("sub").distinct().count()
    assert a1.count() == n_vec * n_sub  # exactly one code per (vec, sub)

    e0 = a0.agg(F.sum("d2")).first()[0]
    e1 = a1.agg(F.sum("d2")).first()[0]
    assert e1 <= e0 + 1e-6, (e0, e1)
    # the refinement should actually move the needle, not be a no-op
    assert e1 < e0 * 0.999, (e0, e1)
    # don't leak cached PQ fragments into later (plan-shape) tests
    spark.catalog.clearCache()


def test_repeated_spans_flags_planted_overlap(spark, tmp_path):
    """Two docs sharing an exact 48-char run must both get dup spans;
    an unrelated doc must not."""
    import os

    shared = "the quick brown fox jumps over twelve lazy dogs!"  # 48 chars
    assert len(shared) == 48
    docs = [
        (1, "A" * 40 + shared + "B" * 40),
        (2, "C" * 40 + shared + "D" * 40),
        (3, "totally unrelated content with no overlap at all here" * 3),
    ]
    d = str(tmp_path / "plant")
    os.makedirs(d)
    spark.createDataFrame(
        [(i, t, "en", "src", len(t)) for i, t in docs],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).write.parquet(os.path.join(d, "documents.parquet"))

    from hive_reflex_spark.operators.dedup import q103_repeated_spans

    got = {r.doc_id: r for r in q103_repeated_spans(spark, d).collect()}
    assert got[1].n_dup_spans > 0 and got[2].n_dup_spans > 0
    assert got[3].n_dup_spans == 0
    assert 0 < got[1].dup_frac < 1


def test_pq_adc_respects_quantization_bound(spark, sf_smoke):
    """ADC correctness: with exact queries, the approximate distance
    ||q - c(v)|| must lie within ||v - c(v)|| of the true ||q - v||
    (reverse triangle inequality) — a rigorous machinery check that holds
    on ANY corpus. Plus a weak recall floor on the unstructured fixture."""
    import numpy as np

    from hive_reflex_spark.operators.similarity import (
        _pq_sub,
        pq_topk,
        pq_train,
    )
    from hive_reflex_spark.operators.tensor import embedding_coords

    qids = [3, 17, 101]
    coords = _pq_sub(
        embedding_coords(spark, sf_smoke).select("vec_id", "dim", "v")
    ).persist()
    _, assignment, _ = pq_train(spark, coords)
    qerr = {
        r.vec_id: r.q2
        for r in assignment.groupBy("vec_id")
        .agg(F.sum("d2").alias("q2"))
        .collect()
    }
    E = {}
    for r in coords.collect():
        E.setdefault(r.vec_id, np.zeros(64))[r.dim] = r.v

    got = pq_topk(spark, sf_smoke, qids, k=600).collect()  # all neighbors
    assert got, "ADC returned nothing"
    for r in got:
        true = float(np.sqrt(np.sum((E[r.query_id] - E[r.neighbor_id]) ** 2)))
        approx = float(np.sqrt(r.adist))
        slack = float(np.sqrt(qerr[r.neighbor_id])) + 1e-4
        assert abs(approx - true) <= slack, (
            r.query_id, r.neighbor_id, approx, true, slack,
        )

    # weak recall floor (random gaussian corpus, 10 codes x 4 subspaces)
    byq = {}
    for r in got:
        if r.rnk <= 10:
            byq.setdefault(r.query_id, set()).add(r.neighbor_id)
    recalls = []
    for qid in qids:
        d = sorted(
            (float(np.sum((E[qid] - E[v]) ** 2)), v) for v in E if v != qid
        )[:10]
        exact = {v for _, v in d}
        recalls.append(len(exact & byq[qid]) / 10)
    assert sum(recalls) / len(recalls) >= 0.05, recalls
    spark.catalog.clearCache()


def test_diversity_sample_keeps_sqrt_per_cluster(spark, sf_smoke):
    """q106: every cluster keeps exactly ceil(sqrt(n_members))
    prototypes (its size permitting), ranked contiguously from 1."""
    import math

    from hive_reflex_spark.operators.similarity import q106_diversity_sample

    rows = q106_diversity_sample(spark, sf_smoke).collect()
    by_c = {}
    for r in rows:
        by_c.setdefault(r.centroid_id, []).append(r)
    assert by_c
    for cid, kept in by_c.items():
        n_members = kept[0].n_members
        want = min(math.ceil(math.sqrt(n_members)), n_members)
        assert len(kept) == want, (cid, len(kept), want)
        assert sorted(r.rnk for r in kept) == list(range(1, want + 1))


def test_ivfpq_composes_probe_restriction_with_adc(spark, sf_smoke):
    """IVF-PQ (q102b): every returned neighbor lies in one of its query's
    probed coarse clusters, its adist equals full ADC's for the same
    pair, and recall vs full ADC top-5 (q102a) is reasonable for
    n_probe=2 of 10."""
    from hive_reflex_spark.operators.similarity import (
        N_PROBE,
        PQ_N_QUERIES,
        _coarse_ranked,
        _pq_coords,
        pq_topk,
        q102a_pq_adc_topk,
        q102b_ivfpq_topk,
    )

    qids = list(range(PQ_N_QUERIES))
    full = {(r.query_id, r.neighbor_id)
            for r in q102a_pq_adc_topk(spark, sf_smoke).collect()}
    got = q102b_ivfpq_topk(spark, sf_smoke).collect()
    assert got, "ivf-pq returned nothing"
    ranked = _coarse_ranked(_pq_coords(spark, sf_smoke)).collect()
    cluster = {r.vec_id: r.cid for r in ranked if r.rn == 1}
    probes = {}
    for r in ranked:
        if r.vec_id in qids and r.rn <= N_PROBE:
            probes.setdefault(r.vec_id, set()).add(r.cid)
    all_adc = {
        (r.query_id, r.neighbor_id): r.adist
        for r in pq_topk(spark, sf_smoke, qids, k=600).collect()
    }
    for r in got:
        assert cluster[r.neighbor_id] in probes[r.query_id], r
        # same scoring machinery: adist must match full ADC exactly
        assert abs(all_adc[(r.query_id, r.neighbor_id)] - r.adist) < 1e-9
    recalls = [
        len({r.neighbor_id for r in got if r.query_id == qid}
            & {n for q, n in full if q == qid}) / 5
        for qid in qids
    ]
    assert sum(recalls) / len(recalls) >= 0.2, recalls
    spark.catalog.clearCache()


def test_ivfpq_query_restricts_candidates(spark, sf_smoke):
    """q102b must score only probed-cluster candidates: the result
    differs from unrestricted ADC (q102a — the restriction is live) and
    both rank exactly top-5 per query."""
    from hive_reflex_spark.operators.similarity import (
        PQ_N_QUERIES,
        q102a_pq_adc_topk,
        q102b_ivfpq_topk,
    )

    full = {(r.query_id, r.neighbor_id)
            for r in q102a_pq_adc_topk(spark, sf_smoke).collect()}
    ivf = {(r.query_id, r.neighbor_id)
           for r in q102b_ivfpq_topk(spark, sf_smoke).collect()}
    assert len(ivf) == len(full) == PQ_N_QUERIES * 5
    assert ivf != full  # probing actually restricted the pool


def test_numpy_matmul_path_matches_coordinate_baseline(spark, sf_smoke):
    """q52b (Arrow/numpy BLAS matmul) must rank identically to q51's
    coordinate join — same neighbors and cosines to 4dp."""
    import __spark_entry__ as em

    base = {
        (r.query_id, r.rnk): (r.neighbor_id, round(r.cosine, 4))
        for r in q51_cosine_topk(spark, sf_smoke).collect()
    }
    fast = {
        (r.query_id, r.rnk): (r.neighbor_id, round(r.cosine, 4))
        for r in em.queries()["q52b_cosine_topk_numpy"](
            spark, sf_smoke
        ).collect()
    }
    assert base == fast


def test_prefix_filter_is_lossless(spark, sf_smoke):
    """q258's stacked PPJoin filters (prefix + length + positional) must
    find EVERY representative pair with uncapped shingle-Jaccard >= 0.5
    — verified against a brute-force all-pairs computation on collected
    shingle sets, after the same exact-dup canonicalization."""
    from hive_reflex_spark.operators.dedup import (
        PPJOIN_CAP,
        distinct_shingles,
        q258_prefix_filter_join,
    )
    from pyspark.sql import functions as F

    got = {
        (r.rep_a, r.rep_b): (r.intersection, r.union_size)
        for r in q258_prefix_filter_join(spark, sf_smoke).collect()
    }
    sets: dict[int, set] = {}
    for r in (
        distinct_shingles(spark, sf_smoke)
        .filter(F.col("doc_id") < PPJOIN_CAP)
        .collect()
    ):
        sets.setdefault(r.doc_id, set()).add(r.shingle)
    # canonicalize: one representative (min doc_id) per distinct set
    by_sig: dict[frozenset, int] = {}
    for d in sorted(sets):
        by_sig.setdefault(frozenset(sets[d]), d)
    reps = sorted(by_sig.values())
    want = {}
    for i, da in enumerate(reps):
        for db in reps[i + 1 :]:
            inter = len(sets[da] & sets[db])
            union = len(sets[da] | sets[db])
            if union and 2 * inter >= union:
                want[(da, db)] = (inter, union)
    assert want, "fixture should contain J>=0.5 pairs"
    assert got == want


def test_q47_length_filter_is_lossless(spark, sf_smoke):
    """q47's r13 length filter (drop a pair at generation when
    2*min(na,nb) < max(na,nb)) must change NOTHING about the J >= 0.5
    output: every pruned pair provably has J <= min/max < 1/2, and a
    surviving pair keeps its exact intersection count (the predicate is
    constant per pair). Verified three ways: pruned-vs-unpruned gated
    streams identical, the unpruned stream really contains pairs the
    filter prunes (the test bites), and no surviving pair violates the
    length bound."""
    from pyspark.sql import functions as F

    from hive_reflex_spark.operators.dedup import collision_jaccard_pairs

    gate = F.col("jac") >= 0.5
    pruned = {
        (r.doc_a, r.doc_b): (r.intersection, r.union_size)
        for r in collision_jaccard_pairs(
            spark, sf_smoke, prune_below_half=True
        ).filter(gate).collect()
    }
    full = collision_jaccard_pairs(spark, sf_smoke).collect()
    unpruned = {
        (r.doc_a, r.doc_b): (r.intersection, r.union_size)
        for r in full
        if r.jac >= 0.5
    }
    assert pruned == unpruned
    assert unpruned, "fixture should contain J>=0.5 pairs"
    # the filter must actually prune something on this fixture —
    # otherwise the equality above is vacuous
    pruned_all = collision_jaccard_pairs(
        spark, sf_smoke, prune_below_half=True
    ).count()
    assert pruned_all < len(full), (
        "length filter pruned nothing — the losslessness check is vacuous"
    )
    # and every pruned pair is below the gate: the pairs dropped from
    # the full stream are exactly those with 2*min < max, all J < 0.5
    kept = {
        (r.doc_a, r.doc_b)
        for r in collision_jaccard_pairs(
            spark, sf_smoke, prune_below_half=True
        ).collect()
    }
    for r in full:
        if (r.doc_a, r.doc_b) not in kept:
            assert r.jac < 0.5, (
                f"length filter dropped a qualifying pair: {r}"
            )


def test_containment_dominates_jaccard(spark, sf_smoke):
    """Containment invariants: C >= 0.7 on every emitted row, and
    C >= J always (the union is at least the contained set), with
    strict dominance whenever sizes differ."""
    from hive_reflex_spark.operators.dedup import q263_containment_pairs

    rows = q263_containment_pairs(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert r.containment >= 0.7 - 1e-9
        assert r.containment >= r.jaccard - 1e-9
        assert r.intersection <= r.contained_size
        if r.container_size > r.contained_size:
            assert r.containment > r.jaccard


def test_weighted_jaccard_bounds(spark, sf_smoke):
    """Multiset-Jaccard invariants: wJ in (0.4, 1], the shared min-sum
    can't exceed either doc's total mass, and the implied multiset
    union is at least the larger total."""
    from hive_reflex_spark.operators.dedup import q264_weighted_jaccard

    rows = q264_weighted_jaccard(spark, sf_smoke).collect()
    assert rows
    for r in rows:
        assert 0.4 - 1e-9 <= r.weighted_jaccard <= 1.0
        assert r.minsum <= min(r.total_a, r.total_b)
        union = r.total_a + r.total_b - r.minsum
        assert union >= max(r.total_a, r.total_b)
        assert abs(r.weighted_jaccard - r.minsum / union) < 1e-6
