"""Invariant tests for the round-8 continuation additions:

- q268 KMV set sketch: mergeability (union-merge of two day sketches ==
  sketch built directly on the union of the day audiences), the exact
  degradation branch for underfull sketches, and estimator sanity bands.
- q269 SemDeDup: every reported drop is verified by an independent
  numpy brute force of the cluster-restricted cosine rule.
- q270 fuzzy decontamination: flags the SAME doc set as q87's any-hit
  rule (the ratio is a refinement, not a different universe) with
  ratios in (0, 1].
- q271 token entropy: 6dp parity with a pure-Python recomputation and
  the Shannon bounds 0 <= H <= log2(n_types).
"""

from __future__ import annotations

import hashlib
import math
from collections import Counter

import duckdb
import numpy as np

from tests.conftest import SF_CORRECT, SF_SMOKE


def _u(user_id: int) -> float:
    """The exact dyadic md5 uniform both engines build (q124/q268)."""
    h = hashlib.md5(str(user_id).encode()).hexdigest()
    return sum(
        int(h[i], 16) * 16.0 ** -(i + 1) for i in range(10)
    )


def _day_users(sf_dir: str) -> dict:
    con = duckdb.connect()
    rows = con.execute(
        f"SELECT DISTINCT CAST(ts AS DATE) AS dday, user_id "
        f"FROM '{sf_dir}/events.parquet'"
    ).fetchall()
    by_day: dict = {}
    for d, u in rows:
        by_day.setdefault(d, set()).add(u)
    return by_day


def _kmv(users: set, k: int) -> list:
    return sorted(((_u(u), u) for u in users))[:k]


def test_kmv_merge_equals_direct_build():
    """KMV mergeability: k-smallest of (sketch_a ∪ sketch_b) must equal
    the sketch built directly on (A ∪ B) — the property that lets day
    sketches compose into weeks without rescanning the fact table."""
    from hive_reflex_spark.operators.analytics import KMV_K

    by_day = _day_users(SF_CORRECT)
    days = sorted(by_day)
    for a, b in zip(days, days[1:]):
        sk_a, sk_b = _kmv(by_day[a], KMV_K), _kmv(by_day[b], KMV_K)
        merged = sorted({*sk_a, *sk_b})[:KMV_K]
        direct = _kmv(by_day[a] | by_day[b], KMV_K)
        assert merged == direct, (a, b)


def test_kmv_underfull_is_exact(spark):
    """Sketches smaller than k are the set itself: estimates must equal
    the exact counts bit-for-bit at sf0.001 (11-15 users/day < k=32)."""
    from hive_reflex_spark.operators.analytics import (
        KMV_K,
        q268_kmv_set_sketch,
    )

    by_day = _day_users(SF_SMOKE)
    assert all(len(v) < KMV_K for v in by_day.values()), "fixture drifted"
    rows = q268_kmv_set_sketch(spark, SF_SMOKE).collect()
    assert len(rows) == len(by_day) - 1
    for r in rows:
        assert r["est_union"] == float(r["exact_union"]), r
        assert r["est_inter"] == float(r["exact_inter"]), r
        assert r["union_rel_err"] == 0.0


def test_kmv_estimator_sanity(spark):
    """Full sketches (sf0.01: 125-141 users/day) must estimate inside
    the design band: rse ~ 1/sqrt(k-2) ~ 18%, allow ~3 sigma."""
    from hive_reflex_spark.operators.analytics import q268_kmv_set_sketch

    rows = q268_kmv_set_sketch(spark, SF_CORRECT).collect()
    assert rows
    for r in rows:
        assert r["union_rel_err"] <= 0.55, r
        assert r["est_inter"] <= r["est_union"] + 1e-9, r
        assert r["est_a"] > 0 and r["est_b"] > 0


def test_semdedup_drops_verified_by_bruteforce(spark):
    """Independent numpy replay of the cluster-restricted rule: for each
    cluster, a vector is dropped iff some lower-id cluster-mate sits at
    cosine >= tau (with the same 1e-9 integer-unit dot discipline)."""
    from hive_reflex_spark.operators.dedup import (
        SEMDEDUP_TAU,
        q269_semantic_dedup,
    )
    from hive_reflex_spark.operators.similarity import N_CENTROIDS_STRIDE

    con = duckdb.connect()
    raw = con.execute(
        f"SELECT vec_id, embedding FROM '{SF_SMOKE}/embeddings.parquet' "
        "ORDER BY vec_id"
    ).fetchall()
    ids = np.array([r[0] for r in raw])
    X = np.array([r[1] for r in raw], dtype=np.float64)

    def xdot(a: np.ndarray, b: np.ndarray) -> float:
        return float(np.sum(np.round(a * b * 1e9)).astype(np.int64)) / 1e9

    cent_mask = ids % N_CENTROIDS_STRIDE == 0
    cids, C = ids[cent_mask], X[cent_mask]
    assign = {}
    for i, vid in enumerate(ids):
        dots = [(xdot(X[i], C[j]), -cids[j]) for j in range(len(cids))]
        assign[vid] = -max(dots)[1]
    nrm = {vid: math.sqrt(xdot(X[i], X[i])) for i, vid in enumerate(ids)}
    idx = {vid: i for i, vid in enumerate(ids)}

    expected_members: Counter = Counter(assign.values())
    expected_drops: dict = Counter()
    for cid in set(assign.values()):
        mem = sorted(v for v in ids if assign[v] == cid)
        for j, vb in enumerate(mem):
            for va in mem[:j]:
                cos = xdot(X[idx[va]], X[idx[vb]]) / (nrm[va] * nrm[vb])
                if cos >= SEMDEDUP_TAU:
                    expected_drops[cid] += 1
                    break

    rows = q269_semantic_dedup(spark, SF_SMOKE).collect()
    assert sum(r["n_members"] for r in rows) == len(ids)
    for r in rows:
        assert r["n_members"] == expected_members[r["centroid_id"]], r
        assert r["n_dropped"] == expected_drops.get(r["centroid_id"], 0), r


def test_fuzzy_decontaminate_consistent_with_q87(spark):
    """q270's doc universe (n_hit > 0) is exactly q87's flagged set, and
    every ratio is a true fraction of the doc's shingle count."""
    from hive_reflex_spark.operators.sampling import (
        q87_decontaminate,
        q270_fuzzy_decontaminate,
    )

    any_hit = {r["doc_id"] for r in q87_decontaminate(spark, SF_CORRECT).collect()}
    rows = q270_fuzzy_decontaminate(spark, SF_CORRECT).collect()
    assert {r["doc_id"] for r in rows} == any_hit
    for r in rows:
        assert 0 < r["n_hit"] <= r["n_shingles"], r
        assert 0 < r["contamination_ratio"] <= 1.0, r
        assert r["is_contaminated"] == (
            r["n_hit"] / r["n_shingles"] >= 0.02
        ), r


def test_token_entropy_matches_python(spark):
    """6dp parity with Counter/math.log, plus the Shannon bounds."""
    from hive_reflex_spark.operators.text import q271_token_entropy

    con = duckdb.connect()
    texts = dict(
        con.execute(
            f"SELECT doc_id, text FROM '{SF_SMOKE}/documents.parquet'"
        ).fetchall()
    )
    rows = q271_token_entropy(spark, SF_SMOKE).collect()
    assert len(rows) == len(texts)
    for r in rows:
        counts = Counter(texts[r["doc_id"]].split(" "))
        n = sum(counts.values())
        # the frozen-term discipline: c*ln(c) in 1e-9 integer units
        s = sum(round(c * math.log(c) * 1e9) for c in counts.values()) / 1e9
        h_bits = (math.log(n) - s / n) / math.log(2)
        assert r["n_tokens"] == n and r["n_types"] == len(counts)
        assert abs(r["entropy_bits"] - round(h_bits, 6)) <= 1e-9, r
        # entropy_bits is rounded to 6dp, so the bound needs 5e-7 slack
        assert -1e-6 <= r["entropy_bits"] <= math.log2(len(counts)) + 1e-6
        if r["norm_entropy"] is not None:
            assert r["norm_entropy"] <= 1.0 + 1e-6


def test_winnowing_matches_python_and_guarantee(spark):
    """q272 parity with a literal pure-Python winnowing replay, plus the
    density expectation 2/(w+1) and the MOSS guarantee: two docs sharing
    a substring of length >= w+k-1 share a fingerprint hash."""
    from hive_reflex_spark.operators.text import (
        WINNOW_K,
        WINNOW_W,
        q272_winnowing_fingerprint,
    )

    con = duckdb.connect()
    texts = dict(
        con.execute(
            f"SELECT doc_id, text FROM '{SF_SMOKE}/documents.parquet'"
        ).fetchall()
    )

    def winnow(text: str) -> set:
        hs = [
            hashlib.md5(text[p : p + WINNOW_K].encode()).hexdigest()
            for p in range(len(text) - WINNOW_K + 1)
        ]
        sel = set()
        for i in range(len(hs) - WINNOW_W + 1):
            win = hs[i : i + WINNOW_W]
            m = min(win)
            j = i + max(o for o, h in enumerate(win) if h == m)
            sel.add((j, hs[j]))
        return sel

    fps = {d: winnow(t) for d, t in texts.items() if len(t) >= WINNOW_K + 3}
    rows = {r["doc_id"]: r for r in
            q272_winnowing_fingerprint(spark, SF_SMOKE).collect()}
    assert set(rows) == set(fps)
    all_hashes = Counter(h for s in fps.values() for _, h in {(p, h) for p, h in s})
    by_doc_hashes = {d: {h for _, h in s} for d, s in fps.items()}
    hash_docs = Counter(h for d, hs in by_doc_hashes.items() for h in hs)
    for d, r in rows.items():
        assert r["n_fp"] == len(fps[d]), d
        assert r["n_shared_fp"] == sum(
            1 for h in by_doc_hashes[d] if hash_docs[h] > 1
        ), d
    dens = [r["n_fp"] / r["n_grams"] for r in rows.values()]
    assert abs(sum(dens) / len(dens) - 2 / (WINNOW_W + 1)) < 0.05
    # guarantee: plant a shared 11-char substring between two synthetic
    # docs and verify the pure replay (the operator's exact semantics)
    # yields a common fingerprint hash
    probe = "zqxjkvbwpyg"
    assert len(probe) >= WINNOW_W + WINNOW_K - 1
    a = winnow("aaaa " + probe + " bbbb")
    b = winnow("cccc " + probe + " dddd")
    assert {h for _, h in a} & {h for _, h in b}


def test_lsh_recall_curve_invariants(spark):
    """q273: recall is a true ratio, the J>=0.9 action bucket is fully
    (or near-fully) captured, the sub-0.1 noise bucket is nearly all
    missed (by design), and theory_p matches the planner formula."""
    from hive_reflex_spark.operators.dedup import (
        BAND_SIZE,
        N_PERMS,
        q273_lsh_recall_curve,
    )

    rows = {r["bucket"]: r for r in
            q273_lsh_recall_curve(spark, SF_CORRECT).collect()}
    assert rows
    nb = N_PERMS // BAND_SIZE
    for b, r in rows.items():
        assert 0 <= r["n_caught"] <= r["n_pairs"], r
        assert abs(r["recall"] - round(r["n_caught"] / r["n_pairs"], 6)) < 1e-9
        m = (b + 0.5) / 10.0
        assert float(r["theory_p"]) == round(1 - (1 - m**BAND_SIZE) ** nb, 6)
    assert 9 in rows and rows[9]["recall"] >= 0.9, rows.get(9)
    if 0 in rows:
        assert rows[0]["recall"] <= 0.1, rows[0]


def test_length_bucket_batching_invariants(spark):
    """q274: identical corpus under both regimes (same real_tokens and
    batch count), bucketing never wastes more than shuffling, and the
    padded total is conserved as real + waste."""
    from hive_reflex_spark.operators.sampling import (
        q274_length_bucket_batching,
    )

    rows = {r["regime"]: r for r in
            q274_length_bucket_batching(spark, SF_CORRECT).collect()}
    assert set(rows) == {"shuffled", "length_bucketed"}
    sh, lb = rows["shuffled"], rows["length_bucketed"]
    assert sh["real_tokens"] == lb["real_tokens"]
    assert sh["n_batches"] == lb["n_batches"]
    for r in rows.values():
        assert r["padded_tokens"] == r["real_tokens"] + r["pad_waste"], r
        assert 0 <= r["waste_frac"] < 1
    assert lb["pad_waste"] <= sh["pad_waste"]


def test_stream_kmv_equals_batch_sketch(spark):
    """q268a: the stream-maintained bottom-k state must equal the
    batch-built sketch exactly — KMV's merge is order-independent, so
    the stream's arbitrary file-split chunking cannot change it."""
    from hive_reflex_spark.operators.analytics import KMV_K
    from hive_reflex_spark.streaming.ops import q268a_stream_kmv

    got = {
        (r["dday"], r["user_id"]): r["u"]
        for r in q268a_stream_kmv(spark, SF_SMOKE).collect()
    }
    by_day = _day_users(SF_SMOKE)
    want = {}
    for d, users in by_day.items():
        for v, u in _kmv(users, KMV_K):
            want[(d, u)] = round(v, 9)
    assert got == want


def test_isotonic_calibration_is_pava(spark):
    """q275: the minimax relational form must equal classic sequential
    PAVA (pool adjacent violators), be monotone nondecreasing, and
    preserve the weighted mean exactly."""
    from hive_reflex_spark.operators.retrieval import (
        q275_isotonic_calibration,
    )

    rows = sorted(
        q275_isotonic_calibration(spark, SF_CORRECT).collect(),
        key=lambda r: r["bin"],
    )
    assert rows
    n = [r["n_docs"] for r in rows]
    pos = [r["n_target"] for r in rows]

    # sequential PAVA on (pos/n, weight n)
    blocks = []  # (sum_pos, sum_n)
    for p, w in zip(pos, n):
        blocks.append((p, w))
        while len(blocks) > 1 and (
            blocks[-2][0] * blocks[-1][1] >= blocks[-1][0] * blocks[-2][1]
        ):
            p2, w2 = blocks.pop()
            p1, w1 = blocks.pop()
            blocks.append((p1 + p2, w1 + w2))
    # expand each block across the bins it pooled (weights vary per bin)
    fitted = []
    idx = 0
    for p, w in blocks:
        consumed = 0
        while consumed < w:
            consumed += n[idx]
            fitted.append(p / w)
            idx += 1
    assert len(fitted) == len(rows)

    got = [r["iso_rate"] for r in rows]
    for g, f in zip(got, fitted):
        assert abs(g - round(f, 6)) <= 1e-9, (got, fitted)
    assert got == sorted(got), got
    # mean preservation: sum(iso * n) == sum(pos) exactly (PAVA property)
    assert abs(sum(f * w for f, w in zip(fitted, n)) - sum(pos)) < 1e-6


def test_jl_projection_matches_numpy(spark):
    """q276: an independent numpy replay of the projection + distortion
    histogram (same sign convention, same integer-unit sums) must match
    bucket-for-bucket, and the ratio distribution must concentrate
    around 1 (JL: E[r]=1, var ~ 2/k)."""
    from hive_reflex_spark.operators.similarity import (
        JL_DIMS,
        JL_PAIR_CAP,
        q276_jl_projection,
    )

    con = duckdb.connect()
    raw = con.execute(
        f"SELECT vec_id, embedding FROM '{SF_SMOKE}/embeddings.parquet' "
        f"WHERE vec_id < {JL_PAIR_CAP} ORDER BY vec_id"
    ).fetchall()
    X = np.array([r[1] for r in raw], dtype=np.float64)
    n, d = X.shape
    S = np.array(
        [
            [
                -1.0
                if hashlib.md5(f"jl{j}:{dd}".encode()).hexdigest()[0] >= "8"
                else 1.0
                for j in range(JL_DIMS)
            ]
            for dd in range(d)
        ]
    )

    def xsum(arr):
        return np.sum(np.round(arr * 1e9)).astype(np.int64) / 1e9

    Y = np.zeros((n, JL_DIMS))
    for i in range(n):
        for j in range(JL_DIMS):
            Y[i, j] = 0.25 * xsum(X[i] * S[:, j])
    from collections import Counter as C

    buckets: C = C()
    sums: C = C()
    for i2 in range(n):
        for i1 in range(i2):
            od = xsum((X[i1] - X[i2]) ** 2)
            pdist = xsum((Y[i1] - Y[i2]) ** 2)
            if od <= 0:
                continue
            r = pdist / od
            b = min(int(r * 4), 7)
            buckets[b] += 1
            sums[b] += round(r * 1e6)
    rows = {r["bucket"]: r for r in
            q276_jl_projection(spark, SF_SMOKE).collect()}
    assert set(rows) == set(buckets)
    total, wsum = 0, 0.0
    for b, r in rows.items():
        assert r["n_pairs"] == buckets[b], (b, r)
        assert abs(r["mean_ratio"]
                   - round(sums[b] / 1e6 / buckets[b], 6)) <= 1e-9
        total += r["n_pairs"]
        wsum += r["mean_ratio_raw"] * r["n_pairs"]
    assert abs(wsum / total - 1.0) < 0.15  # JL concentration


def test_rolling_distinct_kmv_window_semantics(spark):
    """q277: each day's estimate must be the KMV estimate of the pooled
    trailing-window sketch (pure-Python replay), and underfull windows
    (sf0.001: <=15 users/day over 7 days can exceed k, so check both
    branches via the replay rather than assuming one)."""
    from hive_reflex_spark.operators.analytics import (
        KMV_K,
        ROLLING_DAYS,
        q277_rolling_distinct_kmv,
    )

    by_day = _day_users(SF_SMOKE)
    days = sorted(by_day)
    rows = {r["day"]: r for r in
            q277_rolling_distinct_kmv(spark, SF_SMOKE).collect()}
    assert set(rows) == set(days)
    for d in days:
        window = [x for x in days if 0 <= (d - x).days < ROLLING_DAYS]
        pooled: dict = {}
        for x in window:
            for v, u in _kmv(by_day[x], KMV_K):
                pooled.setdefault(u, v)
        merged = sorted((v, u) for u, v in pooled.items())[:KMV_K]
        if len(merged) < KMV_K:
            est = float(len(merged))
        else:
            est = (KMV_K - 1) / merged[-1][0]
        exact = len(set().union(*(by_day[x] for x in window)))
        r = rows[d]
        assert r["n_days"] == len(window)
        assert abs(r["est_distinct"] - round(est, 6)) <= 1e-9, (d, r, est)
        assert r["exact_distinct"] == exact


def test_phash_banding_lossless_at_threshold(spark):
    """q278: pigeonhole guarantee — EVERY pair at symbol-Hamming <=
    PH_HD_MAX must appear in the output (banding cannot miss one),
    verified against an all-pairs numpy brute force of the identical
    signature construction."""
    from hive_reflex_spark.sources.multimodal import (
        PH_HD_MAX,
        q278_phash_hamming_pairs,
    )

    con = duckdb.connect()
    texts = dict(
        con.execute(
            f"SELECT doc_id, text FROM '{SF_SMOKE}/documents.parquet'"
        ).fetchall()
    )

    def sig(text: str) -> list:
        arr = np.frombuffer(text.encode(), dtype=np.uint8).astype(np.int64)
        idx = (np.arange(len(arr)) * 16) // len(arr)
        sums = np.bincount(idx, weights=arr, minlength=16)
        counts = np.bincount(idx, minlength=16)
        used = np.nonzero(counts)[0]
        return [
            int(np.floor(sums[u] / counts[u] / 4.0 + 0.5)) for u in used
        ]

    sigs = {d: sig(t) for d, t in texts.items() if t}
    # exact-equal signatures collapse into families first (min doc)
    fams: dict = {}
    for d in sorted(sigs):
        fams.setdefault(tuple(sigs[d]), [d, 0])[1] += 1
    reps = {v[0]: (list(k), v[1]) for k, v in fams.items()}
    want = {}
    ids = sorted(reps)
    for j, b in enumerate(ids):
        for a in ids[:j]:
            sa, sb = reps[a][0], reps[b][0]
            if len(sa) != len(sb):
                continue
            h = sum(1 for x, y in zip(sa, sb) if x != y)
            if h <= PH_HD_MAX:
                want[(a, b)] = (h, reps[a][1], reps[b][1])
    rows = {
        (r["fam_a"], r["fam_b"]): (r["hamming"], r["docs_a"], r["docs_b"])
        for r in q278_phash_hamming_pairs(spark, SF_SMOKE).collect()
    }
    assert rows == want


def test_mann_whitney_matches_python(spark):
    """q279: exact-integer U witness and 6dp z / effect parity with a
    pure-Python tie-averaged rank computation."""
    from hive_reflex_spark.operators.analytics import q279_mann_whitney

    con = duckdb.connect()
    data = con.execute(
        f"SELECT event_type, value FROM '{SF_SMOKE}/events.parquet'"
    ).fetchall()
    vals = sorted(v for _, v in data)
    n = len(vals)
    # tie-averaged rank per value, exact in halves
    first = {}
    count: Counter = Counter()
    for i, v in enumerate(vals):
        first.setdefault(v, i + 1)
        count[v] += 1
    rank2 = {v: 2 * first[v] + count[v] - 1 for v in first}  # = 2*avg_rank
    t3t = sum(c**3 - c for c in count.values())
    groups: dict = {}
    for g, v in data:
        groups.setdefault(g, []).append(v)
    rows = {r["event_type"]: r for r in
            q279_mann_whitney(spark, SF_SMOKE).collect()}
    assert set(rows) == set(groups)
    for g, vs in groups.items():
        n1 = len(vs)
        r2sum = sum(rank2[v] for v in vs)
        u2x = r2sum - n1 * (n1 + 1)
        u = u2x / 2
        n2 = n - n1
        mu = n1 * n2 / 2
        sigma = math.sqrt(
            n1 * n2 / 12 * ((n + 1) - t3t / (n * (n - 1)))
        )
        r = rows[g]
        assert r["n1"] == n1 and r["u2x"] == u2x, (g, r)
        assert abs(r["z"] - round((u - mu) / sigma, 6)) <= 1e-9
        assert abs(r["rank_biserial"] - round(1 - 2 * u / (n1 * n2), 6)) <= 1e-9
        assert -1 <= r["rank_biserial"] <= 1
