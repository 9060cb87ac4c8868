"""Retrieval / curation / QA tier (q110-q129): BM25, hashed-linear
classifier, DSIR importance, shard manifest, sketches (count-min, HLL,
Bloom), CDC chunking, funnel/retention, TF-IDF similarity, exact-moment
correlation and OLS trends, and the composed end-to-end curation
pipeline — semantic invariants plus the plan shapes their 100-TB
docstrings claim."""

from __future__ import annotations

import math

from pyspark.sql import functions as F

import __spark_entry__ as entrymod
from hive_reflex_spark.operators.retrieval import (
    BM25_TOP_K,
    DSIR_TARGET_LANG,
    QUERY_TERMS,
)
from hive_reflex_spark.operators.sampling import N_SHARDS
from hive_reflex_spark.session import conf_scope


def q(spark, name, sf_dir):
    return entrymod.queries()[name](spark, sf_dir)


def test_bm25_topk_scores_positive_and_ranked(spark, sf_smoke):
    rows = q(spark, "q110_bm25_topk", sf_smoke).collect()
    assert 0 < len(rows) <= BM25_TOP_K
    scores = [r.bm25 for r in rows]
    assert all(s > 0 for s in scores)  # BM25+ idf is always positive
    assert scores == sorted(scores, reverse=True)


def test_bm25_hit_docs_contain_a_query_term(spark, sf_smoke):
    from hive_reflex_spark.io import read_table

    top = q(spark, "q110_bm25_topk", sf_smoke)
    docs = read_table(spark, sf_smoke, "documents")
    joined = top.join(docs, "doc_id").select("doc_id", "text").collect()
    assert len(joined) == top.count()
    for r in joined:
        assert any(t in r.text.split(" ") for t in QUERY_TERMS)


def test_quality_classifier_is_a_probability(spark, sf_smoke):
    rows = q(spark, "q111_quality_classifier", sf_smoke).collect()
    n_docs = (
        entrymod.queries()["q85_hash_split"](spark, sf_smoke)
        .agg(F.sum("n_docs"))
        .collect()[0][0]
    )
    assert len(rows) == n_docs  # every doc scored
    for r in rows:
        assert 0.0 < r.score < 1.0
        # keep is the EXACT integer sign test; the rounded score can sit
        # on 0.5 itself when the raw margin is below the 6dp grid
        if abs(r.score - 0.5) > 1e-6:
            assert r.keep == (r.score > 0.5)


def test_dsir_target_lang_scores_higher(spark, sf_smoke):
    df = q(spark, "q112_dsir_importance", sf_smoke)
    by_lang = (
        df.groupBy(df.lang == DSIR_TARGET_LANG)
        .agg(F.avg("avg_log_ratio").alias("m"))
        .collect()
    )
    means = {r[0]: r.m for r in by_lang}
    # importance weighting must, on average, favor the target slice
    assert means[True] > means[False]
    sel = df.filter("keep").count()
    assert 0 < sel < df.count()  # non-degenerate split


def test_shard_manifest_conserves_docs_and_tokens(spark, sf_smoke):
    from hive_reflex_spark.io import read_table

    man = q(spark, "q113_shard_manifest", sf_smoke)
    docs = read_table(spark, sf_smoke, "documents")
    assert man.count() == docs.count()
    assert man.select("doc_id").distinct().count() == docs.count()
    agg = man.groupBy("shard").agg(
        F.max("seq").alias("mx"),
        F.count("*").alias("n"),
        F.max("cum_tokens").alias("cum"),
        F.sum("n_tokens").alias("tok"),
    )
    for r in agg.collect():
        assert 0 <= r.shard < N_SHARDS
        assert r.mx == r.n  # seq is 1..n dense per shard
        assert r.cum == r.tok  # running sum ends at the shard total
    total_tokens = docs.select(
        F.sum(F.size(F.split("text", " "))).alias("t")
    ).collect()[0].t
    assert agg.agg(F.sum("tok")).collect()[0][0] == total_tokens


def test_retrieval_plans_broadcast_model_tables(spark, sf_smoke):
    from tests.test_plan_shapes import plan_of

    for name in ("q110_bm25_topk", "q112_dsir_importance"):
        plan = plan_of(spark, name, sf_smoke)
        assert "BroadcastHashJoin" in plan, f"{name} lost its model broadcast"
        assert "CartesianProduct" not in plan
    # global top-k must compile to TakeOrderedAndProject, not a full sort
    assert "TakeOrderedAndProject" in plan_of(spark, "q110_bm25_topk", sf_smoke)


def test_countmin_never_undercounts(spark, sf_smoke):
    rows = q(spark, "q114_countmin_heavy_hitters", sf_smoke).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.overcount >= 0  # CMS guarantee: est >= true
        assert r.est_cnt >= r.true_cnt


def test_countmin_sketch_is_fixed_size(spark, sf_smoke):
    from hive_reflex_spark.operators.text import CMS_DEPTH, CMS_WIDTH, doc_words
    from pyspark.sql import functions as F2

    words = doc_words(spark, sf_smoke).select("w")
    depth = spark.range(CMS_DEPTH).select(F2.col("id").cast("int").alias("j"))
    cells = (
        words.join(F2.broadcast(depth))
        .select(
            "j",
            F2.expr(
                "instr('0123456789abcdef', substr(md5(j || ':' || w), 1, 1)) - 1"
            ).alias("bucket"),
        )
        .groupBy("j", "bucket")
        .count()
    )
    assert cells.count() <= CMS_DEPTH * CMS_WIDTH


def test_cdc_chunks_are_shared_and_bounded(spark, sf_smoke):
    from hive_reflex_spark.operators.dedup import CDC_TOP_K

    rows = q(spark, "q115_cdc_chunks", sf_smoke).collect()
    assert 0 < len(rows) <= CDC_TOP_K
    hashes = [r.chunk_hash for r in rows]
    assert len(set(hashes)) == len(hashes)
    for r in rows:
        assert r.n_occ >= 2  # only shared chunks reported
        assert 1 <= r.n_docs <= r.n_occ
        assert r.n_tokens >= 1


def test_mad_outliers_sane(spark, sf_smoke):
    rows = q(spark, "q116_mad_outliers", sf_smoke).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.mad >= 0
        assert 0 <= r.n_outliers < r.n_events  # robust stats: minority flagged
        assert abs(r.outlier_frac - r.n_outliers / r.n_events) < 1e-5


def test_embedding_drift_bounds(spark, sf_smoke):
    rows = q(spark, "q117_embedding_drift", sf_smoke).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n_ref > 0 and r.n_cand > 0
        assert r.l2_drift >= 0
        assert -1.0 <= r.centroid_cosine <= 1.0


def test_hll_estimate_within_rsd_bound(spark, sf_smoke):
    from hive_reflex_spark.operators.analytics import HLL_M

    rows = q(spark, "q118_hll_distinct", sf_smoke).collect()
    assert len(rows) > 0
    rsd = 1.04 / (HLL_M ** 0.5)  # ~6.5% at m=256
    for r in rows:
        assert r.exact_users > 0 and r.hll_users > 0
        # HLL guarantee is probabilistic; 5 sigma on the fixed corpus
        assert r.rel_error <= 5 * rsd, (r.event_type, r.rel_error)


def test_funnel_is_monotone(spark, sf_smoke):
    rows = {r.step: r for r in q(spark, "q119_funnel", sf_smoke).collect()}
    assert set(rows) == {"view", "view>click", "view>click>purchase"}
    assert (
        rows["view"].n_users
        >= rows["view>click"].n_users
        >= rows["view>click>purchase"].n_users
    )
    assert rows["view"].conv_from_prev is None  # no prior step
    for step in ("view>click", "view>click>purchase"):
        c = rows[step].conv_from_prev
        assert c is None or 0.0 <= c <= 1.0


def test_wow_retention_bounds(spark, sf_smoke):
    rows = q(spark, "q120_wow_retention", sf_smoke).collect()
    assert len(rows) > 0
    weeks = sorted({r.week_start for r in rows})
    for r in rows:
        assert 0 <= r.n_retained <= r.n_users
        assert 0.0 <= r.retention <= 1.0
        if r.week_start == weeks[0]:
            assert r.n_retained == 0  # nothing precedes the first week


def test_countmin_sketch_is_mergeable(spark, sf_smoke):
    """The CMS property that makes it the 100-TB shape: sketch(A ∪ B) ==
    sketch(A) + sketch(B) cellwise — partial grids combine map-side."""
    from hive_reflex_spark.operators.text import CMS_DEPTH, doc_words
    from pyspark.sql import functions as F2

    words = doc_words(spark, sf_smoke).select("doc_id", "w")
    depth = spark.range(CMS_DEPTH).select(F2.col("id").cast("int").alias("j"))
    bucket = F2.expr(
        "instr('0123456789abcdef', substr(md5(j || ':' || w), 1, 1)) - 1"
    )

    def grid(df):
        return {
            (r.j, r.bucket): r.cell
            for r in df.join(F2.broadcast(depth))
            .select("j", bucket.alias("bucket"))
            .groupBy("j", "bucket")
            .agg(F2.count("*").alias("cell"))
            .collect()
        }

    full = grid(words)
    half_a = grid(words.filter("doc_id % 2 = 0"))
    half_b = grid(words.filter("doc_id % 2 = 1"))
    merged = dict(half_a)
    for k, v in half_b.items():
        merged[k] = merged.get(k, 0) + v
    assert merged == full


def test_tfidf_similarity_ranked_and_bounded(spark, sf_smoke):
    from hive_reflex_spark.operators.retrieval import (
        TFIDF_QUERY_DOC,
        TFIDF_TOP_K,
    )

    rows = q(spark, "q122_tfidf_doc_similarity", sf_smoke).collect()
    assert 0 < len(rows) <= TFIDF_TOP_K
    scores = [r.tfidf_cosine for r in rows]
    assert scores == sorted(scores, reverse=True)
    for r in rows:
        assert r.doc_id != TFIDF_QUERY_DOC  # query never retrieves itself
        assert -1.000001 <= r.tfidf_cosine <= 1.000001


def test_metric_correlation_symmetric_pairs(spark, sf_smoke):
    rows = q(spark, "q123_metric_correlation", sf_smoke).collect()
    assert len(rows) > 0
    seen = set()
    for r in rows:
        assert r.type_a < r.type_b  # upper triangle only, no self-pairs
        assert (r.type_a, r.type_b) not in seen
        seen.add((r.type_a, r.type_b))
        assert -1.000001 <= r.pearson_r <= 1.000001
        assert r.n >= 2


def test_weighted_sample_invariants(spark, sf_smoke):
    from pyspark.sql import functions as F2

    from hive_reflex_spark.io import read_table
    from hive_reflex_spark.operators.sampling import WSAMPLE_K

    rows = q(spark, "q124_weighted_sample", sf_smoke).collect()
    assert len(rows) > 0
    per_src = {}
    for r in rows:
        per_src.setdefault(r.source, []).append(r.rnk)
        assert r.weight > 0
    for src, rnks in per_src.items():
        assert sorted(rnks) == list(range(1, len(rnks) + 1))  # dense 1..n
        assert len(rnks) <= WSAMPLE_K
    # weight-proportional sampling must overrepresent heavy docs on avg
    docs = read_table(spark, sf_smoke, "documents")
    corpus_avg = docs.agg(F2.avg("n_chars")).collect()[0][0]
    sample_avg = sum(r.weight for r in rows) / len(rows)
    assert sample_avg > corpus_avg


def test_data_profile_consistency(spark, sf_smoke):
    from hive_reflex_spark.io import read_table

    rows = {r.col: r for r in q(spark, "q125_data_profile", sf_smoke).collect()}
    orders = read_table(spark, sf_smoke, "orders")
    n = orders.count()
    assert set(rows) == {
        "o_custkey", "o_orderpriority", "o_orderstatus", "o_totalprice"
    }
    for r in rows.values():
        assert r.n_rows == n
        assert 0 <= r.n_null <= n
        assert 1 <= r.n_distinct <= n
        assert r.min_val is not None and r.max_val is not None
    assert rows["o_orderstatus"].n_distinct <= 5  # low-cardinality enum


def test_pmi_collocations_support_and_order(spark, sf_smoke):
    from hive_reflex_spark.operators.text import PMI_MIN_SUPPORT, PMI_TOP_K

    rows = q(spark, "q126_pmi_collocations", sf_smoke).collect()
    assert 0 < len(rows) <= PMI_TOP_K
    pmis = [r.pmi for r in rows]
    assert pmis == sorted(pmis, reverse=True)
    for r in rows:
        assert r.cnt >= PMI_MIN_SUPPORT


def test_bloom_filter_contract(spark, sf_smoke):
    import math

    from hive_reflex_spark.operators.sampling import BLOOM_K, BLOOM_M

    r = q(spark, "q127_bloom_filter", sf_smoke).collect()[0]
    assert r.n_false_neg == 0  # the Bloom guarantee: no false negatives
    assert r.n_flagged == r.n_members + r.n_false_pos
    # measured fp rate should sit near the (1 - e^-kn/m)^k theory bound
    theory = (1 - math.exp(-BLOOM_K * r.n_members / BLOOM_M)) ** BLOOM_K
    assert r.fp_rate <= max(5 * theory, 0.05)


def test_trend_ols_r_squared_bounds(spark, sf_smoke):
    rows = q(spark, "q128_trend_ols", sf_smoke).collect()
    assert len(rows) > 0
    for r in rows:
        assert r.n >= 2
        assert -0.000001 <= r.r_squared <= 1.000001
        assert r.intercept is not None and r.slope_per_hour is not None


def test_curation_pipeline_reconciles_with_stages(spark, sf_smoke):
    """q129's rollup must equal raw docs minus the union of the three
    drop sets minus the benchmark holdout — composition loses nothing."""
    from pyspark.sql import functions as F2

    from hive_reflex_spark.io import read_table
    from hive_reflex_spark.operators.dedup import neardup_dropped_ids
    from hive_reflex_spark.operators.retrieval import classifier_scores
    from hive_reflex_spark.operators.sampling import (
        _BENCH_MOD,
        q87_decontaminate,
    )

    docs = read_table(spark, sf_smoke, "documents")
    total = docs.count()
    out = q(spark, "q129_curation_pipeline", sf_smoke)
    kept = out.agg(F2.sum("n_docs")).collect()[0][0]
    assert 0 < kept < total

    bench_or_dropped = (
        docs.filter(F2.col("doc_id") % _BENCH_MOD == 0)
        .select("doc_id")
        .union(
            classifier_scores(spark, sf_smoke)
            .filter(F2.col("num") < 0)
            .select("doc_id")
        )
        .union(neardup_dropped_ids(spark, sf_smoke).select("doc_id"))
        .union(q87_decontaminate(spark, sf_smoke).select("doc_id"))
        .distinct()
        .count()
    )
    assert kept == total - bench_or_dropped
    for r in out.collect():
        assert r.split in ("train", "val", "test")
        assert r.total_tokens > 0


def test_flash_io_strategy_goldens(spark, sf_smoke):
    """q130 against the reference cost model's hand-computed outcomes
    (flash_io_benchmark.py:106-256 at the published parameters)."""
    rows = {r.strategy: r for r in q(spark, "q130_flash_io_strategies", sf_smoke).collect()}
    assert set(rows) == {
        "Baseline", "Pipeline", "Compression", "Cascade", "AllCombined"
    }
    assert abs(rows["Baseline"].time_ms - 43.515625) < 1e-4
    assert rows["Baseline"].speedup == 1.0
    assert rows["Compression"].flash_saved == 50
    assert rows["Cascade"].flash_saved == 20
    assert abs(rows["Cascade"].speedup - 1.72) < 0.01
    assert rows["AllCombined"].flash_saved == 60
    # combined strategy must dominate every single strategy
    assert rows["AllCombined"].speedup == max(r.speedup for r in rows.values())


def test_layer_profile_matches_published_csv(spark, sf_smoke):
    """q131 against simulator/profiling_report.csv verbatim: per-layer
    cycles/time/util and the 507-cycle total BASELINE.md quotes."""
    rows = {r.name: r for r in q(spark, "q131_layer_profile", sf_smoke).collect()}
    published = {  # name: (cycles, time_us, util)
        "conv1": (27, 0.27, 0.125),
        "dw1": (0, 0.0028125, 0.125),
        "pw1": (64, 0.64, 0.125),
        "dw2": (0, 0.0028125, 0.125),
        "pw2": (256, 2.56, 0.125),
        "fc_out": (160, 1.6, 0.125),
    }
    assert set(rows) == set(published)
    for name, (cyc, t_us, util) in published.items():
        r = rows[name]
        assert r.cycles == cyc
        assert abs(r.time_us - t_us) < 1e-9
        assert abs(r.util - util) < 1e-9
    assert sum(r.cycles for r in rows.values()) == 507


def test_sparse_speedup_models_consistent(spark, sf_smoke):
    from hive_reflex_spark.operators.tensor import SPARSE_CAP

    r = q(spark, "q132_sparse_speedup_estimate", sf_smoke).collect()[0]
    assert 0 < r.n_skipped < r.n_total
    assert abs(r.skip_ratio - r.n_skipped / r.n_total) < 1e-5
    assert 1.0 <= r.est_speedup <= SPARSE_CAP
    # the 10%-overhead planning model can never beat the runtime model
    assert r.est_speedup <= r.runtime_speedup + 1e-9
    assert abs(r.power_reduction_pct - (1 - 1 / r.est_speedup) * 100) < 1e-3


def test_cdc_chunks_are_insertion_robust(spark, tmp_path):
    """THE content-defined property (vs fixed-stride q103): the same
    passage embedded at DIFFERENT token offsets must still produce
    shared chunk hashes, because boundaries depend on content alone."""
    import os

    from pyspark.sql import functions as F2

    from hive_reflex_spark.operators.dedup import q115_cdc_chunks

    d = str(tmp_path / "cdc_shift")
    passage = " ".join(f"body{i}" for i in range(64))
    docs = spark.createDataFrame(
        [
            (0, "pre1 " + passage),                  # offset 1
            (1, "aa bb cc dd ee ff gg " + passage),  # offset 7
        ],
        "doc_id long, text string",
    ).withColumn("lang", F2.lit("en")).withColumn("source", F2.lit("s")) \
     .withColumn("n_chars", F2.length("text"))
    os.makedirs(d)
    docs.write.parquet(os.path.join(d, "documents.parquet"))

    rows = q115_cdc_chunks(spark, d).collect()
    # at least one interior chunk of the shared passage appears in BOTH
    # docs despite the different prefixes
    assert any(r.n_docs == 2 for r in rows), rows


def test_q5_star_join_broadcasts_dims(spark, sf_smoke):
    from tests.test_plan_shapes import plan_of

    plan = plan_of(spark, "q133_regional_revenue", sf_smoke)
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    rows = q(spark, "q133_regional_revenue", sf_smoke).collect()
    assert len(rows) > 0
    revs = [r.revenue for r in rows]
    assert revs == sorted(revs, reverse=True)
    assert all(r.revenue > 0 for r in rows)


def test_q17_correlated_rewrite_non_degenerate(spark, sf_smoke):
    r = q(spark, "q134_small_quantity_revenue", sf_smoke).collect()[0]
    assert r.n_lines > 0  # the filter must actually select rows
    assert r.avg_yearly > 0


def test_shard_and_sample_invariant_to_partitioning(spark, sf_smoke):
    """q113/q124 claim membership/order is a pure function of the record:
    the result must be byte-identical under different shuffle/scan
    partitioning — the property that makes re-runs reproducible on any
    cluster size."""
    def snap(name):
        return sorted(map(tuple, q(spark, name, sf_smoke).collect()))

    before = {n: snap(n) for n in ("q113_shard_manifest", "q124_weighted_sample")}
    with conf_scope(spark, {
        "spark.sql.shuffle.partitions": "3",
        "spark.sql.files.maxPartitionBytes": "65536",
    }):
        for n, rows in before.items():
            assert snap(n) == rows, f"{n} changed under repartitioning"


def test_mmr_rerank_greedy_invariants(spark, sf_smoke):
    """MMR invariants: rank-1 is the pure-relevance argmax (penalty is
    zero at step 1), picks are distinct, exactly K per query, and the
    diversified list differs from pure-relevance top-K whenever the
    candidate pool contains redundancy worth trading for."""
    from hive_reflex_spark.operators.retrieval import (
        _MMR_K,
        _MMR_LAMBDA,
        _MMR_NQ,
        q261_mmr_rerank,
    )

    rows = q261_mmr_rerank(spark, sf_smoke).collect()
    by_q: dict[int, list] = {}
    for r in rows:
        by_q.setdefault(r.query_id, []).append(r)
    assert set(by_q) == set(range(_MMR_NQ))
    for qid, picks in by_q.items():
        assert len(picks) == _MMR_K
        ids = [p.cand_id for p in sorted(picks, key=lambda p: p.rank)]
        assert len(set(ids)) == _MMR_K
        # rank-1 score is 0.7 * its relevance — and is the global max
        first = min(picks, key=lambda p: p.rank)
        assert all(
            first.mmr_score >= p.mmr_score - 1e-9 or p.rank == 1
            for p in picks
        )


def test_mmr_single_candidate_query_matches_oracle(spark, tmp_path):
    """ADVICE r7 regression: a degenerate corpus with exactly ONE
    relevance candidate (5 vectors: 4 queries + 1 candidate) has no
    candidate pairs, so the old inner join cand⋈sims dropped every
    query from the Spark output while the oracle's sel1 still emitted
    each rank-1 pick. The left-join form must emit rank 1 per query
    with mmr_score = lambda*rel — identical to the oracle."""
    import duckdb
    import numpy as np
    import pyarrow as pa
    import pyarrow.parquet as pq

    import __spark_entry__ as e
    from hive_reflex_spark.registry import ORACLES

    rng = np.random.default_rng(7)
    mat = rng.normal(size=(5, 64)).astype(np.float32)
    pq.write_table(
        pa.table(
            {
                "vec_id": pa.array(np.arange(5, dtype=np.int64)),
                "embedding": pa.array(
                    [r for r in mat], type=pa.list_(pa.float32())
                ),
                "label": pa.array(
                    np.zeros(5, dtype=np.int32), type=pa.int32()
                ),
            }
        ),
        str(tmp_path / "embeddings.parquet"),
    )
    got = sorted(
        (r.query_id, r.cand_id, r.rank, r.mmr_score)
        for r in e.queries()["q261_mmr_rerank"](spark, str(tmp_path)).collect()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW embeddings AS SELECT * FROM '{tmp_path}/embeddings.parquet'"
    )
    want = sorted(
        (q, c, r, s)
        for q, c, r, s in con.execute(ORACLES["q261_mmr_rerank"]).fetchall()
    )
    assert len(got) == 4  # one rank-1 pick per query, none dropped
    assert got == want
