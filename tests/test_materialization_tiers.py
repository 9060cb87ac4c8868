"""The r13 materialization tiers (io.py): corpus waists persist with
lineage kept and are materialized eagerly once per cached plan,
iterative chains truncate (reliably when a checkpoint dir exists), and
cold-path persists are FIFO-bounded so a long session cannot accumulate
unbounded storage (VERDICT r12 items 2/6)."""

from __future__ import annotations

import contextlib
import gc
import os
import tempfile
import time

from pyspark.sql import functions as F
from pyspark.sql.types import LongType

from hive_reflex_spark import io as hio


def _n_persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.sc().getPersistentRDDs().size()


@contextlib.contextmanager
def _checkpoint_dir(spark):
    """A temporary reliable-checkpoint dir, reset to "no dir" on exit so
    the shared session's other tests keep the localCheckpoint fallback
    ($-name setter needs getattr)."""
    with tempfile.TemporaryDirectory() as d:
        spark.sparkContext.setCheckpointDir(d)
        try:
            yield d
        finally:
            getattr(spark._jsc.sc(), "checkpointDir_$eq")(
                spark._sc._jvm.scala.Option.empty()
            )


def test_tracked_persist_is_fifo_bounded(spark):
    """Repeated cold-path persists release old storage beyond the cap:
    the r12 cold paths leaked one persisted RDD per build, so a
    340-query registry sweep grew storage without bound."""
    hio.release_persisted()
    before = _n_persistent_rdds(spark)
    dfs = []
    for i in range(hio.PERSIST_CAP + 20):
        df = spark.range(10).select((F.col("id") + i).alias("v"))
        hio.tracked_persist(df)
        df.count()  # materialize so the block registers
        dfs.append(df)
    after = _n_persistent_rdds(spark)
    # everything beyond the cap must have been unpersisted (small slack:
    # unpersist(blocking=False) is async on the JVM side)
    assert after - before <= hio.PERSIST_CAP + 4, (
        f"persisted RDDs grew {after - before} > cap {hio.PERSIST_CAP}"
    )
    # eviction is SAFE: an evicted waist recomputes via lineage
    assert dfs[0].count() == 10
    hio.release_persisted()


def test_corpus_checkpoint_keeps_lineage(spark):
    """Corpus tier: persist(MEMORY_AND_DISK) + explicit action — blocks
    are disk-spillable and EVICTABLE, and lineage is kept so the plan
    (and executor-loss recovery) still reaches the source — the two
    properties r12's localCheckpoint lacked (VERDICT item 2)."""
    hio.release_persisted()
    src = spark.range(50).select("id", (F.col("id") % 5).alias("k"))
    waist = hio.corpus_checkpoint(src.groupBy("k").agg(F.count("*").alias("c")))
    lvl = waist.storageLevel
    assert lvl.useMemory and lvl.useDisk, "corpus tier must be MEMORY_AND_DISK"
    # lineage kept: the analyzed plan still contains the source Range
    assert "Range" in waist._jdf.queryExecution().analyzed().toString()
    # two references share one InMemoryRelation in the physical plan
    out = waist.join(waist.selectExpr("k", "c as c2"), "k")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "InMemoryTableScan" in plan
    assert out.count() == 5
    hio.release_persisted()


def test_corpus_checkpoint_counts_once_per_cached_plan(spark):
    """The corpus tier's eager action runs once per plan: the first build
    materializes the waist, an identical rebuild finds it already cached
    and runs no job, and once the cache is cleared a rebuild
    materializes it again."""
    sc = spark.sparkContext

    def build_jobs(group: str) -> int:
        sc.setJobGroup(group, "")
        try:
            hio.corpus_checkpoint(
                spark.range(61).select((F.col("id") % 7).alias("k"))
                .groupBy("k").count()
            )
        finally:
            for key in ("spark.jobGroup.id", "spark.job.description",
                        "spark.job.interruptOnCancel"):
                sc.setLocalProperty(key, None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    hio.release_persisted()
    assert build_jobs("corpus-once-first") >= 1
    assert build_jobs("corpus-once-rebuild") == 0
    spark.catalog.clearCache()
    hio.release_persisted()
    assert build_jobs("corpus-once-after-clear") >= 1
    hio.release_persisted()


def test_corpus_checkpoint_honors_lazy_plans_hook(spark):
    """Plan-shape tests read THROUGH corpus checkpoints exactly as they
    read through the r12 localCheckpoints."""
    src = spark.range(10)
    hio.set_lazy_plans(True)
    try:
        assert hio.corpus_checkpoint(src) is src
    finally:
        hio.set_lazy_plans(False)


def test_iterative_query_identical_with_reliable_checkpoint(spark, sf_smoke):
    """The chain tier's production path (reliable checkpoint when a dir
    is configured) must be value-identical to the local fallback on a
    real iterative query — q78's label propagation runs its whole loop
    through chain_checkpoint."""
    import __spark_entry__ as entrymod

    q = entrymod.queries()["q78_dedup_clusters"]
    base = {tuple(r) for r in q(spark, sf_smoke).collect()}
    with _checkpoint_dir(spark):
        reliable = {tuple(r) for r in q(spark, sf_smoke).collect()}
    assert base == reliable
    assert base, "fixture should produce clusters"


def test_chain_checkpoint_truncates_and_prefers_reliable(spark):
    """Chain tier: always truncates lineage (exponential-plan guard);
    uses the fault-tolerant reliable checkpoint when the deployment
    configured a dir, localCheckpoint otherwise."""
    src = spark.range(20).select((F.col("id") * 2).alias("v"))
    # no checkpoint dir (default local session): localCheckpoint
    ck = hio.chain_checkpoint(src)
    assert "Range" not in ck._jdf.queryExecution().analyzed().toString(), (
        "chain tier must truncate lineage"
    )
    assert ck.count() == 20
    # with a checkpoint dir: reliable checkpoint, same truncation
    with _checkpoint_dir(spark):
        ck2 = hio.chain_checkpoint(src)
        assert "Range" not in ck2._jdf.queryExecution().analyzed().toString()
        assert ck2.count() == 20


def test_reliable_chain_checkpoint_computes_once_and_cleans_up(spark):
    """An eager reliable checkpoint computes the round and writes its
    files in one job: a Python UDF's accumulator sees every upstream row
    exactly once per round, and reading the result later reads the
    files. Once the rounds are dropped, the session's cleanCheckpoints
    conf removes their files, so a long iterative session does not grow
    its checkpoint dir without bound."""
    n, rounds = 40, 3
    seen = spark.sparkContext.accumulator(0)

    def tick(v):
        seen.add(1)
        return v + 1

    step = F.udf(tick, LongType())
    with _checkpoint_dir(spark) as d:
        df = spark.range(n).select(F.col("id").alias("v"))
        for r in range(1, rounds + 1):
            df = hio.chain_checkpoint(df.select(step("v").alias("v")))
            assert seen.value == n * r, (
                f"round {r}: {seen.value} upstream rows computed, want {n * r}"
            )
        assert sorted(row.v for row in df.collect()) == list(
            range(rounds, n + rounds)
        )
        assert seen.value == n * rounds

        def rdd_dirs() -> list[str]:
            return [
                e for sub in os.listdir(d)
                for e in os.listdir(os.path.join(d, sub))
            ]

        assert rdd_dirs(), "the reliable path wrote no checkpoint files"
        del df
        gc.collect()
        deadline = time.monotonic() + 30
        while rdd_dirs() and time.monotonic() < deadline:
            spark._jvm.System.gc()
            time.sleep(0.5)
        assert not rdd_dirs(), (
            f"checkpoint files of dropped rounds remain: {rdd_dirs()}"
        )
