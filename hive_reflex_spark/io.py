"""Readers for the driver-generated parquet fixtures.

Tables (TESTDATA.md): region nation customer supplier part orders lineitem
events documents embeddings — one parquet file per table per scale factor.

Scale note: `spark.read.parquet` gives us the vectorized columnar reader
with predicate pushdown and column pruning for free; at 100 TB the same
call reads a partitioned directory tree and Catalyst prunes partitions.
Nothing here collects to the driver.

Session confs: these helpers read with the caller's session as it is;
registered queries reach them already pinned to UTC and ANSI off by the
registry wrapper. The one conf a read needs (``nanosAsLong`` for the
nanos ``events`` vintage) is set only inside ``session.conf_scope``.
"""

from __future__ import annotations

import os
from collections import deque

from pyspark.sql import DataFrame, SparkSession
from pyspark.storagelevel import StorageLevel

from hive_reflex_spark.session import conf_scope

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Opt-in DataFrame cache (bench mode): base tables and expensive shared
# intermediates (shingle sets, minhash signatures) are persisted once and
# reused across queries in the same process — what a warmed cluster with
# a shared scan cache does. Disabled by default so correctness runs always
# exercise the cold path.
_DF_CACHE: dict | None = None
_CACHE_TABLE_PARTITIONS: int | None = None


def enable_df_cache(table_partitions: int | None = None) -> None:
    """Turn on process-wide persist()-backed sharing of repeated reads.

    ``table_partitions``: repartition base tables to this many partitions
    at cache-build time. The fixture parquet files have few row groups
    (~3 at sf0.1), which caps every downstream scan stage at that
    parallelism no matter how many cores exist; one shuffle at build
    spreads the cached columns across the cluster — the same reason real
    deployments re-bucket hot tables instead of serving them from
    however-the-producer-wrote-them files."""
    global _DF_CACHE, _CACHE_TABLE_PARTITIONS
    _DF_CACHE = {}
    _CACHE_TABLE_PARTITIONS = table_partitions


def df_cache_enabled() -> bool:
    """True when bench-mode persist()-backed sharing is on."""
    return _DF_CACHE is not None


# Multi-referenced intermediates inside query builders are materialized
# with localCheckpoint (Catalyst does not share common subplans, so a
# pipeline referenced N times is otherwise evaluated N times — guide
# §3.3/§5). Plan-shape tests need to see THROUGH those materialization
# points to pin the upstream join strategies, so builders route them via
# maybe_local_checkpoint and tests flip the switch: the lazy tree is the
# identical plan, just not truncated.
_LAZY_PLANS = False


def set_lazy_plans(on: bool) -> None:
    """Test hook: when on, maybe_local_checkpoint is a no-op so the full
    lazy plan (including subtrees normally hidden behind a checkpoint's
    Scan ExistingRDD) is visible to plan-shape assertions."""
    global _LAZY_PLANS
    _LAZY_PLANS = on


def maybe_local_checkpoint(df: DataFrame) -> DataFrame:
    """DIMENSION-SCALE materialization tier (r12, unchanged): eager
    localCheckpoint unless a plan-shape test asked for the lazy tree.
    Values are identical either way — checkpointing only truncates
    lineage.

    Tier rule (r13): use this ONLY for waists whose row count is bounded
    by constants of the problem (k centroids, |days|, |types| x 24,
    top-K candidates, 1-row bounds). localCheckpoint stores blocks
    unreplicated on executors with lineage discarded — an executor loss
    makes the job unrecoverable — which is an acceptable trade for
    kilobyte tables but not for corpus-scale intermediates: those use
    :func:`corpus_checkpoint`, and iterative chains whose lineage grows
    per round use :func:`chain_checkpoint`."""
    if _LAZY_PLANS:
        return df
    return df.localCheckpoint()


# --- persisted-waist tracking (r13, VERDICT item 6) -----------------------
# Cold-path persist() calls (index builds, corpus waists) used to leak one
# persisted RDD per query build: a 340-query registry sweep in one session
# accumulated unbounded storage. Every such persist now registers here;
# beyond the cap the OLDEST entry is unpersisted. Eviction is always safe:
# these DataFrames keep their lineage, so a later action on an evicted
# waist recomputes instead of failing. The bench-mode _DF_CACHE is
# deliberately NOT tracked (process-wide build-once-query-many by design).
_PERSISTED: deque[DataFrame] = deque()
PERSIST_CAP = 48  # >> max persists per query (6, q267) — never evicts
# within the query being built; bounds a whole-registry sweep at ~48
# cached waists of storage


def tracked_persist(df: DataFrame) -> DataFrame:
    """persist(MEMORY_AND_DISK) with FIFO-bounded release (see above)."""
    df.persist(StorageLevel.MEMORY_AND_DISK)
    _PERSISTED.append(df)
    while len(_PERSISTED) > PERSIST_CAP:
        _PERSISTED.popleft().unpersist(blocking=False)
    return df


def release_persisted() -> None:
    """Unpersist every tracked waist (long-session / test hygiene)."""
    while _PERSISTED:
        _PERSISTED.popleft().unpersist(blocking=False)


def corpus_checkpoint(df: DataFrame) -> DataFrame:
    """CORPUS-SCALE materialization tier (r13, VERDICT item 2):
    persist(MEMORY_AND_DISK) + an explicit materializing action, instead
    of r12's localCheckpoint, for multi-referenced waists whose row
    count grows with the corpus (per-document token tables, per-vector
    norms and assignments, candidate pair sets).

    Why not localCheckpoint here: it stores blocks unreplicated on
    executors AND discards lineage — at cluster scale an executor loss
    kills the job instead of recomputing (explicitly unsafe with dynamic
    allocation), and its blocks are pinned storage, never spill-managed
    or evicted (guide §5). The persist keeps lineage (executor loss
    recomputes), stores blocks under the memory manager
    (MEMORY_AND_DISK: evictable, spills), and every downstream reference
    resolves to the same shared InMemoryRelation, so the r12 win
    (Catalyst does not share unreferenced common subplans) is kept.
    Values are identical either way.

    The action is EAGER-ONCE (count() populates the FULL column
    buffers — InMemoryRelation caches its complete output schema
    regardless of the action's pruning): a lazy persist lets the first
    query's concurrent stages RACE on the uncached waist, each
    recomputing partitions until the cache wins — at corpus scale that
    duplicates FULL passes, first-order waste against the second-order
    overlap it buys (guide §2.6's overlap argument is for stage tails,
    not saturating corpus stages). But re-running the action on every
    REBUILD of the same plan (bench reps, repeated builds in one
    session) pays a per-waist job floor for nothing — CacheManager
    already resolves an identical rebuilt plan to the cached relation —
    so the action is skipped when the plan is already cached, i.e. when
    ``df.storageLevel`` (that same CacheManager lookup) is not NONE
    (measured: eager-always regressed steady-state builds ~40%)."""
    if _LAZY_PLANS:
        return df
    already = df.storageLevel != StorageLevel.NONE
    tracked_persist(df)
    if not already:
        df.count()
    return df


def chain_checkpoint(df: DataFrame) -> DataFrame:
    """ITERATIVE-CHAIN materialization tier (r13): for loops where each
    round references the previous round's result 2-3x (BPE merges, label
    propagation, pagerank), lineage TRUNCATION is load-bearing — without
    it the logical plan and Catalyst analysis time grow exponentially in
    the round count, and persist() cannot help (it caches runtime blocks
    but keeps the textual plan). Truncation requires a checkpoint; the
    fault-tolerant form is the RELIABLE checkpoint (replicated files
    under sc.setCheckpointDir — how Spark's own iterative algorithms
    handle this), used whenever the deployment configured a dir. Local
    mode falls back to localCheckpoint, which is safe there by
    construction: the executor IS the driver, so there is no failure the
    lineage could have recovered from anyway.

    Deliberately does NOT honor the _LAZY_PLANS test hook: truncation
    here is structural (a 20-round loop's un-truncated plan is 2^20
    subtree copies — building it would hang any lazy-plan reader), and
    no plan pin reads through a chain checkpoint.

    The reliable path needs no persist first: an eager Dataset checkpoint
    (Spark 4) computes the round and writes its files in one job, so each
    round is computed once (pinned by a test). The files of a dropped
    round are removed by the session's cleanCheckpoints conf
    (session.py)."""
    sc = df.sparkSession.sparkContext
    if sc._jsc.sc().getCheckpointDir().isDefined():
        return df.checkpoint()
    return df.localCheckpoint()


def cached_df(key: tuple, build):
    """Return a persisted DataFrame for ``key``, building it on first use.
    Pass-through (no persist) when the cache is disabled."""
    if _DF_CACHE is None:
        return build()
    if key not in _DF_CACHE:
        df = build()
        if _CACHE_TABLE_PARTITIONS and key[0] == "table":
            df = df.repartition(_CACHE_TABLE_PARTITIONS)
        _DF_CACHE[key] = df.persist()
    return _DF_CACHE[key]


def read_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table. Path layout: {sf_dir}/{name}.parquet.

    The ``events`` fixture has shipped as TIMESTAMP(NANOS) (rejected by
    Spark's reader by default → nanos-as-long + truncate to micros) and as
    TIMESTAMP(MICROS, isAdjustedToUTC=false) (read as TIMESTAMP_NTZ →
    cast). Either way ``ts`` comes back as a plain TIMESTAMP in the
    UTC-pinned session (the registry wrapper pins it), matching DuckDB's
    reading of the same file.
    """
    if _DF_CACHE is not None:
        return cached_df(
            ("table", sf_dir, name), lambda: _read_table_cold(spark, sf_dir, name)
        )
    return _read_table_cold(spark, sf_dir, name)


def _read_table_cold(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Parquet has no per-read option for nanosAsLong, so scope the
        # session conf to the read; resolve the schema inside the scope,
        # since the relation captures the conf at analysis
        with conf_scope(
            spark, {"spark.sql.legacy.parquet.nanosAsLong": "true"}
        ):
            df = spark.read.parquet(path)
            df.schema
        from pyspark.sql import functions as F

        ts_type = dict(df.dtypes).get("ts")
        if ts_type == "bigint":
            # TIMESTAMP(NANOS) storage: nanos-as-long, truncate to micros
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif ts_type == "timestamp_ntz":
            # TIMESTAMP(MICROS, isAdjustedToUTC=false) storage: Spark 4 reads
            # NTZ, but unix_micros()/window() need TIMESTAMP. Session tz is
            # pinned UTC (session.pin_session), so the cast is
            # value-preserving and matches DuckDB's naive-timestamp reading
            # of the same file.
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
        return df
    return spark.read.parquet(path)


def load_tables(
    spark: SparkSession, sf_dir: str, *names: str
) -> dict[str, DataFrame]:
    """Read the named fixture tables (all of TABLES when none given)."""
    return {n: read_table(spark, sf_dir, n) for n in (names or TABLES)}
