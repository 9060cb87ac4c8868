"""SparkSession builder pinned for determinism and local-mode throughput.

Scale note: every config here is either scale-neutral (timezone, ANSI) or
adaptive (AQE re-plans shuffles at runtime, coalesces small partitions,
splits skewed ones) — the same session config is correct on local[32] and
on a 1000-executor cluster; only `shuffle.partitions` should be raised
(AQE's coalescing makes over-provisioning it cheap). The generated-code
cache is sized to the workload, not the data: one pass over the bench
headline needs ~277 compiled classes, and Spark's default cache of 100
evicted them before they came round again, so every pass recompiled
(~10 ms of Janino each, on the driver) and re-warmed the JIT.

Session confs are owned here. ``get_spark`` builds a session;
``pin_session`` sets the two confs every registered query's oracle
assumes (the registry wrapper is its only caller); ``conf_scope`` sets
a temporary conf for one block and restores it. Nothing else in the
package sets or unsets a session conf.

Scratch files: every file the package writes (stream staging dirs, sink
round-trips, the bucketed-table warehouse, generated fixtures) lives
under one per-process root, ``scratch_path()``, removed at interpreter
exit.
"""

from __future__ import annotations

import atexit
import contextlib
import os
import shutil
import tempfile

from pyspark.sql import SparkSession

_SCRATCH_ROOT: str | None = None


def scratch_path(*parts: str) -> str:
    """A path under this process's scratch root (``<tmpdir>/hrs_*``).

    The root is created on the first call, so executor-side Python
    workers, which never call this, create nothing, and it is removed
    with everything under it at interpreter exit. Being private to the
    process, nothing under it needs a pid suffix, a lock or a reaper.
    """
    global _SCRATCH_ROOT
    if _SCRATCH_ROOT is None:
        _SCRATCH_ROOT = tempfile.mkdtemp(prefix="hrs_")
        atexit.register(shutil.rmtree, _SCRATCH_ROOT, ignore_errors=True)
    return os.path.join(_SCRATCH_ROOT, *parts)


def get_spark(
    app_name: str = "hive-reflex-spark",
    shuffle_partitions: int | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession with deterministic, scale-ready configs."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    # Python workers unpickle package-defined UDFs/UDTFs by importing
    # hive_reflex_spark — make that work from ANY driver cwd by putting
    # the package root on the workers' PYTHONPATH (a cluster deployment
    # ships the package via --py-files / pip instead; local workers
    # inherit this env).
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    pp = os.environ.get("PYTHONPATH", "")
    if pkg_root not in pp.split(os.pathsep):
        os.environ["PYTHONPATH"] = (
            f"{pkg_root}{os.pathsep}{pp}" if pp else pkg_root
        )
    active = SparkSession.getActiveSession()
    if active is not None:
        return active
    builder = (
        SparkSession.builder.appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config(
            "spark.sql.shuffle.partitions",
            str(shuffle_partitions or cpus),
        )
        # AQE: runtime shuffle re-planning, small-partition coalescing and
        # skew-join splitting — the main lever that makes one plan survive
        # a 100x scale-up without retuning.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for all pandas-UDF exchange (the only sanctioned Python path).
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # ANSI off: match DuckDB-ish permissive semantics (e.g. no overflow
        # errors on casts) used by the correctness oracle.
        .config("spark.sql.ansi.enabled", "false")
        # bucketed-table warehouse (functions/layout.py) out of the repo tree
        .config("spark.sql.warehouse.dir", scratch_path("warehouse"))
        # Generated-code cache: the measured working sets are ~277 classes
        # (warm headline pass) and ~220 (cold registry sample), against
        # Spark's default of 100 entries — LRU eviction then recompiled
        # 160-200 classes per pass and sent them back through the
        # interpreter. Static conf: applies only when this call creates
        # the session; a session the driver passes in keeps its own value.
        .config("spark.sql.codegen.cache.maxEntries", "1024")
        # chain_checkpoint's reliable checkpoints: remove a dropped round's
        # files once its RDD is garbage-collected on the driver
        .config("spark.cleaner.referenceTracking.cleanCheckpoints", "true")
        # local-mode heap: the driver JVM IS the executor; Spark's 1g
        # default OOMs as soon as cached base tables pass a few hundred
        # MB. Only applies when this call creates the JVM; a cluster
        # deployment sizes executors via spark-submit as usual.
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM") or _default_heap(),
        )
    )
    return builder.master(f"local[{cpus}]").getOrCreate()


def _default_heap() -> str:
    """A quarter of physical RAM, at least 2g and at most 32g.

    A fixed 32g heap let the test JVM on a 15 GB host grow to 12.4 GB
    RSS, and a second Spark process beside it was killed by the kernel.
    """
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    return f"{min(32 << 10, max(2 << 10, ram_mb // 4))}m"


def pin_session(spark: SparkSession) -> SparkSession:
    """Pin the confs every registered query's oracle assumes.

    The driver passes us its own SparkSession; oracle comparisons require
    UTC timestamps regardless of how that session was built, and the
    declared DuckDB-permissive arithmetic semantics (NULL on /0,
    wrap-on-overflow casts) require ANSI mode OFF — a driver session
    built ANSI-on would otherwise throw DIVIDE_BY_ZERO / CAST_OVERFLOW
    on edges every one of the registered queries is exposed to.

    The registry wrapper (``registry.query``) calls this before every
    build and is its only caller, so library functions called directly
    leave the caller's session alone. It is not memoized: two conf sets
    (~0.4 ms) per build, so a conf flipped between builds is repaired
    on the next one.
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.ansi.enabled", "false")
    return spark


@contextlib.contextmanager
def conf_scope(spark: SparkSession, confs: dict[str, str]):
    """Set ``confs`` on ``spark`` for the ``with`` block only.

    On exit each key gets back the value it had before, or is unset if
    it had none, so the session leaves the block as it entered.
    """
    prev = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in prev.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
