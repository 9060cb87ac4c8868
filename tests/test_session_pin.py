"""Session confs: the registry repairs a hostile session on every build,
the test JVM's heap fits the host, and the codegen cache holds a pass.

The driver hands the registry a session it did not build. An ANSI-on,
non-UTC one throws DIVIDE_BY_ZERO / CAST_OVERFLOW and shifts naive
timestamps, so ``registry.query`` pins UTC and ANSI off before every
build (``session.pin_session``)."""

from __future__ import annotations

import ast
import os
import pathlib
import sys
from concurrent.futures import ThreadPoolExecutor

import duckdb

import __spark_entry__  # noqa: F401  (imports populate the registry)

from hive_reflex_spark.io import TABLES
from hive_reflex_spark.registry import ORACLES, QUERIES
from hive_reflex_spark.session import conf_scope

sys.path.insert(
    0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "scripts")
)
from check_oracle import arrow_dtype_check, canon_rows  # noqa: E402

HOSTILE = {
    "spark.sql.ansi.enabled": "true",
    "spark.sql.session.timeZone": "America/New_York",
}

# the bounded stream replays (streaming/ops.py), outside the driver window
REPLAYS = (
    "q62_streaming_hourly",
    "q63_stream_static_join",
    "q64_streaming_sessions",
    "q97_stream_dedup",
    "q101_stream_interval_join",
    "q104_incremental_rollup",
    "q121_stream_countmin",
    "q147_stream_left_outer_join",
    "q171_incremental_lsh_index",
    "q172_log_shipping_roundtrip",
    "q250a_stream_novelty",
    "q265a_stream_hll_registers",
    "q268a_stream_kmv",
    "q290a_stream_count_sketch",
)


def test_registry_repairs_hostile_session_confs(spark, sf_smoke):
    """Each query in the driver window and each bounded replay is built
    through the registry in an ANSI-on, America/New_York session. The
    build must leave the session on UTC with ANSI off, and its rows and
    arrow dtypes must match the DuckDB oracle."""
    names = list(QUERIES)[:50] + list(REPLAYS)
    con = duckdb.connect(config={"threads": 1})
    for t in TABLES:
        p = os.path.join(sf_smoke, f"{t}.parquet")
        if os.path.exists(p):
            con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{p}'")

    def oracle_rows(cur):
        out = {}
        for name in names:
            cur.execute(ORACLES[name])
            out[name] = canon_rows(
                [d[0] for d in cur.description], cur.fetchall()
            )
        return out

    # the oracles do not depend on the session: one DuckDB thread runs
    # them while Spark builds on the other cores
    with ThreadPoolExecutor(1) as pool:
        oracles = pool.submit(oracle_rows, con.cursor())
        built, fails = {}, {}
        for name in names:
            with conf_scope(spark, HOSTILE):
                sdf = QUERIES[name](spark, sf_smoke)
                confs = tuple(spark.conf.get(k) for k in sorted(HOSTILE))
                if confs != ("false", "UTC"):
                    fails[name] = f"session left at {confs}"
                    continue
                rows = [tuple(r) for r in sdf.collect()]
            built[name] = sdf, canon_rows(sdf.columns, rows)
        wants = oracles.result()
    for name, (sdf, got) in built.items():
        want = wants[name]
        problems = arrow_dtype_check(sdf, con, ORACLES[name])
        if got != want:
            diff = [(a, b) for a, b in zip(got[1], want[1]) if a != b]
            problems.append(
                f"columns {got[0]} vs {want[0]}, "
                f"{len(got[1])} vs {len(want[1])} rows, first diff {diff[:1]}"
            )
        if problems:
            fails[name] = problems
    con.close()
    assert not fails, fails


def test_only_session_sets_session_confs():
    """No package module but session.py sets or unsets a session conf,
    and the registry wrapper is the only caller of pin_session."""
    pkg = pathlib.Path(__file__).resolve().parents[1] / "hive_reflex_spark"
    offences, pins = [], []
    for path in sorted(pkg.rglob("*.py")):
        if path.name == "session.py" and path.parent == pkg:
            continue
        for node in ast.walk(ast.parse(path.read_text(), str(path))):
            if not isinstance(node, ast.Call):
                continue
            fn, where = node.func, f"{path.relative_to(pkg)}:{node.lineno}"
            if (
                isinstance(fn, ast.Attribute)
                and fn.attr in ("set", "unset")
                and isinstance(fn.value, ast.Attribute)
                and fn.value.attr == "conf"
            ):
                offences.append(where)
            if getattr(fn, "id", getattr(fn, "attr", "")) == "pin_session":
                pins.append(where.split(":")[0])
    assert not offences, offences
    assert pins == ["registry.py"], pins


def test_driver_heap_fits_the_host(spark):
    """get_spark's default heap is a quarter of physical RAM (2g to 32g).
    A fixed 32g let the test JVM grow past what a 15 GB host could give
    a second Spark process."""
    heap_mb = spark.sparkContext._jsc.sc().conf().getSizeAsMb(
        "spark.driver.memory"
    )
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") >> 20
    assert heap_mb <= ram_mb, (heap_mb, ram_mb)


def test_codegen_cache_holds_a_headline_pass(spark, sf_smoke):
    """A second build of identical plans reuses the generated classes of
    the first. Spark's default cache of 100 entries is smaller than one
    headline pass, so LRU eviction recompiled most of its classes on
    every pass; get_spark sizes the cache to the workload."""
    import __spark_entry__ as entry
    import bench

    qs = entry.queries()

    def headline_pass() -> int:
        before = bench.codegen_compiles(spark)
        for name in bench.HEADLINE:
            bench.force_eval(qs[name](spark, sf_smoke))
        return bench.codegen_compiles(spark) - before

    first = headline_pass()
    # the pass must outgrow Spark's default cache of 100 to tell the two
    # cache sizes apart
    assert first > 100, f"first pass compiled only {first} classes"
    second = headline_pass()
    assert second <= 5, (
        f"second identical pass recompiled {second} classes (first: {first})"
    )
