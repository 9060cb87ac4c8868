"""pin_session: memoized conf pinning with the r13 re-assert guard —
an external re-set of the pinned confs after the first pin is repaired
within _PIN_REASSERT_EVERY calls instead of surviving the session."""

from __future__ import annotations

from hive_reflex_spark.session import _PIN_REASSERT_EVERY, pin_session


def test_pin_session_pins_and_memoizes(spark):
    pin_session(spark)
    assert spark.conf.get("spark.sql.ansi.enabled") == "false"
    assert spark.conf.get("spark.sql.session.timeZone") == "UTC"
    assert getattr(spark, "_hrs_pinned", False)


def test_pin_session_reasserts_after_external_drift(spark):
    pin_session(spark)
    # an external caller flips a pinned conf AFTER the first pin — the
    # r12 memo trusted the instance flag and never noticed
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        for _ in range(_PIN_REASSERT_EVERY + 1):
            pin_session(spark)
        assert spark.conf.get("spark.sql.ansi.enabled") == "false", (
            "re-assert guard did not repair external conf drift"
        )
    finally:
        spark.conf.set("spark.sql.ansi.enabled", "false")


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
