#!/usr/bin/env python3
"""Full-registry oracle sweep under a deliberately HOSTILE session:
ANSI mode ON and a non-UTC timezone — the driver-session shape that
broke queries before pin_session (registry.py wraps every registered
callable; this sweep proves the wrapper covers the whole registry, not
just the window).

Usage: python3 scripts/hostile_sweep.py [sf_dir] [query ...]
"""

from __future__ import annotations

import os
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

# workers must resolve the package for pickled UDF/UDTF queries — export
# BEFORE the JVM builds (get_spark does this too; we build our own here)
pp = os.environ.get("PYTHONPATH", "")
if REPO not in pp.split(os.pathsep):
    os.environ["PYTHONPATH"] = f"{REPO}{os.pathsep}{pp}" if pp else REPO


def main() -> int:
    from pyspark.sql import SparkSession

    from hive_reflex_spark.session import scratch_path

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    (
        SparkSession.builder.appName("hostile-sweep")
        .master(f"local[{cpus}]")
        .config("spark.sql.ansi.enabled", "true")
        .config("spark.sql.session.timeZone", "America/New_York")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.sql.warehouse.dir", scratch_path("warehouse"))
        .config("spark.driver.memory", "32g")
        .getOrCreate()
    )
    # check_oracle's get_spark picks up the active (hostile) session
    sys.argv[0] = "check_oracle.py"
    import importlib

    co = importlib.import_module("check_oracle")
    ties_only = "--ties-only" in sys.argv
    if ties_only:
        sys.argv.remove("--ties-only")
    rc = 0
    if not ties_only:
        rc = co.main()
        if sys.argv[1:] and len(sys.argv) > 2:
            return rc  # explicit query list: skip the tie pass

    # Adversarial rounding pass (VERDICT r7 item 5): re-run the
    # embeddings-only ROUND(x*1e9) queries on a fixture whose every
    # Gram/score term lands on an exact-.5 double — proves the
    # half-away discipline structurally, not fixture-luckily.
    import tempfile

    from tie_fixture import TIE_QUERIES, write_tie_fixture

    with tempfile.TemporaryDirectory() as d:
        write_tie_fixture(d)
        sys.argv = ["check_oracle.py", d, *TIE_QUERIES]
        print(f"\n--- planted-tie pass ({len(TIE_QUERIES)} queries) ---")
        rc2 = co.main()
    return rc or rc2


if __name__ == "__main__":
    sys.path.insert(0, os.path.join(REPO, "scripts"))
    raise SystemExit(main())
