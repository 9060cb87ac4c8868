#!/usr/bin/env python3
"""Structural plan fingerprint for plan-identity checks (guide §7.2):

prints, per query, the result schema plus the formatted physical plan
with expression IDs (#123), plan IDs, codegen IDs and the per-process
scratch root (``hrs_*``, see ``session.scratch_path``) stripped — two
builder variants that analyze to the same tree produce byte-identical
fingerprints. Used to prove a py4j-chatter rewrite (selectExpr batching)
changed HOW the plan is built, not WHAT is built.

Usage: python scripts/plan_fingerprint.py <out_file> [query ...]
"""

from __future__ import annotations

import os
import re
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    out_path = sys.argv[1]
    names = sys.argv[2:]
    import bench
    from hive_reflex_spark.io import enable_df_cache
    from hive_reflex_spark.session import get_spark
    import __spark_entry__ as e

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    spark = get_spark("hive-reflex-plan-fingerprint")
    n_shuffle, _ = bench.configure_for(spark, sf_dir)
    enable_df_cache(table_partitions=2 * n_shuffle)
    qs = e.queries()

    with open(out_path, "w") as fh:
        for name in names:
            df = qs[name](spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df.queryExecution() if hasattr(df, "queryExecution")
                else df._jdf.queryExecution(),
                "formatted",
            )
            plan = re.sub(r"#\d+", "#x", plan)
            plan = re.sub(r"plan_id=\d+", "plan_id=x", plan)
            plan = re.sub(r"\[codegen id : \d+\]", "[codegen id : x]", plan)
            plan = re.sub(r"(?<=/)hrs_[a-z0-9_]{8}(?![a-z0-9_])", "hrs_x", plan)
            fh.write(f"==== {name}\nschema: {df.schema.simpleString()}\n")
            fh.write(plan)
            fh.write("\n")
    print(f"wrote {out_path}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
