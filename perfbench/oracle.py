"""Stored output digests and the check against them.

A query's expected output is the canonical digest of its DuckDB oracle
twin on the benchmark fixture, computed once and stored in
``digests.json``; a query without an oracle stores its Spark row count.
Canonicalization mirrors ``scripts/check_oracle.py`` (columns sorted by
name, floats rounded to 9 places, rows sorted), frozen here so that the
stored digests do not drift with that script.

Regenerate (slow: runs every oracle at every workload scale):

    python3 perfbench/oracle.py
"""

from __future__ import annotations

import hashlib
import json
import math
import os
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
DIGESTS = os.path.join(HERE, "digests.json")
ROUND = 9


def canon_value(v):
    if v is None:
        return None
    if isinstance(v, float):
        return "NaN" if math.isnan(v) else round(v, ROUND)
    if hasattr(v, "isoformat"):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(canon_value(x) for x in v)
    import decimal

    if isinstance(v, decimal.Decimal):
        return round(float(v), ROUND)
    return v


def digest(cols: list[str], rows) -> str:
    order = sorted(range(len(cols)), key=lambda i: cols[i])
    out = [tuple(canon_value(r[i]) for i in order) for r in rows]
    out.sort(key=lambda t: tuple(map(str, t)))
    return hashlib.sha256(repr((sorted(cols), out)).encode()).hexdigest()


def sf_key(sf: float) -> str:
    return f"sf{sf:g}"


def load() -> dict:
    with open(DIGESTS) as f:
        return json.load(f)


def check(expected: dict, cols: list[str], rows: list) -> str | None:
    """None when ``rows`` match the stored expectation, else a reason."""
    if expected["kind"] == "rows":
        ok = len(rows) == expected["rows"]
        return None if ok else f"{len(rows)} rows, want {expected['rows']}"
    if len(rows) != expected["rows"]:
        return f"{len(rows)} rows, want {expected['rows']}"
    got = digest(cols, rows)
    return None if got == expected["digest"] else f"digest {got[:12]} differs"


def main() -> int:
    """Compute the digest of every workload query at its workload's scale
    and at the self-test scale, from the DuckDB oracle twins."""
    import duckdb

    sys.path.insert(0, ROOT)
    sys.path.insert(0, HERE)
    import fixture
    import workloads

    import __spark_entry__ as entry
    from hive_reflex_spark.io import TABLES

    qs, oracles = entry.queries(), entry.oracle_sql()
    need: dict[float, set[str]] = {}
    for w in workloads.WORKLOADS.values():
        need.setdefault(w.sf, set()).update(w.queries)
        need.setdefault(workloads.SELFTEST_SF, set()).update(w.queries)
    no_oracle = sorted({q for s in need.values() for q in s if q not in oracles})
    spark = None
    out: dict = {}
    for sf, names in sorted(need.items()):
        sf_dir = fixture.ensure(os.path.join(ROOT, ".perfbench", sf_key(sf)), sf)
        con = duckdb.connect()
        for t in TABLES:
            con.execute(
                f"CREATE VIEW {t} AS SELECT * FROM "
                f"'{os.path.join(sf_dir, t)}.parquet'"
            )
        block = out.setdefault(sf_key(sf), {})
        for name in sorted(names):
            if name in oracles:
                res = con.execute(oracles[name])
                cols = [d[0] for d in res.description]
                rows = res.fetchall()
                block[name] = {
                    "kind": "oracle",
                    "rows": len(rows),
                    "digest": digest(cols, rows),
                }
            else:
                if spark is None:
                    from hive_reflex_spark.session import get_spark

                    spark = get_spark("perfbench-digests")
                n = qs[name](spark, sf_dir).count()
                block[name] = {"kind": "rows", "rows": n}
            print(f"{sf_key(sf)} {name}: {block[name]}", flush=True)
        con.close()
    if no_oracle:
        print(f"rows-only (no oracle): {no_oracle}")
    with open(DIGESTS, "w") as f:
        json.dump(out, f, indent=1, sort_keys=True)
        f.write("\n")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
