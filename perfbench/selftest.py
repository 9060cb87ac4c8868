#!/usr/bin/env python3
"""Self-test of the benchmark, on the sf0.001 fixture (a few minutes).

    python3 perfbench/selftest.py [workload ...]

For each workload: one untraced and two traced runs of the fewest
passes.
Asserts that
- every metric named in BENCHMARK.json is printed, with its unit;
- exec.jobs, registry.build_jobs and every io.*.calls count repeat
  exactly across the two traced runs;
- build + plan + sink time reconciles with the traced pass wall within
  10% (``run.py`` fails a traced run otherwise);
- every output matches its stored digest, and no query fails;
and, once, that a deliberately broken query is counted as failed.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from workloads import SELFTEST_SF, WORKLOADS  # noqa: E402

EXACT = ("exec.jobs", "registry.build_jobs")


def bench(workload: str, trace: int, *extra: str) -> dict:
    cmd = [
        sys.executable, os.path.join(HERE, "run.py"),
        "--workload", workload, "--seed", "7", "--seconds", "1",
        "--trace", str(trace), "--sf", str(SELFTEST_SF),
        *extra,
    ]
    out = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=600)
    if out.returncode != 0:
        raise AssertionError(f"{cmd} exited {out.returncode}:\n{out.stderr[-3000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])


def check_units(result: dict, specs: list[dict], what: str) -> None:
    for spec in specs:
        got = result["metrics"].get(spec["name"])
        assert got is not None, f"{what}: {spec['name']} not printed"
        assert got["unit"] == spec["unit"], f"{what}: {spec['name']} unit {got}"
        assert isinstance(got["value"], (int, float)), f"{what}: {spec['name']}"


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    names = sys.argv[1:] or sorted(WORKLOADS)
    for name in names:
        plain = bench(name, 0)
        check_units(plain, spec["end_to_end"], name)
        assert plain["correct"] and plain["failed"] == 0, (name, plain)
        a, b = bench(name, 1), bench(name, 1)
        for r in (a, b):
            check_units(r, spec["per_layer"], name)
            assert r["correct"], (name, r)
        exact = [k for k in a["metrics"] if k in EXACT or k.endswith(".calls")]
        diff = {
            k: (a["metrics"][k]["value"], b["metrics"][k]["value"])
            for k in exact
            if a["metrics"][k]["value"] != b["metrics"][k]["value"]
        }
        assert not diff, f"{name}: counts differ between runs: {diff}"
        print(f"ok {name}: {len(exact)} counts repeat, "
              f"{plain['attempted']} query runs, none failed", flush=True)
    broken = WORKLOADS[names[0]].queries[0]
    r = bench(names[0], 0, "--break-query", broken)
    assert not r["correct"] and r["failed"] >= 1, r
    print(f"ok broken {broken}: failed {r['failed']} of {r['attempted']}")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
