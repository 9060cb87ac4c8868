#!/usr/bin/env python3
"""Repository benchmark: one run of one workload.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root.  Generates the workload's input tables
under ``.perfbench/`` on first use (not timed), starts one fresh worker
process (``worker.py``) on ``local[<cpus>]``, and prints as its last
stdout line one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``; names and units as listed in BENCHMARK.json).  The lines before it record the host:
cpus, RAM, load average at start and end, program revision, Spark and
DuckDB versions.  See README.md for the workloads and metrics.
"""

from __future__ import annotations

import argparse
import ctypes
import hashlib
import importlib.metadata
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

import numpy as np

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

import fixture  # noqa: E402
import oracle  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

STATE = os.path.join(ROOT, ".perfbench")
RUN_LIMIT_S = 170  # the worker is killed past this
DRIVER_MEM = "3g"  # driver heap; local mode runs every task in it
# A fixed-size heap and young generation: with G1's adaptive sizing the
# driver's peak RSS varied by 30% between identical runs.
JVM_OPTS = f"-Xms{DRIVER_MEM} -Xmn768m"

# build + plan + sink must account for the traced pass wall within 10%
RECONCILE = (0.9, 1.1)


def host_record() -> dict:
    with open("/proc/meminfo") as f:
        mem_kb = int(f.readline().split()[1])
    return {
        "cpus": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "revision": revision(),
        "spark": importlib.metadata.version("pyspark"),
        "duckdb": importlib.metadata.version("duckdb"),
    }


def revision() -> str:
    """The git commit when there is one, else a digest of the program's
    Python sources (a benchmark checkout is not a git repository)."""
    try:
        out = subprocess.run(
            ["git", "-C", ROOT, "rev-parse", "HEAD"],
            capture_output=True, text=True, timeout=10,
        )
        if out.returncode == 0:
            return out.stdout.strip()
    except OSError:
        pass
    h = hashlib.sha256()
    for base in ("__spark_entry__.py", "bench.py", "hive_reflex_spark"):
        path = os.path.join(ROOT, base)
        files = [path] if os.path.isfile(path) else sorted(
            os.path.join(d, n)
            for d, _, ns in os.walk(path)
            for n in ns
            if n.endswith(".py")
        )
        for p in files:
            with open(p, "rb") as f:
                h.update(os.path.relpath(p, ROOT).encode() + f.read())
    return "src-" + h.hexdigest()[:16]


def cpu_probe_s() -> float:
    """Seconds for a fixed pure-Python loop: how fast one core of this
    host is right now (shared hosts drift by 2x), to read runs against."""
    t0 = time.perf_counter()
    sum(range(5_000_000))
    return round(time.perf_counter() - t0, 4)


def steal_s() -> float:
    """CPU time the hypervisor gave other guests while this one's vCPUs
    were ready to run, summed over all vCPUs since boot."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def loadavg() -> str:
    with open("/proc/loadavg") as f:
        return " ".join(f.read().split()[:3])


def program_present() -> bool:
    return all(
        os.path.exists(os.path.join(ROOT, p))
        for p in ("__spark_entry__.py", "bench.py", "hive_reflex_spark/io.py")
    )


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Make descendants orphaned during the run reparent to this process
    instead of init, so ``reap_descendants`` can wait for them."""
    libc = ctypes.CDLL(None, use_errno=True)
    if libc.prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def descendants() -> list[int]:
    """Every process below this one, found through parent pids: Spark's
    Python daemon moves to a process group of its own, so the worker's
    process group does not hold all of them."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        ppid = int(raw[raw.rindex(")") + 2 :].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    found, todo = [], [os.getpid()]
    while todo:
        for pid in children.get(todo.pop(), ()):
            found.append(pid)
            todo.append(pid)
    return found


def reap_descendants() -> None:
    """Kill every process this one started, directly or not, and wait
    until each has ended.  As a subreaper this process inherits the
    orphans, so no child left means no descendant left."""
    while True:
        for pid in descendants():
            try:
                os.kill(pid, signal.SIGKILL)
            except ProcessLookupError:
                pass
        try:
            os.waitpid(-1, 0)
        except ChildProcessError:
            return


def exit_on_signal(signum, _frame) -> None:
    raise SystemExit(128 + signum)


def run_worker(args, sf: float, sf_dir: str) -> dict | None:
    run_dir = os.path.join(STATE, "run")
    shutil.rmtree(run_dir, ignore_errors=True)
    tmp = os.path.join(run_dir, "tmp")
    os.makedirs(os.path.join(tmp, "spark"))
    out = os.path.join(run_dir, "result.json")
    cpus = len(os.sched_getaffinity(0))
    env = dict(os.environ)
    env.update(
        SPARK_GRAFT_CPUS=str(cpus),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        TMPDIR=tmp,
        SPARK_LOCAL_DIRS=os.path.join(tmp, "spark"),
        TZ="UTC",
        PYSPARK_SUBMIT_ARGS=" ".join(
            [
                "--conf spark.ui.showConsoleProgress=false",
                # keep every job and stage of a run for the status
                # tracker and the REST API
                "--conf spark.ui.retainedJobs=100000",
                "--conf spark.ui.retainedStages=100000",
                f'--conf "spark.driver.extraJavaOptions={JVM_OPTS} '
                f'-Djava.io.tmpdir={tmp}"',
                "pyspark-shell",
            ]
        ),
        PERFBENCH_SPAWN_T=repr(time.time()),
    )
    cmd = [
        sys.executable, os.path.join(HERE, "worker.py"),
        "--workload", args.workload,
        "--seed", str(args.seed),
        "--seconds", str(args.seconds),
        "--trace", str(args.trace),
        "--sf-dir", sf_dir,
        "--sf", repr(sf),
        "--break-query", args.break_query,
        "--out", out,
    ]
    with open(os.path.join(run_dir, "worker.log"), "w") as log:
        proc = subprocess.Popen(
            cmd, cwd=ROOT, env=env, stdout=log, stderr=subprocess.STDOUT,
            start_new_session=True,
        )
        try:
            code = proc.wait(timeout=RUN_LIMIT_S)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()
            code = None
        finally:
            reap_descendants()
    if code != 0 or not os.path.exists(out):
        with open(os.path.join(run_dir, "worker.log")) as f:
            sys.stderr.write(f.read()[-4000:])
        why = "timed out" if code is None else f"exited {code}"
        print(f"perfbench: worker {why}", file=sys.stderr)
        return None
    with open(out) as f:
        return json.load(f)


def hd_quantile(samples: list[float], p: float) -> float:
    """Harrell-Davis estimate of the ``p`` quantile: a Beta((n+1)p,
    (n+1)(1-p))-weighted mean of all order statistics.  Unlike a single
    order statistic it does not jump when two queries of close latency
    swap ranks between runs."""
    xs = np.sort(np.asarray(samples, dtype=float))
    n = len(xs)
    a, b = p * (n + 1), (1 - p) * (n + 1)
    grid = np.linspace(0.0, 1.0, 20_001)
    inner = grid[1:-1]
    log_pdf = (a - 1) * np.log(inner) + (b - 1) * np.log1p(-inner)
    pdf = np.concatenate(([0.0], np.exp(log_pdf - log_pdf.max()), [0.0]))
    cdf = np.concatenate(([0.0], np.cumsum((pdf[1:] + pdf[:-1]) / 2)))
    cdf /= cdf[-1]
    weights = np.diff(np.interp(np.arange(n + 1) / n, grid, cdf))
    return float(weights @ xs)


def tail_percentile(samples: list[float]) -> float:
    """The highest percentile that still leaves ten samples beyond it,
    but not below the median.  The pass count is fixed per workload, so
    this percentile is too."""
    n = len(samples)
    return max(n - 10, n / 2) / n


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), required=True)
    # self-test knobs: another fixture scale, and a query whose output
    # is deliberately broken
    ap.add_argument("--sf", type=float, default=None, help=argparse.SUPPRESS)
    ap.add_argument("--break-query", default="", help=argparse.SUPPRESS)
    args = ap.parse_args()

    if not program_present():
        print("perfbench: program sources not found next to perfbench/",
              file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]
    sf = args.sf if args.sf is not None else w.sf
    if oracle.sf_key(sf) not in oracle.load():
        print(f"perfbench: no stored digests for sf{sf:g}", file=sys.stderr)
        return 2
    sf_dir = fixture.ensure(os.path.join(STATE, oracle.sf_key(sf)), sf)

    host = host_record()
    host["loadavg_start"] = loadavg()
    host["cpu_probe_start_s"] = cpu_probe_s()
    steal0 = steal_s()
    res = run_worker(args, sf, sf_dir)
    host["steal_s"] = round(steal_s() - steal0, 2)
    host["loadavg_end"] = loadavg()
    host["cpu_probe_end_s"] = cpu_probe_s()
    if res is None:
        return 1

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    if args.trace:
        values = res["layers"]
        metrics = spec["per_layer"]
        ratio = values["trace.layer_sum_ratio"]
        if not RECONCILE[0] <= ratio <= RECONCILE[1]:
            # the layer times do not account for the pass: they measure
            # something else than the pass, so they are not reported
            print(f"perfbench: build + plan + sink = {ratio:.3f} x pass wall, "
                  f"outside {RECONCILE}", file=sys.stderr)
            return 1
        print(f"# trace: build + plan + sink = {ratio:.3f} x pass wall; "
              f"overhead {values['trace.overhead_s']:+.3f} s per pass")
    elif not res["latencies"]:
        print("perfbench: every timed query failed:", *res["failures"],
              sep="\n", file=sys.stderr)
        return 1
    else:
        lat = res["latencies"]
        p = tail_percentile(lat)
        values = {
            "setup_s": res["setup_s"],
            "pass_wall_s": statistics.median(res["walls"]),
            "query_p50_s": hd_quantile(lat, 0.5),
            "query_tail_s": hd_quantile(lat, p),
            "cpu_s": statistics.median(res["cpu"]),
            "peak_rss_mb": res["peak_rss_mb"],
        }
        metrics = spec["end_to_end"]
        print(f"# query_tail_s is p{100 * p:.1f} of {len(lat)} query "
              f"samples ({len(lat) - round(p * len(lat))} beyond it)")
    failed = len(res["failures"])
    for why in res["failures"]:
        print(f"# FAILED {why}")
    print(f"# workload {args.workload} sf{sf:g} seed {args.seed} "
          f"passes {res['passes']} failed_ratio {failed / res['attempted']:.4f}")
    print("# host " + json.dumps(host, sort_keys=True))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": res["attempted"],
        "failed": failed,
        "metrics": {
            m["name"]: {"value": values[m["name"]], "unit": m["unit"]}
            for m in metrics
        },
    }))
    return 0


STOP_SIGNALS = (signal.SIGTERM, signal.SIGINT, signal.SIGHUP)

if __name__ == "__main__":
    become_subreaper()
    for sig in STOP_SIGNALS:
        signal.signal(sig, exit_on_signal)
    try:
        raise SystemExit(main())
    finally:
        # on every way out, a signal included: nothing this run started
        # may outlive it
        for sig in STOP_SIGNALS:
            signal.signal(sig, signal.SIG_IGN)
        reap_descendants()
