"""One benchmark run, in a fresh process started by ``run.py``.

Set-up: session, imports, workload configuration, then one warm-up pass
over every query of the workload (this fills the caches).  Then a fixed
number of timed passes; each pass runs every query, in the seed's order,
through build -> plan -> sink, one query at a time.  After them, off the
clock, the DataFrames the last timed pass sank are collected and checked
against the stored digests, and every timed sink must have run at least
one Spark job.

With ``--trace 1`` the timed passes alternate between tracing off and
on, starting and ending untraced (one pass more than an untraced run
when its pass count is even);
per-layer metrics come from the traced passes, and the difference of
the two pass medians is the tracing overhead.

Writes one JSON document to ``--out``; ``run.py`` prints the result.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, ROOT)
sys.path.insert(0, HERE)

import layers  # noqa: E402
import oracle  # noqa: E402
from workloads import WORKLOADS  # noqa: E402


class Run:
    """State of one run: the session, the tracer and the counts."""

    def __init__(self, args) -> None:
        self.args = args
        self.w = WORKLOADS[args.workload]
        self.sf_dir = args.sf_dir
        self.expected = oracle.load()[oracle.sf_key(args.sf)]
        self.tracer = layers.Tracer()
        self.attempted = 0
        self.failures: list[str] = []
        self.stream_events: list = []

    # -- set-up --------------------------------------------------------
    def setup(self) -> None:
        import hive_reflex_spark.io as hio

        self.hio = hio
        if self.args.trace:
            # before the operators import: see Tracer.wrap_io
            self.tracer.wrap_io(hio)
        from hive_reflex_spark.session import get_spark

        t0 = time.perf_counter()
        self.spark = get_spark("perfbench")
        self.session_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")

        import __spark_entry__ as entry
        import bench

        self.bench = bench
        self.qs = entry.queries()
        if self.args.break_query:
            orig = self.qs[self.args.break_query]
            self.qs[self.args.break_query] = lambda s, d: orig(s, d).limit(0)
        if self.w.warm_cache:
            n_shuffle, _ = bench.configure_for(self.spark, self.sf_dir)
            hio.enable_df_cache(table_partitions=2 * n_shuffle)
        if self.args.trace:
            self.spark.streams.addListener(
                layers.streaming_listener(self.stream_events)
            )
        jvm = self.spark._jvm
        self.jvm_pid = int(jvm.java.lang.ProcessHandle.current().pid())

    def reset(self) -> None:
        """Cold workloads: drop every cache before a pass, so each pass
        repeats the first-build path (eager jobs included)."""
        if not self.w.warm_cache:
            self.spark.catalog.clearCache()
            self.hio.release_persisted()

    # -- one query -----------------------------------------------------
    def run_query(self, name: str, pass_no: int):
        """Build, plan and sink one query; returns its latency and the
        DataFrame, or None when it failed.  Each phase runs in its own
        job group."""
        t = self.tracer
        t.query = name
        sc = self.spark.sparkContext
        self.attempted += 1
        try:
            t0 = time.perf_counter()
            sc.setJobGroup(f"pb|{pass_no}|{name}|build", name)
            with t.span("registry.build"):
                df = self.qs[name](self.spark, self.sf_dir)
            sc.setJobGroup(f"pb|{pass_no}|{name}|plan", name)
            with t.span("catalyst.plan"):
                jplan = df._jdf.queryExecution().executedPlan()
            sc.setJobGroup(f"pb|{pass_no}|{name}|sink", name)
            with t.span("exec.sink"):
                self.bench.force_eval(df)
            latency = time.perf_counter() - t0
            sc.setJobGroup("pb|idle", "")
            if t.active:
                t.count("catalyst.plan_operators", len(jplan.treeString().splitlines()))
            return latency, df
        except Exception as ex:  # noqa: BLE001 - a failed query is a result
            self.failures.append(f"{name}: {type(ex).__name__}: {ex}"[:400])
            return None

    # -- passes --------------------------------------------------------
    def measure(self) -> dict:
        args, w = self.args, self.w
        spawn_t = float(os.environ["PERFBENCH_SPAWN_T"])
        self.setup()
        # warm-up pass: untimed, fills the caches
        warmup = {}
        for name in w.order(args.seed, 0):
            got = self.run_query(name, 0)
            warmup[name] = got and got[0]
        setup_s = time.time() - spawn_t

        n_passes = w.passes(args.seconds)
        if args.trace:
            # untraced-traced-untraced: the first timed pass runs slower
            # (JIT still warming), so an untraced pass on both sides of
            # each traced one keeps that drift out of trace.overhead_s
            n_passes += 1 - n_passes % 2
        walls: list[float] = []
        lat: list[float] = []
        cpu: list[float] = []
        traced: list[int] = []
        windows: list[tuple[float, float]] = []
        per_query: dict[str, list[float]] = {}
        sunk: list[tuple[int, str]] = []
        last: dict = {}  # query -> the DataFrame the last pass sank
        for p in range(1, n_passes + 1):
            self.reset()
            # traced runs alternate: even passes traced, odd ones not
            on = bool(args.trace) and p % 2 == 0
            self.tracer.active = on
            self.tracer.pass_no = p
            c0 = layers.tree_cpu_s(self.jvm_pid) + layers.self_cpu_s()
            e0 = time.time()
            last = {}
            for name in w.order(args.seed, p):
                got = self.run_query(name, p)
                if got is not None:
                    lat.append(got[0])
                    per_query.setdefault(name, []).append(got[0])
                    sunk.append((p, name))
                    last[name] = got[1]
            e1 = time.time()
            c1 = layers.tree_cpu_s(self.jvm_pid) + layers.self_cpu_s()
            self.tracer.active = False
            walls.append(e1 - e0)
            cpu.append(c1 - c0)
            if on:
                traced.append(p)
                windows.append((e0, e1))
        self.check_outputs(last)
        self.check_sinks(sunk)
        result = {
            "setup_s": setup_s,
            "passes": n_passes,
            "walls": walls,
            "latencies": lat,
            "cpu": cpu,
            "traced": traced,
            "per_query": per_query,
            "warmup": warmup,
            "session_s": self.session_s,
            "peak_rss_mb": layers.vm_hwm_mb(self.jvm_pid)
            + layers.vm_hwm_mb("self"),
        }
        if args.trace:
            result["layers"] = self.layer_metrics(traced, windows, walls)
        result["attempted"] = self.attempted
        result["failures"] = self.failures
        return result

    def check_outputs(self, dfs: dict) -> None:
        """Untimed: collect each DataFrame the last timed pass sank, on
        the state the timed passes left (on a warm workload, df-cache
        hits), and check its rows against the stored digest."""
        self.spark.sparkContext.setJobGroup("pb|check", "")
        for name, df in dfs.items():
            self.attempted += 1
            try:
                why = oracle.check(self.expected[name], df.columns, df.collect())
            except Exception as ex:  # noqa: BLE001 - a failed query is a result
                why = f"{type(ex).__name__}: {ex}"[:400]
            if why is not None:
                self.failures.append(f"{name}: {why}")

    def check_sinks(self, sunk: list[tuple[int, str]]) -> None:
        """Every timed sink that returned must have run a Spark job: a
        sink that does no work would otherwise pass as a fast one."""
        layers.drain_listeners(self.spark)
        st = self.spark.sparkContext.statusTracker()
        for p, name in sunk:
            if not st.getJobIdsForGroup(f"pb|{p}|{name}|sink"):
                self.failures.append(f"{name}: pass {p} sink ran no Spark job")

    # -- per-layer metrics ----------------------------------------------
    def layer_metrics(self, traced, windows, walls) -> dict:
        spark, t = self.spark, self.tracer
        layers.drain_listeners(spark)
        per_pass: list[dict] = []
        stage_sums = layers.stage_totals(layers.rest_stages(spark), windows)
        for i, p in enumerate(traced):
            m: dict[str, float] = {}
            m["registry.build_s"] = t.span_seconds("registry.build", p)
            m["catalyst.plan_s"] = t.span_seconds("catalyst.plan", p)
            m["exec.sink_s"] = t.span_seconds("exec.sink", p)
            m["catalyst.plan_operators"] = t.counted("catalyst.plan_operators", p)
            build = {"jobs": 0, "stages": 0, "tasks": 0}
            sink = {"jobs": 0, "stages": 0, "tasks": 0}
            for name in self.w.queries:
                for phase, acc in (("build", build), ("sink", sink)):
                    got = layers.group_counts(spark, f"pb|{p}|{name}|{phase}")
                    for k in acc:
                        acc[k] += got[k]
            m["registry.build_jobs"] = build["jobs"]
            m["exec.jobs"] = sink["jobs"]
            m["exec.stages"] = sink["stages"]
            m["exec.tasks"] = sink["tasks"]
            m.update(stage_sums[i])
            for fn in layers.IO_FUNCS:
                m[f"io.{fn}.calls"] = t.counted(f"io.{fn}.calls", p)
                m[f"io.{fn}.s"] = t.span_seconds(f"io.{fn}", p)
            m["io.s"] = t.outer_seconds("io.", p)
            hits = t.counted("io.cached_df.hits", p)
            misses = t.counted("io.cached_df.misses", p)
            m["io.cached_df.hits"] = hits
            m["io.cached_df.misses"] = misses
            calls = m["io.cached_df.calls"]
            m["io.cached_df.hit_ratio"] = hits / calls if calls else 0.0
            lo, hi = windows[i]
            batches = [e for e in self.stream_events if lo <= e[0] <= hi]
            m["streaming.batches"] = len(batches)
            m["streaming.batch_s"] = sum(e[1] for e in batches) / 1000.0
            m["streaming.input_rows"] = sum(e[2] for e in batches)
            m["trace.pass_wall_s"] = walls[p - 1]
            m["trace.layer_sum_ratio"] = (
                m["registry.build_s"] + m["catalyst.plan_s"] + m["exec.sink_s"]
            ) / walls[p - 1]
            per_pass.append(m)
        out = {k: statistics.median(d[k] for d in per_pass) for k in per_pass[0]}
        untraced = [walls[p - 1] for p in range(1, len(walls) + 1) if p not in traced]
        out["trace.overhead_s"] = out["trace.pass_wall_s"] - statistics.median(untraced)
        floor = []
        n = int(spark.conf.get("spark.sql.shuffle.partitions"))
        for _ in range(3):
            t0 = time.perf_counter()
            self.bench.force_eval(spark.range(n))
            floor.append(time.perf_counter() - t0)
        out["exec.job_floor_s"] = min(floor)
        out["session.start_s"] = self.session_s
        out["io.persisted_rdds_end"] = len(spark.sparkContext._jsc.getPersistentRDDs())
        out["scratch.tmp_bytes_end"] = layers.tree_bytes(os.environ["TMPDIR"], "hrs_")
        t.dump(
            os.path.join(os.path.dirname(self.args.out), "spans.json"),
            stream_batches=self.stream_events,
        )
        return out


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--sf-dir", required=True)
    ap.add_argument("--sf", type=float, required=True)
    ap.add_argument("--break-query", default="")
    ap.add_argument("--out", required=True)
    args = ap.parse_args()
    result = Run(args).measure()
    with open(args.out, "w") as f:
        json.dump(result, f)
    # no graceful spark.stop(): it adds seconds to every run, and run.py
    # kills and reaps the whole process group (the JVM included) anyway
    sys.stdout.flush()
    os._exit(0)


if __name__ == "__main__":
    main()
