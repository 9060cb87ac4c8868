"""Per-layer tracing, timed from outside the program.

Layers are named after the package's modules:

- ``session``   -- ``session.get_spark``
- ``registry``  -- the ``QUERIES[name](spark, sf_dir)`` builder call
- ``catalyst``  -- ``df._jdf.queryExecution().executedPlan()``
- ``exec``      -- ``bench.force_eval`` (the noop sink)
- ``io``        -- the read/materialization helpers in ``hive_reflex_spark.io``
- ``streaming`` -- a ``StreamingQueryListener``

Spans are kept in memory (name, start, end, parent, query) and written
out when the run ends.  Counts come from Spark's status tracker (jobs,
stages, tasks per job group) and from the driver-local UI REST API
(bytes and executor time per stage).
"""

from __future__ import annotations

import contextlib
import datetime as dt
import functools
import json
import os
import time
import urllib.request

IO_FUNCS = (
    "read_table",
    "cached_df",
    "corpus_checkpoint",
    "maybe_local_checkpoint",
    "chain_checkpoint",
    "tracked_persist",
)


class Tracer:
    """Spans and counters of one run.  ``active`` switches recording on
    for the traced passes only; when off every hook is a pass-through."""

    def __init__(self) -> None:
        self.active = False
        self.spans: list[dict] = []
        self.counts: dict[str, int] = {}
        self._stack: list[int] = []
        self.query = ""
        self.pass_no = -1

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.active:
            yield
            return
        rec = {
            "name": name,
            "pass": self.pass_no,
            "query": self.query,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(),
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter()

    def count(self, name: str, n: int = 1) -> None:
        if self.active:
            key = f"{self.pass_no}|{name}"
            self.counts[key] = self.counts.get(key, 0) + n

    def span_seconds(self, name: str, pass_no: int) -> float:
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and s["pass"] == pass_no
        )

    def outer_seconds(self, prefix: str, pass_no: int) -> float:
        """Seconds inside spans named ``prefix*`` that no other such span
        encloses (nested io calls count once)."""
        total = 0.0
        for s in self.spans:
            if s["pass"] != pass_no or not s["name"].startswith(prefix):
                continue
            parent = s["parent"]
            if parent is not None and self.spans[parent]["name"].startswith(prefix):
                continue
            total += s["end"] - s["start"]
        return total

    def counted(self, name: str, pass_no: int) -> int:
        return self.counts.get(f"{pass_no}|{name}", 0)

    def wrap_io(self, io_module) -> None:
        """Replace the io helpers with timing wrappers.  Must run before
        ``hive_reflex_spark.operators`` is imported, so that the
        operators' ``from hive_reflex_spark.io import ...`` bindings and
        io's own module-global calls both resolve to the wrappers."""
        for fn_name in IO_FUNCS:
            orig = getattr(io_module, fn_name)
            setattr(io_module, fn_name, self._io_wrapper(io_module, fn_name, orig))

    def _io_wrapper(self, io_module, fn_name: str, orig):
        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            if not self.active:
                return orig(*args, **kwargs)
            self.count(f"io.{fn_name}.calls")
            if fn_name == "cached_df":
                cache = io_module._DF_CACHE
                if cache is not None:
                    hit = args[0] in cache
                    self.count("io.cached_df.hits" if hit else "io.cached_df.misses")
            with self.span(f"io.{fn_name}"):
                return orig(*args, **kwargs)

        return wrapper

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts, **extra}, f)


def streaming_listener(records: list):
    """A StreamingQueryListener appending (epoch_s, batch_ms, rows) per
    micro-batch progress event to ``records``."""
    from pyspark.sql.streaming import StreamingQueryListener

    class Progress(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            records.append(
                (_epoch(p.timestamp), p.batchDuration, p.numInputRows)
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    return Progress()


def _epoch(stamp: str) -> float:
    """Spark timestamps: ISO 2026-01-01T00:00:00.000Z or ...000GMT."""
    s = stamp.replace("GMT", "+0000").replace("Z", "+0000")
    return dt.datetime.strptime(s, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def drain_listeners(spark) -> None:
    """Wait until the listener bus has delivered every event so far, so
    the status tracker and the streaming listener are complete."""
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()


def group_counts(spark, group: str) -> dict[str, int]:
    """Jobs, stages that ran tasks, and completed tasks of one job group."""
    st = spark.sparkContext.statusTracker()
    jobs = st.getJobIdsForGroup(group)
    stages: set[int] = set()
    for jid in jobs:
        info = st.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    n_stages = n_tasks = 0
    for sid in stages:
        info = st.getStageInfo(sid)
        if info is not None and info.numCompletedTasks > 0:
            n_stages += 1
            n_tasks += info.numCompletedTasks
    return {"jobs": len(jobs), "stages": n_stages, "tasks": n_tasks}


STAGE_FIELDS = {
    "executorRunTime": "exec.executor_run_s",
    "jvmGcTime": "exec.gc_s",
    "inputBytes": "exec.input_bytes",
    "outputBytes": "exec.output_bytes",
    "shuffleReadBytes": "exec.shuffle_read_bytes",
    "shuffleWriteBytes": "exec.shuffle_write_bytes",
    "memoryBytesSpilled": "exec.spill_bytes",
    "diskBytesSpilled": "exec.spill_bytes",
}


def rest_stages(spark) -> list[dict]:
    """Every retained stage attempt from the driver-local UI REST API."""
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}/stages"
    with urllib.request.urlopen(url, timeout=30) as resp:
        return json.load(resp)


def stage_totals(stages: list[dict], windows: list[tuple[float, float]]) -> list[dict]:
    """Sum REST stage metrics per time window (one window per pass).
    A stage belongs to the window its submission falls in; skipped
    stages have no submission time and count nowhere."""
    out = [{m: 0.0 for m in set(STAGE_FIELDS.values())} for _ in windows]
    for st in stages:
        sub = st.get("submissionTime")
        if not sub:
            continue
        t = _epoch(sub)
        for i, (lo, hi) in enumerate(windows):
            if lo <= t <= hi:
                for field, metric in STAGE_FIELDS.items():
                    v = st.get(field, 0) or 0
                    out[i][metric] += v / 1000.0 if metric.endswith("_s") else v
                break
    return out


# --- process resources ---------------------------------------------------

_TICK = os.sysconf("SC_CLK_TCK")


def _stat(pid: int) -> list[str] | None:
    try:
        with open(f"/proc/{pid}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    # the command name may hold spaces; fields resume after its ')'
    return raw[raw.rindex(")") + 2 :].split()


def tree_cpu_s(root_pid: int) -> float:
    """User+sys CPU of ``root_pid`` and every live descendant, including
    what each has reaped from exited children (Python workers forked by
    the pyspark daemon are reaped by it)."""
    parent: dict[int, int] = {}
    ticks: dict[int, int] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        f = _stat(int(entry))
        if f is None:
            continue
        # after the name: state ppid ... utime(11) stime(12) cutime(13) cstime(14)
        parent[int(entry)] = int(f[1])
        ticks[int(entry)] = sum(int(x) for x in f[11:15])
    keep = {root_pid}
    changed = True
    while changed:
        changed = False
        for pid, ppid in parent.items():
            if ppid in keep and pid not in keep:
                keep.add(pid)
                changed = True
    return sum(ticks.get(p, 0) for p in keep) / _TICK


def self_cpu_s() -> float:
    t = os.times()
    return t.user + t.system


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def tree_bytes(root: str, prefix: str) -> int:
    """Bytes under every ``root/prefix*`` entry (files, not links)."""
    total = 0
    if not os.path.isdir(root):
        return 0
    for entry in os.listdir(root):
        if not entry.startswith(prefix):
            continue
        path = os.path.join(root, entry)
        if os.path.isfile(path) and not os.path.islink(path):
            total += os.path.getsize(path)
            continue
        for dirpath, _, files in os.walk(path):
            for name in files:
                p = os.path.join(dirpath, name)
                if not os.path.islink(p):
                    total += os.path.getsize(p)
    return total
