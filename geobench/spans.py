"""Spans around calls into the engine, Spark status-store attribution, and a
/proc memory sampler.

A traced iteration wraps every public engine call in :meth:`Tracer.span`,
which sets a Spark job group unique to that span and records wall-clock
start/end.  Nothing is read from Spark while the iteration runs: after it
ends, :meth:`Tracer.collect` drains the listener bus once and attributes to
each span the stages of its job group (CPU, GC, shuffle, task skew, time
covered by stages) and the SQL metrics of the Python runners in its
executions (worker boot/init/run time, Arrow bytes each way).  An untraced
Tracer records nothing and adds no Spark calls, so the end-to-end numbers
are measured with tracing off.
"""

from __future__ import annotations

import contextlib
import os
import re
import statistics
import threading
import time
from dataclasses import dataclass, field

PY_RUN = "time to run Python workers"
PY_BOOT = ("time to start Python workers", "time to initialize Python workers")
PY_BYTES = ("data sent to Python workers", "data returned from Python workers")
OUT_ROWS = "number of output rows"


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    run_id: str = ""
    metrics: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def self_times(spans: list) -> dict:
    """{span id: own duration minus the part its child spans cover}."""
    kids: dict = {}
    for s in spans:
        kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.id: s.wall - covered(kids.get(s.id, []), s.start, s.end) for s in spans}


_UNITS = {
    "ms": 1.0, "s": 1e3, "m": 60e3, "h": 3600e3,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}


def parse_sql_metric(text: str) -> float:
    """Total of a formatted SQL metric (timings → ms, sizes → bytes, sums →
    count): the last line of "total (min, med, max ...)\\n<total> (...)" or
    the bare value."""
    head = text.strip().splitlines()[-1].split(" (")[0].strip()
    m = re.fullmatch(r"([\d,.]+)\s*([A-Za-z]*)", head)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


class Tracer:
    """Per-run span recorder.  ``enabled=False`` makes every method a no-op
    except :meth:`keep`/:meth:`release`, which the workloads use to cache
    intermediates they read twice in both modes."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list = []
        self.notes: dict = {}
        self._stack: list = []
        self._pending: list = []
        self._kept: list = []
        self._seq = 0
        self._last_exec = -1

    # -- recording -------------------------------------------------------

    @contextlib.contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        self._seq += 1
        s = Span(self._seq, name, time.time(), parent=self._stack[-1].id if self._stack else None,
                 run_id=self.run_id)
        group = f"{self.run_id}:{s.id}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        self._stack.append(s)
        try:
            yield
        finally:
            s.end = time.time()
            self._stack.pop()
            if self._stack:
                sc.setJobGroup(f"{self.run_id}:{self._stack[-1].id}", self._stack[-1].name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)
            self.spans.append(s)
            self._pending.append((s, group))

    def note(self, key: str, value: float) -> None:
        """Record a traced-run-only quantity (ratios measured at a span)."""
        if self.enabled:
            self.notes[key] = float(value)

    def keep(self, df):
        """Persist ``df`` (read twice by the workload) until :meth:`release`."""
        df = df.persist()
        self._kept.append(df)
        return df

    def materialize(self, df) -> int | None:
        """Traced only: cache and count ``df`` so the next span starts from
        a materialized input.  Returns the row count, or None untraced."""
        if not self.enabled:
            return None
        if not any(d is df for d in self._kept):
            df = self.keep(df)
        return df.count()

    def release(self) -> None:
        for df in self._kept:
            df.unpersist()
        self._kept.clear()

    # -- attribution (after the iteration) -------------------------------

    def collect(self) -> None:
        """Attach stage and SQL metrics to every span recorded since the
        last call."""
        if not (self.enabled and self._pending):
            return
        sc = self.spark.sparkContext
        jsc = sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty(30_000)
        store = jsc.statusStore()
        gw = sc._gateway
        no_q = gw.new_array(gw.jvm.double, 0)
        quant = gw.new_array(gw.jvm.double, 2)
        quant[0], quant[1] = 0.5, 1.0
        job_span: dict = {}
        for s, group in self._pending:
            jobs = list(sc.statusTracker().getJobIdsForGroup(group))
            for j in jobs:
                job_span[j] = s
            s.metrics.update(self._stage_metrics(store, gw, no_q, quant, jobs, s))
            s.metrics.update({"python_boot_ms": 0.0, "python_run_ms": 0.0, "arrow_bytes": 0.0,
                              "python_stages": 0.0, "join_rows": 0.0})
        self._sql_metrics(job_span)
        self._pending.clear()

    @staticmethod
    def _stage_metrics(store, gw, no_q, quant, jobs, s) -> dict:
        seen = set()
        cpu_ns = gc_ms = shuffle = 0
        intervals = []
        heaviest = (-1, None)
        for j in jobs:
            ids = store.job(j).stageIds()
            for i in range(ids.size()):
                sid = ids.apply(i)
                atts = store.stageData(sid, False, gw.jvm.java.util.ArrayList(), False, no_q)
                for a in range(atts.size()):
                    st = atts.apply(a)
                    key = (sid, st.attemptId())
                    if key in seen or st.numCompleteTasks() == 0:
                        continue
                    seen.add(key)
                    cpu_ns += st.executorCpuTime()
                    gc_ms += st.jvmGcTime()
                    shuffle += st.shuffleWriteBytes()
                    sub, done = st.submissionTime(), st.completionTime()
                    if sub.isDefined() and done.isDefined():
                        intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
                    run = st.executorRunTime()
                    if run > heaviest[0] and st.numCompleteTasks() > 1:
                        heaviest = (run, key)
        skew = 1.0
        if heaviest[1] is not None:
            summ = store.taskSummary(heaviest[1][0], heaviest[1][1], quant)
            if summ.isDefined():
                d = summ.get().duration()
                med, mx = d.apply(0), d.apply(1)
                skew = mx / med if med > 0 else 1.0
        return {
            "driver_s": s.wall - covered(intervals, s.start, s.end),
            "executor_cpu_ms": cpu_ns / 1e6,
            "jvm_gc_ms": float(gc_ms),
            "shuffle_bytes": float(shuffle),
            "task_skew": skew,
            "stages": float(len(seen)),
        }

    def _sql_metrics(self, job_span: dict) -> None:
        ss = self.spark._jsparkSession.sharedState().statusStore()
        execs = ss.executionsList()
        for i in range(execs.size() - 1, -1, -1):
            e = execs.apply(i)
            eid = e.executionId()
            if eid <= self._last_exec:
                break
            it = e.jobs().keys().iterator()
            owner = None
            while it.hasNext() and owner is None:
                owner = job_span.get(it.next())
            if owner is None:
                continue
            values = ss.executionMetrics(eid)
            nodes = ss.planGraph(eid).allNodes()
            for n in range(nodes.size()):
                node = nodes.apply(n)
                ms = node.metrics()
                got = {}
                for m in range(ms.size()):
                    pm = ms.apply(m)
                    v = values.get(pm.accumulatorId())
                    if v.isDefined():
                        got[pm.name()] = parse_sql_metric(v.get())
                # a cached subtree shows its Python nodes again, with zero values
                if got.get(PY_RUN, 0.0) > 0 or any(got.get(k, 0.0) > 0 for k in PY_BYTES):
                    owner.metrics["python_stages"] += 1
                    owner.metrics["python_run_ms"] += got.get(PY_RUN, 0.0)
                    owner.metrics["python_boot_ms"] += sum(got.get(k, 0.0) for k in PY_BOOT)
                    owner.metrics["arrow_bytes"] += sum(got.get(k, 0.0) for k in PY_BYTES)
                if "Join" in node.name():
                    owner.metrics["join_rows"] += got.get(OUT_ROWS, 0.0)
        if execs.size():
            self._last_exec = max(self._last_exec, execs.apply(execs.size() - 1).executionId())


def layer_table(spans: list) -> dict:
    """{span name: {metric: value}} for one iteration: busy_s is self time;
    spans sharing a name (repeated calls) are summed, task_skew maxed."""
    own = self_times(spans)
    out: dict = {}
    for s in spans:
        row = out.setdefault(s.name, {})
        row["busy_s"] = row.get("busy_s", 0.0) + own[s.id]
        row["wall_s"] = row.get("wall_s", 0.0) + s.wall
        for k, v in s.metrics.items():
            row[k] = max(row.get(k, 0.0), v) if k == "task_skew" else row.get(k, 0.0) + v
    return out


def median_table(tables: list) -> dict:
    """Element-wise median of several layer tables."""
    names = {n for t in tables for n in t}
    return {
        n: {k: statistics.median(t[n].get(k, 0.0) for t in tables if n in t)
            for k in {k for t in tables if n in t for k in t[n]}}
        for n in names
    }


# ---------------------------------------------------------------------------
# memory
# ---------------------------------------------------------------------------

_PAGE = os.sysconf("SC_PAGE_SIZE")


def descendants(root: int) -> list:
    """Pids of ``root`` and all its descendants, from /proc."""
    children: dict = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(d))
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(children.get(p, []))
    return out


def tree_rss_bytes(root: int) -> int:
    total = 0
    for p in descendants(root):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Background thread tracking the peak summed RSS of this process tree
    (driver, JVM, Python workers); psutil-free."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.interval)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
