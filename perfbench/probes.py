"""Measurement from outside the package: the process tree and Spark's status stores.

``ProcTree`` reads ``/proc`` for the benchmark process and every descendant
(the Spark JVM, the Python worker daemon and its workers): CPU seconds and a
sampled peak of their summed proportional set size (PSS). PSS, not RSS:
Python workers are forked from one daemon and share its pages, so summed RSS
counts those pages once per worker and swings with the number of forks alive
at the sampling instant. The sampler thread runs in the benchmark process;
its own CPU time is kept in ``sampler_cpu_s`` so that callers can take it out
of the tree's CPU.

``SparkLedger`` attributes Spark work to one layer call at a time. Each call
runs under its own ``SparkContext.setJobGroup``; afterwards the ledger waits for
the listener bus to drain and reads

* the call's jobs (count, and the union of their run intervals) from the
  application status store, and the count of all jobs submitted during the
  call whatever their group (a streaming query runs its jobs under its own),
* per-stage ``executorRunTime`` / ``executorCpuTime`` and shuffle bytes of
  those jobs' stages,
* the SQL metrics of every SQL execution the call started (scan time and
  bytes, Python worker boot/init/run time and bytes sent/received, write
  commit time), summed by metric name.

These are internal JVM objects reached through py4j; the UI does not need to
be enabled. Nothing here imports or patches the package under test.

``StreamProgress`` is a ``StreamingQueryListener`` that keeps every
micro-batch's progress report (durations by phase, input rows) by query run.
"""

from __future__ import annotations

import os
import re
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")


class ProcTree:
    """CPU and PSS of this process and all its descendants, read from /proc."""

    # PSS sampling period. Reading smaps_rollup makes the kernel walk the
    # page tables of the JVM and every worker, about 30 ms a sample on 4
    # cores: at 0.1 s the sampler used a fifth of one core, at 0.5 s 7%.
    INTERVAL_S = 0.5

    def __init__(self):
        self.root = os.getpid()
        self.peak_pss = 0
        self.sampler_cpu_s = 0.0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _stats(self) -> dict[int, tuple[int, int]]:
        """pid -> (ppid, cpu ticks incl. reaped children)."""
        out = {}
        for name in os.listdir("/proc"):
            if not name.isdigit():
                continue
            try:
                with open(f"/proc/{name}/stat") as f:
                    raw = f.read()
            except OSError:
                continue
            fields = raw[raw.rindex(")") + 2 :].split()
            # fields[0] is stat field 3 (state); ppid is field 4, utime..cstime 14..17
            out[int(name)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
        return out

    def _tree(self, stats) -> list[int]:
        kids = defaultdict(list)
        for pid, (ppid, _) in stats.items():
            kids[ppid].append(pid)
        todo, seen = [self.root], []
        while todo:
            p = todo.pop()
            seen.append(p)
            todo.extend(kids.get(p, ()))
        return seen

    def descendants(self) -> list[int]:
        return [p for p in self._tree(self._stats()) if p != self.root]

    def cpu_s(self) -> float:
        """CPU seconds of the live tree, counting reaped children through their
        parents' cutime/cstime."""
        stats = self._stats()
        return sum(stats[p][1] for p in self._tree(stats) if p in stats) / _CLK

    def pss_bytes(self) -> int:
        total = 0
        for pid in self._tree(self._stats()):
            try:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    for line in f:
                        if line.startswith("Pss:"):
                            total += int(line.split()[1]) * 1024
                            break
            except OSError:  # exited since the scan
                continue
        return total

    def _sample(self) -> None:
        while not self._stop.wait(self.INTERVAL_S):
            c0 = time.thread_time()
            self.peak_pss = max(self.peak_pss, self.pss_bytes())
            self.sampler_cpu_s += time.thread_time() - c0

    def work_cpu_s(self) -> float:
        """`cpu_s` minus the sampler's own CPU so far."""
        return self.cpu_s() - self.sampler_cpu_s

    def start(self) -> None:
        self.peak_pss = self.pss_bytes()
        self._stop.clear()
        self._thread = threading.Thread(target=self._sample, name="pss-sampler", daemon=True)
        self._thread.start()

    def stop(self) -> None:
        self._stop.set()
        if self._thread is not None:
            self._thread.join(timeout=10)
            self._thread = None


# ───────────────────────── Spark status stores ─────────────────────────

_NUM = re.compile(r"(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
_UNIT = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 1024.0, "MiB": 1024.0**2, "GiB": 1024.0**3, "TiB": 1024.0**4,
    "": 1.0,
}

# SQL metric name -> ledger key; times in seconds, sizes in bytes
SQL_METRICS = {
    "scan time": "scan_s",
    "size of files read": "scan_bytes",
    "time to start Python workers": "py_boot_s",
    "time to initialize Python workers": "py_init_s",
    "time to run Python workers": "py_run_s",
    "data sent to Python workers": "py_sent_bytes",
    "data returned from Python workers": "py_recv_bytes",
    "shuffle bytes written": "shuffle_bytes",
    "task commit time": "write_s",
    "job commit time": "write_s",
}


def parse_metric(text: str) -> float:
    """Total of a formatted SQL metric value: '1.2 s', '3 ms', '12.3 MiB',
    '8,000', or the two-line 'total (min, med, max ...)\\n<total> (...)' form."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _NUM.search(line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT.get(m.group(2), 1.0)


def _seq(s):
    return [s.apply(i) for i in range(s.size())]


class SparkLedger:
    """Per-call attribution of Spark jobs, stages and SQL metrics by job group."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self._jsc = self.sc._jsc.sc()
        self._n = 0
        self.records: dict[str, dict] = {}  # layer -> record, reset per operation
        self.last: dict = {}
        self.bookkeeping_s = 0.0  # time spent around calls, reset per operation

    def _drain(self) -> None:
        self._jsc.listenerBus().waitUntilEmpty()

    def _max_execution_id(self) -> int:
        self._drain()
        ex = self.spark._jsparkSession.sharedState().statusStore().executionsList()
        return max((e.executionId() for e in _seq(ex)), default=-1)

    @contextmanager
    def call(self, layer: str):
        """Run the body under a fresh job group; afterwards the call's record is
        `self.last` and `self.records[layer]`."""
        b0 = time.perf_counter()
        self._n += 1
        group = f"perfbench-{self._n}-{layer}"
        first_exec = self._max_execution_id() + 1
        self.sc.setJobGroup(group, layer)
        t0, b1 = time.time(), time.perf_counter()
        try:
            yield
        finally:
            t1, b2 = time.time(), time.perf_counter()
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        self.last = self.records[layer] = self._record(group, first_exec, t0, t1)
        self.bookkeeping_s += (b1 - b0) + (time.perf_counter() - b2)

    def _record(self, group: str, first_exec: int, t0: float, t1: float) -> dict:
        self._drain()
        store = self._jsc.statusStore()
        intervals, stage_ids, n_jobs, window_jobs = [], set(), 0, 0
        for j in _seq(store.jobsList(None)):
            sub = j.submissionTime()
            if sub.isDefined() and t0 <= sub.get().getTime() / 1e3 <= t1:
                window_jobs += 1
            g = j.jobGroup()
            if not (g.isDefined() and g.get() == group):
                continue
            n_jobs += 1
            sub, end = j.submissionTime(), j.completionTime()
            if sub.isDefined():
                s = sub.get().getTime() / 1e3
                e = end.get().getTime() / 1e3 if end.isDefined() else t1
                intervals.append((max(s, t0), min(e, t1)))
            stage_ids.update(int(x) for x in _seq(j.stageIds()))
        run_s = cpu_s = 0.0
        for sid in stage_ids:
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # stage never attempted (skipped by reuse)
                continue
            run_s += st.executorRunTime() / 1e3
            cpu_s += st.executorCpuTime() / 1e9
        sql = dict.fromkeys(set(SQL_METRICS.values()), 0.0)
        sstore = self.spark._jsparkSession.sharedState().statusStore()
        for e in _seq(sstore.executionsList()):
            eid = e.executionId()
            if eid < first_exec:
                continue
            values = sstore.executionMetrics(eid)
            for node in _seq(sstore.planGraph(eid).allNodes()):
                for m in _seq(node.metrics()):
                    key = SQL_METRICS.get(m.name())
                    if key and values.contains(m.accumulatorId()):
                        sql[key] += parse_metric(values.apply(m.accumulatorId()))
        wall = t1 - t0
        return {
            "wall_s": wall,
            "jobs": n_jobs,
            "window_jobs": window_jobs,
            "driver_s": max(0.0, wall - _union(intervals)),
            "executor_run_s": run_s,
            "executor_cpu_s": cpu_s,
            **sql,
        }


def _union(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for s, e in sorted(intervals):
        if e <= end:
            continue
        total += e - max(s, end)
        end = e
    return total


# ───────────────────────── streaming progress ─────────────────────────


def stream_progress(spark):
    """Register a listener on `spark` and return it; `listener.batches(run_id)`
    lists that query run's progress reports as dicts with `batch_id`,
    `input_rows` and `duration_ms` (phase -> ms)."""
    from pyspark.sql.streaming import StreamingQueryListener

    class StreamProgress(StreamingQueryListener):
        def __init__(self):
            self._by_run: dict[str, list[dict]] = defaultdict(list)

        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            self._by_run[str(p.runId)].append({
                "batch_id": p.batchId,
                "input_rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
            })

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

        def batches(self, run_id: str) -> list[dict]:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            return sorted(self._by_run.get(run_id, []), key=lambda b: b["batch_id"])

        def runs(self) -> list[str]:
            spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
            return list(self._by_run)

    listener = StreamProgress()
    spark.streams.addListener(listener)
    return listener
