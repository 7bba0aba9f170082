"""Measurement helpers that watch the engine from outside.

- ``Tracer``: in-memory spans (name, start, end, parent) recorded around
  the benchmark's own calls into the library; written out once at the end.
- ``RssSampler``: peak resident memory of this process and all of its
  descendants (the Spark JVM and its Python workers), read from ``/proc``.
- ``stage_stats``: wall time, run time and shuffle traffic of each stage
  of one Spark job group, read from Spark's status store after the jobs
  finished.
- ``plan_nodes``: the operators of an executed physical plan with their
  raw SQL metrics (rows, bytes, times), read after the job.
- ``jvm_old_gen_peak_mb``: the JVM's peak old-generation heap use.
"""

from __future__ import annotations

import json
import os
import statistics
import threading
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError


class Tracer:
    """Nested spans kept in memory. Disabled tracers record nothing."""

    def __init__(self, enabled: bool = True):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._trace_id = 0

    def new_trace(self) -> None:
        """Spans opened from now on share a fresh trace id (one job)."""
        self._trace_id += 1

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "trace": self._trace_id, "name": name,
               "parent": self._stack[-1] if self._stack else None,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    @contextmanager
    def paused(self):
        """Record nothing inside this block."""
        enabled, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = enabled

    def self_times(self) -> dict[str, list[float]]:
        """Per span name, each span's duration minus its children's."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, list[float]] = {}
        for s in self.spans:
            out.setdefault(s["name"], []).append(
                s["end"] - s["start"] - child[s["id"]])
        return out

    def last(self, name: str) -> float:
        """Duration of the most recent span called ``name``."""
        s = next(s for s in reversed(self.spans) if s["name"] == name)
        return s["end"] - s["start"]

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


def median(xs) -> float:
    return float(statistics.median(xs))


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_rss_bytes(root: int) -> int:
    """Resident bytes of ``root`` and every descendant process."""
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                stat = f.read()
        except OSError:
            continue  # exited between listdir and open
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat[stat.rindex(")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(name))
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(children.get(pid, ()))
        try:
            with open(f"/proc/{pid}/statm") as f:
                total += int(f.read().split()[1]) * _PAGE
        except OSError:
            pass
    return total


class RssSampler:
    """Samples the process tree's RSS every ``interval`` seconds on a
    background thread; ``peak_mb`` is the largest sample seen."""

    def __init__(self, interval: float = 0.1):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_rss_bytes(root))
            self._stop.wait(self.interval)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=10)

    @property
    def peak_mb(self) -> float:
        return self.peak / (1 << 20)


def _ms(opt) -> int | None:
    """Epoch milliseconds of a Scala Option[java.util.Date]."""
    return opt.get().getTime() if opt.isDefined() else None


def stage_stats(spark, group_id: str, wait_s: float = 10.0) -> list[dict]:
    """Every executed stage of the jobs in ``group_id``, in stage order.

    The status store is filled from Spark's listener bus, which may lag
    the job's return by a little; stages not yet marked complete are
    waited for up to ``wait_s`` seconds. Skipped stages are left out."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    deadline = time.monotonic() + wait_s
    while True:
        stage_ids = set()
        for job_id in tracker.getJobIdsForGroup(group_id):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
        out, pending = [], False
        for sid in sorted(stage_ids):
            try:
                s = store.lastStageAttempt(sid)
            except Py4JJavaError:
                continue  # never attempted
            status = s.status().toString()
            if status == "SKIPPED":
                continue
            start, end = _ms(s.submissionTime()), _ms(s.completionTime())
            if status != "COMPLETE" or start is None or end is None:
                pending = True
                break
            out.append({
                "id": sid,
                "tasks": s.numTasks(),
                "wall_s": (end - start) / 1e3,
                "run_s": s.executorRunTime() / 1e3,
                "input_records": s.inputRecords(),
                "shuffle_read_bytes": s.shuffleReadBytes(),
                "shuffle_read_records": s.shuffleReadRecords(),
                "shuffle_write_bytes": s.shuffleWriteBytes(),
                "shuffle_write_records": s.shuffleWriteRecords(),
            })
        if not pending or time.monotonic() > deadline:
            return out
        time.sleep(0.05)


def plan_nodes(jplan) -> list[dict]:
    """Operators of an executed physical plan (a py4j ``SparkPlan``), top
    down, each with its class name, raw SQL metric values, whether a
    shuffle exchange lies above it, and (for Python operators) the schema
    of the rows it receives. Adaptive plans are followed into their final
    plan and query stages."""
    out = []
    todo = [(jplan, False)]
    while todo:
        node, below_exchange = todo.pop()
        cls = node.getClass().getSimpleName()
        metrics = {}
        it = node.metrics().iterator()
        while it.hasNext():
            kv = it.next()
            metrics[kv._1()] = kv._2().value()
        rec = {"cls": cls, "metrics": metrics, "below_exchange": below_exchange}
        if "pythonTotalTime" in metrics:
            rec["input_schema"] = node.child().schema().simpleString()
        out.append(rec)
        if cls == "AdaptiveSparkPlanExec":
            kids = [node.executedPlan()]
        elif cls.endswith("QueryStageExec"):
            kids = [node.plan()]
        else:
            kids, c = [], node.children().iterator()
            while c.hasNext():
                kids.append(c.next())
        below = below_exchange or cls == "ShuffleExchangeExec"
        todo.extend((k, below) for k in reversed(kids))
    return out


def jvm_old_gen_peak_mb(spark) -> float:
    """Peak used size of the JVM's old generation: heap data that survived
    collection. (The young pools fill to capacity between collections, so
    their peaks only echo the heap size.)"""
    pools = spark._jvm.java.lang.management.ManagementFactory \
        .getMemoryPoolMXBeans()
    total = 0
    for i in range(pools.size()):
        pool = pools.get(i)
        if "Old Gen" in pool.getName():
            total += pool.getPeakUsage().getUsed()
    return total / (1 << 20)
