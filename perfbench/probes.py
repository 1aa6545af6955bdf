"""Measurement probes read from the benchmark's side of the engine.

* ``Tracer`` keeps spans (name, start, end, parent, operation id) in
  memory; the run writes them out once, at exit.
* ``ProcessTree`` resets and reads the kernel's peak-RSS counter of this
  process and every descendant (JVM, Python workers): no sampling thread.
* ``StatusStore`` reads jobs, stages, tasks and SQL plans from the
  driver's status REST API on localhost.
* ``jvm_*`` and ``plan_nodes`` read JVM MX beans and executed physical
  plans over py4j.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime


class Tracer:
    def __init__(self):
        self.spans: list[dict] = []
        self._open: list[int] = []

    @contextmanager
    def span(self, name: str, op: str | None = None):
        rec = {"id": len(self.spans), "name": name, "op": op,
               "parent": self._open[-1] if self._open else None,
               "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._open.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def ms(self, name: str) -> list[float]:
        return [(s["end"] - s["start"]) * 1e3 for s in self.spans
                if s["name"] == name]

    def median_ms(self, name: str) -> float:
        return statistics.median(self.ms(name))

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class ProcessTree:
    """Peak resident memory of a process and all its descendants, from
    ``VmHWM``; ``reset`` clears every peak through ``clear_refs``."""

    def __init__(self, root: int):
        self.root = root

    def pids(self) -> list[int]:
        children: dict[int, list[int]] = {}
        for d in os.listdir("/proc"):
            if not d.isdigit():
                continue
            try:
                with open(f"/proc/{d}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(d))
        out, todo = [], [self.root]
        while todo:
            p = todo.pop()
            out.append(p)
            todo += children.get(p, [])
        return out

    def reset(self) -> None:
        for p in self.pids():
            try:
                with open(f"/proc/{p}/clear_refs", "w") as f:
                    f.write("5")
            except OSError:
                pass

    def _status_mb(self, field: str, skip_java: bool = False) -> float:
        kb = 0
        for p in self.pids():
            try:
                with open(f"/proc/{p}/comm") as f:
                    if skip_java and f.read().strip() == "java":
                        continue
                with open(f"/proc/{p}/status") as f:
                    for line in f:
                        if line.startswith(field):
                            kb += int(line.split()[1])
            except OSError:
                pass
        return kb / 1024.0

    def peak_mb(self) -> float:
        """Sum of the peak resident sets since the last ``reset``."""
        return self._status_mb("VmHWM:")

    def python_rss_mb(self) -> float:
        """Resident memory of the tree's non-JVM processes (the Python
        driver and its workers)."""
        return self._status_mb("VmRSS:", skip_java=True)


def _iso_ms(stamp: str) -> float:
    """Status-store timestamp (``2024-01-02T14:30:00.123GMT``) in ms."""
    return datetime.strptime(stamp.replace("GMT", "+0000"),
                             "%Y-%m-%dT%H:%M:%S.%f%z").timestamp() * 1e3


class StatusStore:
    """The driver's status store through its REST API."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def _settled(self, jobs: list[dict]) -> bool:
        return all(j["status"] in ("SUCCEEDED", "FAILED") for j in jobs)

    def jobs(self, group: str) -> list[dict]:
        """Jobs of a job group, once the listener has recorded them all."""
        for _ in range(100):
            jobs = [j for j in self.get("/jobs")
                    if j.get("jobGroup") == group]
            if jobs and self._settled(jobs):
                return jobs
            time.sleep(0.05)
        return jobs

    def op_stats(self, group: str) -> dict:
        """Jobs, tasks, shuffle and spill bytes and task skew of one op."""
        jobs = self.jobs(group)
        stage_ids = sorted({s for j in jobs for s in j["stageIds"]})
        tasks = sh_r = sh_w = spill = 0
        durations: list[float] = []
        for sid in stage_ids:
            for att in self.get(f"/stages/{sid}"):
                if att["status"] != "COMPLETE":
                    continue
                tasks += att["numTasks"]
                sh_r += att["shuffleReadBytes"]
                sh_w += att["shuffleWriteBytes"]
                spill += att["memoryBytesSpilled"] + att["diskBytesSpilled"]
                tl = self.get(f"/stages/{sid}/{att['attemptId']}/taskList"
                              "?length=100000")
                durations += [t["duration"] for t in tl if "duration" in t]
        med = statistics.median(durations) if durations else 0.0
        exec_ms = sum(_iso_ms(j["completionTime"])
                      - _iso_ms(j["submissionTime"])
                      for j in jobs if "completionTime" in j)
        return {"jobs": len(jobs), "exec_ms": exec_ms, "tasks": tasks,
                "shuffle_read": sh_r, "shuffle_write": sh_w, "spill": spill,
                "skew": max(durations) / med if med else 1.0}

    def last_sql_nodes(self) -> list[str]:
        """Node names of the most recent completed SQL execution's final
        (adaptive) plan."""
        for _ in range(100):
            execs = self.get("/sql?details=false&length=1000000")
            last = max(execs, key=lambda e: e["id"])
            if last["status"] == "COMPLETED":
                break
            time.sleep(0.05)
        full = self.get(f"/sql/{last['id']}"
                        "?details=true&planDescription=false")
        return [n["nodeName"] for n in full["nodes"]]


def jvm_gc_ms(spark) -> int:
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    return sum(b.getCollectionTime()
               for b in mf.getGarbageCollectorMXBeans())


def _heap_pools(spark):
    mf = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    heap = spark.sparkContext._jvm.java.lang.management.MemoryType.HEAP
    return [p for p in mf.getMemoryPoolMXBeans() if p.getType() == heap]


def jvm_heap_reset(spark) -> None:
    for p in _heap_pools(spark):
        p.resetPeakUsage()


def jvm_live_heap_mb(spark) -> float:
    """Heap still in use after a full collection: what the JVM retains."""
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return mx.getHeapMemoryUsage().getUsed() / 2**20


def jvm_heap_peak_mb(spark) -> float:
    return sum(p.getPeakUsage().getUsed() for p in _heap_pools(spark)) / 2**20


def plan_nodes(df):
    """Nodes of ``df``'s executed physical plan, descending through adaptive
    plans and query stages; yields py4j SparkPlan objects."""
    todo = [df._jdf.queryExecution().executedPlan()]
    while todo:
        node = todo.pop()
        yield node
        kind = node.getClass().getSimpleName()
        if kind == "AdaptiveSparkPlanExec":
            todo.append(node.executedPlan())
        elif kind.endswith("QueryStageExec"):
            todo.append(node.plan())
        else:
            ch = node.children()
            todo += [ch.apply(i) for i in range(ch.size())]


def sql_metric(node, name: str) -> int:
    m = node.metrics().get(name)
    return int(m.get().value()) if m.isDefined() else 0


def catalyst_phases(df) -> dict:
    """QueryPlanningTracker phase durations (ms) of ``df``'s own execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    out = {}
    for ph in ("analysis", "optimization", "planning"):
        got = phases.get(ph)
        out[ph] = float(got.get().durationMs()) if got.isDefined() else 0.0
    return out
