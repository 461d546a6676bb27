"""Measurement from outside the program: a span recorder, Spark status-store
counters per job group, process-tree CPU time, and peak RSS.

Spans and counters are only collected in a traced run. An untraced run
times the same calls with ``perf_counter`` (and CPU time where asked) and
nothing else, so the difference between the two is the tracing overhead.
"""

from __future__ import annotations

import itertools
import json
import os
import time
import uuid
from contextlib import contextmanager

COUNTERS = ("cpu_s", "stages", "tasks", "shuffle_bytes", "spill_bytes", "input_bytes")


def _opt_ms(opt) -> float | None:
    """A Scala ``Option[java.util.Date]`` as epoch milliseconds."""
    return float(opt.get().getTime()) if opt.isDefined() else None


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total / 1000.0


class Tracer:
    """One span per call at a layer boundary, kept in memory and written
    once at the end of the run. With ``enabled=False`` every method is a
    plain timer."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._ids = itertools.count(1)
        self.overhead_s = 0.0  # time spent inside the tracer itself

    @contextmanager
    def span(self, name: str, counters: bool = False, cpu: bool = False):
        """Time the body; with ``cpu``, also the CPU seconds the whole
        process tree spent in it (``rec["tree_cpu_s"]``, read outside the
        timed interval, traced or not). Traced: record a span and, with
        ``counters``, tag the body's Spark jobs with a job group and read
        their stage metrics from the status store right after the call
        returns (the store keeps only the newest stages, so a read at the
        end of the run would lose them). Counters go on leaf spans only:
        a nested counted span would take over its parent's job group."""
        rec: dict = {"name": name}
        c0 = tree_cpu_s() if cpu else 0.0
        o0 = time.perf_counter()
        if self.enabled:
            sid = next(self._ids)
            rec.update(id=sid, parent=self._stack[-1] if self._stack else None, run_id=self.run_id)
            group = f"perfbench-{self.run_id}-{sid}"
            if counters:
                self.spark.sparkContext.setJobGroup(group, name)
            self._stack.append(sid)
        t0 = time.perf_counter()
        self.overhead_s += t0 - o0
        try:
            yield rec
        finally:
            t1 = time.perf_counter()
            rec.update(start=t0, end=t1, wall_s=t1 - t0)
            if self.enabled:
                self._stack.pop()
                if counters:
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)
                    rec.update(self._group_counters(group, rec["wall_s"]))
                self.spans.append(rec)
                self.overhead_s += time.perf_counter() - t1
            if cpu:
                rec["tree_cpu_s"] = tree_cpu_s() - c0

    def _group_counters(self, group: str, wall_s: float) -> dict:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        out = dict.fromkeys(COUNTERS, 0.0)
        intervals = []
        tracker = sc.statusTracker()
        for jid in tracker.getJobIdsForGroup(group):
            job = store.job(jid)
            a, b = _opt_ms(job.submissionTime()), _opt_ms(job.completionTime())
            if a is not None and b is not None:
                intervals.append((a, b))
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # evicted from the store
                    continue
                if st.status().toString() == "SKIPPED":  # output reused, nothing ran
                    continue
                out["stages"] += 1
                out["tasks"] += st.numTasks()
                out["cpu_s"] += st.executorCpuTime() / 1e9
                out["shuffle_bytes"] += st.shuffleReadBytes() + st.shuffleWriteBytes()
                out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                out["input_bytes"] += st.inputBytes()
        out["driver_s"] = max(0.0, wall_s - _union_s(intervals))
        out["jobs"] = len(intervals)
        return out

    def self_times(self) -> dict[str, float]:
        """Seconds per span name not covered by its child spans."""
        child: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] = child.get(s["parent"], 0.0) + s["wall_s"]
        out: dict[str, float] = {}
        for s in self.spans:
            out[s["name"]] = out.get(s["name"], 0.0) + s["wall_s"] - child.get(s["id"], 0.0)
        return out

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def persistent_rdds(spark) -> int:
    """RDDs still persisted in the session (cached DataFrames included)."""
    return int(spark.sparkContext._jsc.sc().getPersistentRDDs().size())


def _procs() -> dict[int, tuple[int, int]]:
    """pid -> (parent pid, CPU ticks incl. reaped children) for every process."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
        except OSError:  # exited while scanning
            continue
        procs[int(d)] = (int(fields[1]), sum(int(x) for x in fields[11:15]))
    return procs


def descendants(procs: dict[int, tuple[int, int]] | None = None) -> set[int]:
    """This process's children, grandchildren and so on."""
    procs = _procs() if procs is None else procs
    tree, frontier = set(), [os.getpid()]
    while frontier:
        pid = frontier.pop()
        kids = [p for p, (pp, _) in procs.items() if pp == pid and p not in tree]
        tree.update(kids)
        frontier.extend(kids)
    return tree


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used so far by this process and all its
    descendants: the JVM, the PySpark worker daemon and its workers.
    Reaped children count through their parent's cutime/cstime."""
    procs = _procs()
    tree = descendants(procs) | {os.getpid()}
    return sum(procs[p][1] for p in tree if p in procs) / os.sysconf("SC_CLK_TCK")


def _hwm_kb(pid: int | str) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> float:
    """Peak resident set of this Python driver plus its JVM, in MiB."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return (_hwm_kb("self") + _hwm_kb(jvm_pid)) / 1024.0


def host_info() -> dict:
    import platform

    import pyspark

    return {
        "nproc": len(os.sched_getaffinity(0)),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "inputs": "generated from --seed by perfbench/gen.py",
    }
