"""Spans and counters taken from outside the engine.

A span is kept in memory for every timed public call: name
(``<layer>.<call>``), start, end, parent and the id of the request or
iteration it belongs to.  When tracing is on, each span also carries the
Spark work it caused, diffed from the scheduler's status store, and the CPU
time of the Python workers read from ``/proc`` (``executorCpuTime`` counts
JVM threads only).  With tracing off a span costs a ``perf_counter`` pair
and setting the job group.
"""

from __future__ import annotations

import json
import os
import threading
import time
from contextlib import contextmanager

_CLK = os.sysconf("SC_CLK_TCK")
COUNTERS = (
    "jobs", "stages", "stages_skipped", "tasks", "executor_run_s", "executor_cpu_s",
    "input_bytes", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes",
    "gc_s", "python_cpu_s",
)


def _proc_table() -> dict[int, tuple[int, str, list[str]]]:
    """pid -> (ppid, cmdline, stat fields after the command name)."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                fields = f.read().rsplit(")", 1)[1].split()
            with open(f"/proc/{d}/cmdline", "rb") as f:
                cmd = f.read().replace(b"\0", b" ").decode(errors="replace")
        except OSError:
            continue
        out[int(d)] = (int(fields[1]), cmd, fields)
    return out


def _descendants(table, root: int) -> list[int]:
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in table.items():
        kids.setdefault(ppid, []).append(pid)
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, []))
    return out


def python_worker_cpu_s() -> float:
    """User+system CPU of the PySpark daemon and its workers under this
    process, reaped workers included (the daemon's cutime/cstime)."""
    table = _proc_table()
    total = 0
    for pid in _descendants(table, os.getpid()):
        _, cmd, f = table[pid]
        if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
            total += sum(int(x) for x in f[11:15])
    return total / _CLK


_PAGE = os.sysconf("SC_PAGE_SIZE")


def _tree_memory_mb() -> float:
    """Resident memory of this process and its children: RSS of the driver
    and the JVM (``statm``, which needs no walk of the JVM's page tables)
    plus the proportional set size of the Python workers, which share most
    of their pages with the daemon they fork from."""
    table = _proc_table()
    total = 0
    for pid in _descendants(table, os.getpid()):
        cmd = table[pid][1]
        try:
            if "pyspark.daemon" in cmd or "pyspark.worker" in cmd:
                with open(f"/proc/{pid}/smaps_rollup") as f:
                    total += next(int(x.split()[1]) for x in f if x.startswith("Pss:")) * 1024
            else:
                with open(f"/proc/{pid}/statm") as f:
                    total += int(f.read().split()[1]) * _PAGE
        except (OSError, StopIteration):
            continue
    return total / 2**20


class MemoryPeak:
    """Largest ``_tree_memory_mb`` seen, sampled every ``interval``."""

    def __init__(self, interval: float = 0.5):
        self.interval = interval
        self.peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._thread.start()

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_mb = max(self.peak_mb, _tree_memory_mb())
            self._stop.wait(self.interval)

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=10)
        return self.peak_mb


class SparkWork:
    """Counts the jobs, stages and tasks a call ran by the scheduler's job
    id range, so work submitted from the engine's own thread pools (which a
    job-group filter would miss) is still attributed to the call."""

    def __init__(self, sc):
        self.sc = sc
        self.jsc = sc._jsc.sc()
        self.store = self.jsc.statusStore()

    def next_job_id(self) -> int:
        return self.jsc.dagScheduler().numTotalJobs()

    def since(self, first_job: int) -> dict:
        self.jsc.listenerBus().waitUntilEmpty()
        out = dict.fromkeys(COUNTERS, 0)
        stage_ids = set()
        for jid in range(first_job, self.next_job_id()):
            out["jobs"] += 1
            it = self.store.job(jid).stageIds().iterator()
            while it.hasNext():
                stage_ids.add(it.next())
        for sid in sorted(stage_ids):
            sd = self.store.lastStageAttempt(sid)
            if sd.status().toString() == "SKIPPED":
                out["stages_skipped"] += 1
                continue
            out["stages"] += 1
            out["tasks"] += sd.numTasks()
            out["executor_run_s"] += sd.executorRunTime() / 1e3
            out["executor_cpu_s"] += sd.executorCpuTime() / 1e9
            out["input_bytes"] += sd.inputBytes()
            out["shuffle_read_bytes"] += sd.shuffleReadBytes()
            out["shuffle_write_bytes"] += sd.shuffleWriteBytes()
            out["spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
            out["gc_s"] += sd.jvmGcTime() / 1e3
        return out


class Tracer:
    def __init__(self, spark, traced: bool):
        self.sc = spark.sparkContext
        self.traced = traced
        self.work = SparkWork(self.sc)
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.bookkeeping_s = 0.0  # time spent taking counters, inside traced spans
        self._t0 = time.perf_counter()

    @contextmanager
    def span(self, name: str, req=None):
        """Time one public call (or one request grouping several).  Spark
        jobs it submits from this thread run under job group ``name``."""
        parent = self._stack[-1] if self._stack else None
        if req is None and parent is not None:
            req = self.spans[parent]["req"]
        rec = {"id": len(self.spans), "name": name, "parent": parent, "req": req}
        self.spans.append(rec)
        self._stack.append(rec["id"])
        leaf_group = "." in name
        if leaf_group:
            self.sc.setJobGroup(name, name)
        traced = self.traced
        if traced:
            t = time.perf_counter()
            first_job = self.work.next_job_id()
            cpu0 = python_worker_cpu_s()
            self.bookkeeping_s += time.perf_counter() - t
        rec["start"] = time.perf_counter() - self._t0
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter() - self._t0
            self._stack.pop()
            if leaf_group:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            if traced:
                t = time.perf_counter()
                rec.update(self.work.since(first_job))
                rec["python_cpu_s"] = python_worker_cpu_s() - cpu0
                rec["traced"] = True
                self.bookkeeping_s += time.perf_counter() - t

    def timed(self, name: str, fn, req=None):
        with self.span(name, req) as rec:
            out = fn()
        return out, rec["end"] - rec["start"]

    # -------------------------------------------------------- summaries

    def find(self, name: str, traced_only: bool = False) -> list[dict]:
        return [
            s for s in self.spans
            if s["name"] == name and "end" in s and (s.get("traced") or not traced_only)
        ]

    def self_time_by_layer(self) -> dict[str, float]:
        """Span duration minus the time its children cover, per layer."""
        child_time: dict[int, float] = {}
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child_time[s["parent"]] = child_time.get(s["parent"], 0.0) + s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" not in s:
                continue
            layer = s["name"].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + s["end"] - s["start"] - child_time.get(s["id"], 0.0)
        return out

    def write(self, path: str, extra: dict) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {"spans": self.spans, "self_s_by_layer": self.self_time_by_layer(), **extra},
                f, indent=1, default=str,
            )
