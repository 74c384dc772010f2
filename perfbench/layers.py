"""Readers for the per-layer numbers, taken from outside the program.

* ``ProcTree`` reads CPU seconds and peak RSS of this process, the
  Spark JVM it launched and the JVM's Python workers from ``/proc``,
  and splits off the CPU of the JVM's JIT compiler threads.
* ``JobStats`` reads jobs, stages, tasks, executor time and bytes of a
  range of Spark job ids from the task records of the driver's status
  store, which Spark fills even with ``spark.ui.enabled=false``.
* ``Spans`` keeps run -> pass -> key -> {build, sink} spans in memory.
* ``host_steal_s`` reads the CPU time other guests took from this host,
  which marks a pass timed under outside contention.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass, field

_TICK = os.sysconf("SC_CLK_TCK")
# HotSpot's JIT compiler and code-cache sweeper threads (names as the
# kernel keeps them, cut to 15 characters)
_JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre", "Sweeper thread")


def _read_stat(path: str) -> tuple[str, list[str]] | None:
    """(comm, fields after comm) of a ``/proc`` stat file, or None if it is gone."""
    try:
        with open(path) as f:
            raw = f.read()
    except OSError:
        return None
    # comm may contain spaces; fields after the closing paren are fixed
    return raw[raw.index("(") + 1:raw.rindex(")")], raw[raw.rindex(")") + 2:].split()


def _stat(pid: int) -> tuple[int, int] | None:
    """(ppid, cpu ticks incl. reaped children) of ``pid``, or None if it is gone."""
    st = _read_stat(f"/proc/{pid}/stat")
    if st is None:
        return None
    rest = st[1]
    return int(rest[1]), sum(int(x) for x in rest[11:15])


def host_steal_s() -> float:
    """CPU seconds the hypervisor gave to other guests while this host
    wanted to run (``steal`` in ``/proc/stat``): contention from outside
    that no process here accounts for."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / _TICK


class ProcTree:
    """CPU of the benchmark's process tree, split into the driver
    Python process, the JVM, the JVM's JIT compiler threads and the
    JVM's descendants (the Python workers)."""

    def __init__(self, jvm_pid: int | None):
        self.root = os.getpid()
        self.jvm = jvm_pid
        # last ticks seen per JIT thread: HotSpot stops idle compiler
        # threads, and a stopped thread's CPU stays in the JVM's total
        self._jit_ticks: dict[str, int] = {}

    def _jit(self) -> int:
        if self.jvm is not None:
            task_dir = f"/proc/{self.jvm}/task"
            try:
                tids = os.listdir(task_dir)
            except OSError:
                tids = []
            for tid in tids:
                st = _read_stat(f"{task_dir}/{tid}/stat")
                if st is not None and st[0].startswith(_JIT_THREADS):
                    self._jit_ticks[tid] = int(st[1][11]) + int(st[1][12])
        return sum(self._jit_ticks.values())

    def _table(self) -> dict[int, tuple[int, int]]:
        out = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                st = _stat(int(name))
                if st is not None:
                    out[int(name)] = st
        return out

    @staticmethod
    def _descendants(table: dict[int, tuple[int, int]], root: int) -> list[int]:
        kids: dict[int, list[int]] = {}
        for pid, (ppid, _) in table.items():
            kids.setdefault(ppid, []).append(pid)
        out, todo = [], list(kids.get(root, []))
        while todo:
            pid = todo.pop()
            out.append(pid)
            todo.extend(kids.get(pid, []))
        return out

    def cpu(self) -> dict[str, float]:
        """CPU seconds so far: ``total``, ``jvm``, ``jit`` (part of
        ``jvm``), ``work`` (``total`` less ``jit``) and ``pyworker``."""
        table = self._table()
        tree = [self.root] + self._descendants(table, self.root)
        workers = self._descendants(table, self.jvm) if self.jvm in table else []
        ticks = lambda pids: sum(table[p][1] for p in pids if p in table)  # noqa: E731
        total, jit = ticks(tree), self._jit()
        return {
            "total": total / _TICK,
            "jvm": ticks([self.jvm]) / _TICK,
            "jit": jit / _TICK,
            "work": (total - jit) / _TICK,
            "pyworker": ticks(workers) / _TICK,
        }

    def peak_rss_mb(self) -> float:
        """Sum over the live tree of each process's peak resident set."""
        total_kb = 0
        for pid in [self.root] + self._descendants(self._table(), self.root):
            try:
                with open(f"/proc/{pid}/status") as f:
                    for line in f:
                        if line.startswith("VmHWM:"):
                            total_kb += int(line.split()[1])
            except OSError:
                pass
        return total_kb / 1024


TASK_FIELDS = {
    # per-layer name: (paths into a task's metrics, summed; scale to the unit)
    "executor.cpu_s": ([("executorCpuTime",)], 1e-9),
    "executor.run_s": ([("executorRunTime",)], 1e-3),
    "executor.gc_s": ([("jvmGcTime",)], 1e-3),
    "bytes.input": ([("inputMetrics", "bytesRead")], 1),
    "bytes.output": ([("outputMetrics", "bytesWritten")], 1),
    "bytes.shuffle_read": (
        [("shuffleReadMetrics", "localBytesRead"), ("shuffleReadMetrics", "remoteBytesRead")], 1),
    "bytes.shuffle_write": ([("shuffleWriteMetrics", "bytesWritten")], 1),
    "bytes.spill": ([("diskBytesSpilled",)], 1),
}
# the executor summary totals a range's task records must add up to
SUMMARY_FIELDS = {
    "spark.tasks": "totalTasks",
    "bytes.input": "totalInputBytes",
    "bytes.shuffle_write": "totalShuffleWrite",
}


def _dig(d: dict, path: tuple[str, ...]) -> float:
    for part in path:
        d = d.get(part) or {}
    return d or 0


class JobStats:
    """Stage and task statistics for Spark job ids, read from the status
    store.

    Totals come from task records, once per distinct stage of the range.
    A stage's own record is no use for this: when a later job re-uses a
    stage, the status listener registers it again as pending and then
    skipped, which overwrites the completed record with zeros. Task
    records are keyed by task id and are never overwritten.
    """

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jsc = sc._jsc.sc()
        gw = sc._gateway
        self._no_quantiles = gw.new_array(gw.jvm.double, 0)
        self._empty = gw.jvm.java.util.ArrayList()
        # one JSON string per stage instead of a gateway call per field
        self._json = gw.jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala = gw.jvm.com.fasterxml.jackson.module.scala
        self._json.registerModule(getattr(getattr(scala, "DefaultScalaModule$"), "MODULE$"))

    def next_job_id(self) -> int:
        return self._jsc.dagScheduler().numTotalJobs()

    def settle(self) -> None:
        """Wait until the status listener has seen every event posted so far."""
        self._jsc.listenerBus().waitUntilEmpty()

    def summary(self) -> dict[str, float]:
        """Executor summary totals (``SUMMARY_FIELDS``) so far."""
        execs = self._jsc.statusStore().executorList(True)
        out = dict.fromkeys(SUMMARY_FIELDS, 0.0)
        for i in range(execs.size()):
            ex = execs.apply(i)
            for name, attr in SUMMARY_FIELDS.items():
                out[name] += getattr(ex, attr)()
        return out

    def read(self, first: int, end: int) -> dict[str, float]:
        """Totals over jobs ``first..end-1``: jobs, stage attempts and
        tasks actually run, and ``TASK_FIELDS``. Call ``settle`` first."""
        store = self._jsc.statusStore()
        tracker = self._sc.statusTracker()
        stage_ids = set()
        for job in range(first, end):
            info = tracker.getJobInfo(job)
            if info is not None:
                stage_ids.update(info.stageIds)
        out = {"spark.jobs": end - first, "spark.stages": 0, "spark.tasks": 0}
        out.update(dict.fromkeys(TASK_FIELDS, 0.0))
        for sid in sorted(stage_ids):
            attempts = store.stageData(sid, False, self._empty, False, self._no_quantiles)
            for i in range(attempts.size()):
                tasks = json.loads(self._json.writeValueAsString(
                    store.taskList(sid, attempts.apply(i).attemptId(), 2**31 - 1)))
                out["spark.stages"] += bool(tasks)
                out["spark.tasks"] += len(tasks)
                for task in tasks:
                    metrics = task.get("taskMetrics") or {}
                    for name, (paths, scale) in TASK_FIELDS.items():
                        out[name] += sum(_dig(metrics, path) for path in paths) * scale
        return out


@dataclass
class Spans:
    """In-memory spans sharing one run id; ``dump`` writes them as JSON."""

    run_id: str
    spans: list[dict] = field(default_factory=list)

    def open(self, name: str, parent: int | None, **attrs) -> int:
        self.spans.append({
            "run": self.run_id, "id": len(self.spans), "parent": parent,
            "name": name, "start": time.perf_counter(), "end": None, **attrs,
        })
        return len(self.spans) - 1

    def close(self, span: int, **attrs) -> None:
        self.spans[span]["end"] = time.perf_counter()
        self.spans[span].update(attrs)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)
