"""Span recorder for the traced benchmark run.

A span is (name, start, end, parent id, run id) plus the counters measured
over its interval:

* Spark counters from the status store, attributed by job group: entering a
  span sets the thread's job group to the span id, leaving restores the
  parent's, so every job lands in the innermost open span.  The status store
  is read with the UI disabled (``statusStore().stageData``), nothing else.
* Python-worker CPU from /proc: user+system time of every descendant of the
  Spark JVM (the pyspark daemon and its workers), including reaped children.

Spans are kept in memory; ``Tracer.dump`` returns them for writing at the end.
Self time of a span is its wall time minus the wall time of its children.
"""

from __future__ import annotations

import itertools
import os
import time
from contextlib import contextmanager

_CLK_TCK = os.sysconf("SC_CLK_TCK")

# StageData getter -> counter name.  Times are ms except executorCpuTime (ns).
_STAGE_COUNTERS = {
    "executorCpuTime": "cpu_ns",
    "jvmGcTime": "gc_ms",
    "shuffleFetchWaitTime": "fetch_wait_ms",
    "shuffleReadBytes": "shuffle_read_bytes",
    "shuffleWriteBytes": "shuffle_write_bytes",
    "memoryBytesSpilled": "spill_bytes",
    "numFailedTasks": "failed_tasks",
    "outputRecords": "output_records",
    "outputBytes": "output_bytes",
}


def _children(pid_ppid: dict[int, int], root: int) -> list[int]:
    out, frontier = [], [root]
    while frontier:
        parent = frontier.pop()
        kids = [p for p, pp in pid_ppid.items() if pp == parent]
        out.extend(kids)
        frontier.extend(kids)
    return out


def _proc_table() -> dict[int, list[str]]:
    """pid -> fields of /proc/<pid>/stat after the command name."""
    table = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:
            continue
        # the command name may contain spaces; fields resume after its ')'
        table[int(name)] = raw[raw.rfind(")") + 2:].split()
    return table


def jvm_descendants(jvm_pid: int) -> list[int]:
    table = _proc_table()
    return _children({p: int(f[1]) for p, f in table.items()}, jvm_pid)


def python_worker_cpu(jvm_pid: int | None) -> dict[int, float]:
    """CPU seconds per child process of the JVM (the pyspark daemon and its
    workers): each one's own time plus that of its children already reaped
    (cutime/cstime), which covers workers that exited."""
    if jvm_pid is None:
        return {}
    table = _proc_table()
    pid_ppid = {p: int(f[1]) for p, f in table.items()}
    # stat fields after ')': state=0 ppid=1 ... utime=11 stime=12 cutime=13 cstime=14
    return {
        pid: sum(int(x) for x in table[pid][11:15]) / _CLK_TCK
        for pid in _children(pid_ppid, jvm_pid)
    }


def cpu_delta(before: dict[int, float], after: dict[int, float]) -> float:
    """Python-worker CPU spent between two samples.  Processes gone by the
    second sample (workers killed when a SparkContext stops) drop out, so a
    span across a context stop undercounts; layer spans never cross one."""
    return sum(v - before.get(pid, 0.0) for pid, v in after.items())


class Tracer:
    """In-memory span tree with per-span Spark and Python-worker counters."""

    def __init__(self, run_id: str, jvm_pid_fn):
        self.run_id = run_id
        self._jvm_pid_fn = jvm_pid_fn
        self._ids = itertools.count(1)
        self._stack: list[dict] = []
        self.spans: list[dict] = []

    @staticmethod
    def _sc():
        from pyspark import SparkContext

        sc = SparkContext._active_spark_context
        return sc if sc is not None and sc._jsc is not None else None

    def _set_group(self, group: str | None) -> None:
        sc = self._sc()
        if sc is None:
            return
        if group is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            sc.setJobGroup(group, group)

    @contextmanager
    def span(self, name: str, probe: bool = False, parent: int | None = None):
        """Open a span; yields its record so the caller can add extras.

        ``parent`` overrides the tree parent (probes re-run a layer's calls
        after its span closed and hang under that layer); ``probe`` marks
        spans that are not part of the pipeline's own wall time."""
        sid = next(self._ids)
        if parent is None:
            parent = self._stack[-1]["id"] if self._stack else None
        group = f"{self.run_id}-s{sid}"
        rec = {
            "id": sid, "name": name, "parent": parent, "run_id": self.run_id,
            "probe": probe, "group": group, "extras": {},
        }
        self._stack.append(rec)
        self._set_group(group)
        rec["python_cpu0"] = python_worker_cpu(self._jvm_pid_fn())
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["python_cpu_incl_s"] = cpu_delta(
                rec.pop("python_cpu0"), python_worker_cpu(self._jvm_pid_fn())
            )
            rec["spark"] = self._spark_counters(group)
            self._stack.pop()
            self._set_group(self._stack[-1]["group"] if self._stack else None)
            self.spans.append(rec)

    def _spark_counters(self, group: str) -> dict:
        """Sum the status-store stage counters of this group's jobs."""
        out = {v: 0 for v in _STAGE_COUNTERS.values()}
        sc = self._sc()
        if sc is None:
            return out
        tracker = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        stage_ids = set()
        for job_id in tracker.getJobIdsForGroup(group):
            info = tracker.getJobInfo(job_id)
            if info is not None:
                stage_ids.update(info.stageIds)
        empty_q = sc._gateway.new_array(jvm.double, 0)
        for stage_id in stage_ids:
            try:
                attempts = store.stageData(
                    stage_id, False, jvm.java.util.ArrayList(), False, empty_q
                )
            except Exception:  # stage evicted from the store: count nothing
                continue
            for i in range(attempts.length()):
                st = attempts.apply(i)
                for getter, key in _STAGE_COUNTERS.items():
                    out[key] += int(getattr(st, getter)())
        out["stages"] = len(stage_ids)
        return out

    def current(self) -> dict:
        return self._stack[-1]

    def dump(self) -> list[dict]:
        """Spans in start order with self times filled in."""
        spans = sorted(self.spans, key=lambda s: s["start"])
        for s in spans:
            s["wall_s"] = s["end"] - s["start"]
        for s in spans:
            kids = [c for c in spans if c["parent"] == s["id"] and not c["probe"]]
            s["self_s"] = s["wall_s"] - sum(c["wall_s"] for c in kids)
            s["python_cpu_s"] = s["python_cpu_incl_s"] - sum(
                c["python_cpu_incl_s"] for c in kids
            )
        return spans
