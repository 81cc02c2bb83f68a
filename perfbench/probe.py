"""Measurement from outside the program: process memory, Spark's own
status store, and spans around calls into the package's modules."""

from __future__ import annotations

import contextlib
import functools
import json
import os
import re
import threading
import time


# --------------------------------------------------------------------------
# memory of the Spark JVM and its Python workers


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces; fields resume after ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _rss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/status") as f:
            for line in f:
                if line.startswith("VmRSS:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class PeakRss:
    """Peak of the summed resident set (``VmRSS``) of the processes alive
    together under this one (the JVM, the PySpark daemon and its workers),
    sampled until :meth:`stop`.  Workers come and go with each session,
    so per-process peaks are not summed: they were never resident at once.
    """

    def __init__(self, interval_s: float = 0.1):
        self._interval = interval_s
        self._peak_kb = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def start(self) -> "PeakRss":
        self._thread.start()
        return self

    def _sample(self) -> None:
        kb = sum(_rss_kb(pid) for pid in descendants(os.getpid()))
        self._peak_kb = max(self._peak_kb, kb)

    def _run(self) -> None:
        while not self._stop.wait(self._interval):
            self._sample()

    def stop(self) -> float:
        """Stop sampling; return the peak in MB."""
        self._stop.set()
        self._thread.join(timeout=10)
        self._sample()  # the sampler thread has ended: no racing update
        return self._peak_kb / 1024.0


# --------------------------------------------------------------------------
# Spark's status store (the data behind the web UI, kept even with the UI off)

_JOIN_NODES = {
    "broadcast": ("BroadcastHashJoin", "BroadcastNestedLoopJoin"),
    "shuffle": ("SortMergeJoin", "ShuffledHashJoin", "CartesianProduct"),
}


def _final_plan_lines(plan_text: str) -> list[str]:
    """Tree lines of a formatted physical plan (the part before the
    per-node details), without the initial plans adaptive execution
    prints under each final plan."""
    out, skip_below = [], None
    for line in plan_text.split("\n\n", 1)[0].splitlines():
        indent = len(line) - len(line.lstrip(" :+-"))
        if skip_below is not None and indent >= skip_below:
            continue
        skip_below = None
        if "== Initial Plan ==" in line:
            skip_below = indent
            continue
        out.append(line)
    return out


def _count_joins(plan_text: str) -> dict[str, int]:
    lines = _final_plan_lines(plan_text)
    return {kind: sum(len(re.findall(rf"\b{n}\b", ln)) for ln in lines for n in names)
            for kind, names in _JOIN_NODES.items()}


class StatusStore:
    def __init__(self, spark):
        sc = spark.sparkContext
        self._app = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jsc = sc._jsc.sc()
        self._no_quantiles = sc._gateway.new_array(sc._jvm.double, 0)

    def _stages(self):
        seq = self._app.stageList(None, False, False, self._no_quantiles, None)
        return seq, seq.size()

    def mark(self) -> dict:
        seq, n = self._stages()
        ex = self._sql.executionsList()
        return {
            "stage": seq.apply(0).stageId() if n else -1,
            "exec": ex.apply(ex.size() - 1).executionId() if ex.size() else -1,
        }

    def last_job_id(self) -> int:
        jobs = self._app.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def delta(self, since: dict) -> dict:
        """Totals over stages and SQL executions started after ``since``."""
        seq, n = self._stages()
        tot = {"tasks": 0, "task_failures": 0, "run_ms": 0, "cpu_ns": 0, "gc_ms": 0,
               "input_b": 0, "output_b": 0, "shuffle_read_b": 0,
               "shuffle_write_b": 0, "spill_b": 0}
        intervals, scan_tasks = [], []
        for i in range(n):  # stageList is newest first
            s = seq.apply(i)
            if s.stageId() <= since["stage"]:
                break
            tot["tasks"] += s.numTasks()
            tot["task_failures"] += s.numFailedTasks()
            tot["run_ms"] += s.executorRunTime()
            tot["cpu_ns"] += s.executorCpuTime()
            tot["gc_ms"] += s.jvmGcTime()
            tot["input_b"] += s.inputBytes()
            tot["output_b"] += s.outputBytes()
            tot["shuffle_read_b"] += s.shuffleReadBytes()
            tot["shuffle_write_b"] += s.shuffleWriteBytes()
            tot["spill_b"] += s.diskBytesSpilled()
            if s.inputBytes() > 0:
                scan_tasks.append(s.numTasks())
            sub, done = s.submissionTime(), s.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
        joins = {"broadcast": 0, "shuffle": 0}
        ex = self._sql.executionsList()
        for i in range(ex.size() - 1, -1, -1):  # oldest first
            e = ex.apply(i)
            if e.executionId() <= since["exec"]:
                break
            for k, v in _count_joins(e.physicalPlanDescription()).items():
                joins[k] += v
        tot["scan_tasks"] = sorted(scan_tasks)[len(scan_tasks) // 2] if scan_tasks else 0
        tot["busy_s"] = _union_length(intervals)
        tot["joins"] = joins
        return tot

    def cached_bytes(self) -> int:
        return sum(r.memSize() + r.diskSize() for r in self._jsc.getRDDStorageInfo())


def _union_length(intervals: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


# --------------------------------------------------------------------------
# spans around calls into the package, recorded from outside it


class Tracer:
    """Spans (name, start, end, parent, job) kept in memory.

    :meth:`wrap` replaces a module attribute with a timing wrapper; the
    package's own modules look their callees up in their module dict at
    call time, so calls between its modules are spanned too.
    :meth:`restore` puts every original back.
    """

    def __init__(self):
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._patched: list[tuple[object, str, object]] = []
        self.job: int | None = None

    def span(self, name: str):
        return _Span(self, name)

    def wrap(self, module, name: str) -> None:
        orig = getattr(module, name)
        label = f"{module.__name__.split('.', 1)[-1]}.{name}"
        tracer = self

        @functools.wraps(orig)
        def wrapper(*a, **kw):
            with tracer.span(label):
                return orig(*a, **kw)

        setattr(module, name, wrapper)
        self._patched.append((module, name, orig))

    def restore(self) -> None:
        while self._patched:
            module, name, orig = self._patched.pop()
            setattr(module, name, orig)

    @contextlib.contextmanager
    def installed(self, targets: list[tuple[object, str]]):
        """Span every (module, function) in ``targets`` inside the block."""
        for module, name in targets:
            self.wrap(module, name)
        try:
            yield self
        finally:
            self.restore()

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(self.spans, f)


class _Span:
    def __init__(self, tracer: Tracer, name: str):
        self._t, self._name = tracer, name

    def __enter__(self):
        t = self._t
        self._idx = len(t.spans)
        t.spans.append({"name": self._name, "start": time.perf_counter(), "end": None,
                        "parent": t._stack[-1] if t._stack else None, "job": t.job})
        t._stack.append(self._idx)
        return self

    def __exit__(self, *exc):
        t = self._t
        t.spans[self._idx]["end"] = time.perf_counter()
        t._stack.pop()
        return False
