"""Outside-in observers for the benchmark: process-tree memory, Spark's own
status store, and in-memory spans around calls into the engine's layers.

Nothing here reaches into the engine's internals beyond what Spark
exposes to any client; spans are recorded only by wrappers installed
from the benchmark (``Tracer.wrap``), never by engine code.
"""

from __future__ import annotations

import functools
import json
import os
import threading
import time
from contextlib import contextmanager


def descendants(root: int) -> list[int]:
    """``root`` and every process below it, from /proc: the driver
    Python, the JVM it launched, and Spark's Python workers."""
    children: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat", "rb") as fh:
                stat = fh.read()
        except OSError:
            continue
        # the command name may contain spaces: fields resume after ')'
        ppid = int(stat[stat.rindex(b")") + 2:].split()[1])
        children.setdefault(ppid, []).append(int(entry))
    out, todo = [], [root]
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def _tree_pss_bytes(root: int) -> int:
    """Proportional set size of the process tree. PSS splits pages
    shared by forked Python workers among them, so the sum does not
    grow with the number of idle forks the way summed RSS does."""
    total = 0
    for pid in descendants(root):
        try:
            with open(f"/proc/{pid}/smaps_rollup", "rb") as fh:
                for line in fh:
                    if line.startswith(b"Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


class PssSampler:
    """Peak resident memory (PSS) of the process tree while ``active`` —
    a daemon thread polls /proc every ``interval`` seconds (``psutil``
    is not assumed)."""

    def __init__(self, interval: float = 0.25):
        self.interval = interval
        self.peak = 0
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def _loop(self) -> None:
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, _tree_pss_bytes(root))
            self._stop.wait(self.interval)

    @contextmanager
    def active(self):
        self._stop.clear()
        self._thread = threading.Thread(target=self._loop, daemon=True)
        self._thread.start()
        try:
            yield self
        finally:
            self._stop.set()
            self._thread.join(timeout=5)
            self.peak = max(self.peak, _tree_pss_bytes(os.getpid()))


class SparkCounters:
    """Diffs Spark's AppStatusStore around a call: jobs, tasks, shuffle
    bytes, executor run time and JVM GC time of the stages that ran.

    Works with ``spark.ui.enabled=false`` — the status store is fed by
    the listener bus regardless; ``mark`` drains the bus first so the
    snapshot includes every event of the jobs that already returned."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc._jsc.sc()
        self._jvm = sc._jvm
        self._gw = sc._gateway
        self._last_stage = -1
        self._last_job = 0

    def mark(self) -> dict:
        self._sc.listenerBus().waitUntilEmpty()
        jvm = self._jvm
        stages = self._sc.statusStore().stageList(
            jvm.java.util.ArrayList(), False, False,
            self._gw.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        out = {"tasks": 0, "run_ms": 0, "gc_ms": 0,
               "shuffle_write": 0, "shuffle_read": 0}
        top = self._last_stage
        # stageList is newest-first: stop at the first stage already seen
        for i in range(stages.size()):
            s = stages.apply(i)
            sid = s.stageId()
            if sid <= self._last_stage:
                break
            top = max(top, sid)
            out["tasks"] += s.numCompleteTasks()
            out["run_ms"] += s.executorRunTime()
            out["gc_ms"] += s.jvmGcTime()
            out["shuffle_write"] += s.shuffleWriteBytes()
            out["shuffle_read"] += s.shuffleReadBytes()
        self._last_stage = top
        next_job = self._sc.dagScheduler().nextJobId()
        out["jobs"] = next_job - self._last_job
        self._last_job = next_job
        return out


class Tracer:
    """Spans (name, start, end, parent, run id) kept in memory and
    written out once, at exit. Disabled tracers record nothing and
    install no wrappers, so untraced runs execute the plain engine."""

    def __init__(self, run_id: str, enabled: bool):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[list] = []
        self._stack: list[int] = []
        self.overhead_s = 0.0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        t_in = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        rec = [name, 0.0, 0.0, parent, self.run_id]
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        rec[1] = time.perf_counter()
        self.overhead_s += rec[1] - t_in
        try:
            yield
        finally:
            rec[2] = time.perf_counter()
            self._stack.pop()
            self.overhead_s += time.perf_counter() - rec[2]

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a wrapper recording a span per call.
        The engine looks these functions up at call time, so calls it
        makes into the layer are seen from outside."""
        if not self.enabled:
            return
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    def total(self, name: str, since: int = 0) -> float:
        """Summed duration of the spans called ``name`` recorded at or
        after index ``since``."""
        return sum(s[2] - s[1] for s in self.spans[since:] if s[0] == name)

    def self_time_by_layer(self, since: int, until: int) -> dict[str, float]:
        """Span duration minus the part covered by its child spans,
        summed per layer (the name up to the first dot), over the spans
        recorded at indices ``since`` to ``until``. Children of one span
        never overlap: the driver calls into layers one at a time."""
        child = [0.0] * len(self.spans)
        for s in self.spans[since:until]:
            if s[3] is not None:
                child[s[3]] += s[2] - s[1]
        out: dict[str, float] = {}
        for i in range(since, until):
            s = self.spans[i]
            layer = s[0].split(".", 1)[0]
            out[layer] = out.get(layer, 0.0) + (s[2] - s[1]) - child[i]
        return out

    def dump(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(
                [{"name": n, "start": a, "end": b, "parent": p, "run": r}
                 for n, a, b, p, r in self.spans],
                fh,
            )
