"""Measurement plumbing: spans, Spark job tagging, process-tree memory, load.

`Tracer` records one span around every public engine call the benchmark
makes: name, start, end, parent span and the id of the operation it
belongs to. Spans stay in memory until the run ends; a traced run then
writes them out.

With tracing on, every span runs under its own Spark job group and, when
it closes, reads its job, stage and task counts back from the
`statusTracker`. With tracing off no job group is set and the
`statusTracker` is never called; spans then cost two clock reads.
"""

from __future__ import annotations

import os
import statistics
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    sid: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    jobs: int = 0
    stages: int = 0
    tasks: int = 0
    failed_tasks: int = 0
    children: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, sc, traced: bool):
        self.sc = sc
        self.traced = traced
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self._next_op = 0

    def new_op(self) -> int:
        self._next_op += 1
        return self._next_op

    def _group(self, s: Span | None) -> str | None:
        return None if s is None else f"perfbench-{os.getpid()}-{s.sid}"

    @contextmanager
    def span(self, name: str, op: int | None = None):
        parent = self._stack[-1] if self._stack else None
        if op is None:
            op = parent.op if parent is not None else self.new_op()
        s = Span(len(self.spans), name, op,
                 parent.sid if parent is not None else None, 0.0)
        self.spans.append(s)
        if parent is not None:
            parent.children.append(s.sid)
        if self.traced:
            self.sc.setJobGroup(self._group(s), name, False)
        self._stack.append(s)
        s.start = time.perf_counter()
        try:
            yield s
        finally:
            s.end = time.perf_counter()
            self._stack.pop()
            if self.traced:
                self._count(s)
                self.sc.setLocalProperty("spark.jobGroup.id",
                                         self._group(parent))

    def _count(self, s: Span) -> None:
        st = self.sc.statusTracker()
        for jid in st.getJobIdsForGroup(self._group(s)):
            info = st.getJobInfo(jid)
            if info is None:
                continue
            s.jobs += 1
            for sid in info.stageIds:
                si = st.getStageInfo(sid)
                if si is None or si.numTasks == 0:
                    continue
                s.stages += 1
                s.tasks += si.numTasks
                s.failed_tasks += si.numFailedTasks

    # ---------------------------------------------------------- summaries
    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_time(self, s: Span) -> float:
        """Span duration minus the part covered by its children (children
        of one span never overlap: the benchmark is single-threaded)."""
        return s.dur - sum(self.spans[c].dur for c in s.children)

    def _subtree(self, s: Span, attr: str) -> int:
        return sum(getattr(self.spans[c], attr)
                   + self._subtree(self.spans[c], attr)
                   for c in s.children)

    def op_counts(self, s: Span) -> tuple[int, int, int]:
        """(jobs, stages, tasks) of a span including its descendants."""
        return (s.jobs + self._subtree(s, "jobs"),
                s.stages + self._subtree(s, "stages"),
                s.tasks + self._subtree(s, "tasks"))

    def call_share(self, rounds: list[Span]) -> float:
        """Share of the rounds' wall time that the spans of the public
        calls directly inside them cover. Benchmark code between the calls
        (input generation, bookkeeping) is the uncovered rest."""
        calls = sum(self.spans[c].dur for r in rounds for c in r.children)
        return calls / sum(r.dur for r in rounds)

    def failed_tasks(self) -> int:
        return sum(s.failed_tasks for s in self.spans)


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


# --------------------------------------------------------------- resources

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_pss_bytes(root: int) -> int:
    """Proportional set size of a process tree. PSS splits each shared page
    among the processes that map it, so the JVM's fork-exec children and
    the Python workers forked from pyspark.daemon do not count their shared
    pages twice, as a plain RSS sum would."""
    total = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/smaps_rollup") as f:
                for line in f:
                    if line.startswith("Pss:"):
                        total += int(line.split()[1]) * 1024
                        break
        except OSError:
            continue
    return total


RSS_INTERVAL_S = 0.25


class RssSampler:
    """Samples the resident memory (as PSS) of this process and all its
    descendants (driver, JVM, Python workers) from /proc on one background
    thread."""

    def __init__(self):
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_pss_bytes(me))
            self._stop.wait(RSS_INTERVAL_S)

    def __enter__(self) -> "RssSampler":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.peak = max(self.peak, tree_pss_bytes(os.getpid()))


def loadavg_1m() -> float:
    with open("/proc/loadavg") as f:
        return float(f.read().split()[0])


def cpu_times() -> tuple[int, int]:
    """(steal, total) jiffies of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return vals[7], sum(vals)


def dir_bytes(path: str) -> int:
    """Bytes of the regular files under `path`, Hadoop .crc sidecars
    excluded (they checksum the data; they are not index content)."""
    total = 0
    for root, _, files in os.walk(path):
        for fn in files:
            if fn.endswith(".crc"):
                continue
            total += os.path.getsize(os.path.join(root, fn))
    return total
