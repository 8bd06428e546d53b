"""Measurement plumbing: spans around calls into the program, Spark job and
task counts, and process CPU/RSS from ``/proc``.

Spans are recorded by the benchmark around each call into a public function
of the program (name, start, end, parent span, op id); nothing inside the
program is instrumented. With tracing off, ``Tracer.call`` only runs the
function, so the untraced run pays for none of this.
"""

from __future__ import annotations

import os
import threading
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

_PAGE = os.sysconf("SC_PAGE_SIZE")
_HZ = os.sysconf("SC_CLK_TCK")


# ---------------------------------------------------------------------------
# /proc
# ---------------------------------------------------------------------------

def _children() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(d))
    return kids


def process_tree(root: int) -> list[int]:
    """``root`` and all its descendants (the JVM and its Python workers)."""
    kids, out, todo = _children(), [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _stat(pid: int) -> tuple[float, int]:
    """(CPU seconds incl. reaped children, RSS bytes) of one process."""
    try:
        with open(f"/proc/{pid}/stat") as f:
            v = f.read().rsplit(")", 1)[1].split()
    except OSError:
        return 0.0, 0
    cpu = sum(int(x) for x in v[11:15]) / _HZ  # utime stime cutime cstime
    return cpu, int(v[21]) * _PAGE


def tree_usage(root: int) -> tuple[float, int]:
    cpu = rss = 0
    for p in process_tree(root):
        c, r = _stat(p)
        cpu += c
        rss += r
    return cpu, rss


class ProcSampler:
    """Background sampler of the RSS of a process tree; keeps the peak."""

    def __init__(self, root: int, period: float = 0.25):
        self.root, self.period = root, period
        self.peak_rss = 0
        self._stop = threading.Event()
        self._t = threading.Thread(target=self._run, daemon=True)

    def _run(self) -> None:
        while not self._stop.is_set():
            self.peak_rss = max(self.peak_rss, tree_usage(self.root)[1])
            self._stop.wait(self.period)

    def __enter__(self):
        self._t.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._t.join()
        self.peak_rss = max(self.peak_rss, tree_usage(self.root)[1])


# ---------------------------------------------------------------------------
# Spark job / task counts
# ---------------------------------------------------------------------------

class JobCounter:
    """Counts Spark jobs and their tasks from the status tracker.

    A span's jobs are the jobs carrying its job tag. A tag is set on the
    calling thread and travels with everything the call starts: jobs Spark
    launches asynchronously for a query (adaptive query stages, broadcast
    exchanges) and the jobs a streaming query runs on its own thread, where
    ``run_incremental_curation`` does its work — so concurrent clients are
    counted apart, and a nested span's jobs count in its parents too. (A
    job *group* does not work here: the streaming thread replaces it with
    its own.) Counts of adaptive-execution jobs can move by one between
    identical runs, when a stage races another that comes out empty."""

    def __init__(self, sc):
        self.st = sc.statusTracker()
        self.jst = sc._jsc.sc().statusTracker()
        self.bus = sc._jsc.sc().listenerBus()

    def jobs(self, tag: str) -> list[int]:
        # the tracker learns of a job only when the listener bus delivers
        # its start event: drain the bus first, or a call's last jobs are
        # missed
        self.bus.waitUntilEmpty(10_000)
        return sorted(self.jst.getJobIdsForTag(tag))

    def tasks(self, job_ids) -> int:
        """Tasks run by the jobs' stages (each stage once; skipped stages
        ran none)."""
        stages = set()
        for j in job_ids:
            info = self.st.getJobInfo(j)
            if info is not None:
                stages.update(info.stageIds)
        n = 0
        for s in stages:
            info = self.st.getStageInfo(s)
            if info is not None:
                n += info.numCompletedTasks + info.numFailedTasks
        return n


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------

@dataclass
class Span:
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    op_id: int | None = None
    jobs: int | None = None
    tasks: int | None = None
    sid: int = 0
    phase: str = ""
    error: str | None = None


@dataclass
class Tracer:
    """``enabled=False``: ``call``/``span`` only run the body."""

    enabled: bool
    sc: object = None
    phase: str = "setup"  # "run" once the timed loop starts
    spans: list[Span] = field(default_factory=list)
    overhead_s: float = 0.0

    def __post_init__(self):
        self._lock = threading.Lock()
        self._local = threading.local()
        self.counter = JobCounter(self.sc) if self.enabled else None

    @contextmanager
    def span(self, name: str, op_id: int | None = None):
        if not self.enabled:
            yield None
            return
        t0 = time.perf_counter()
        stack = getattr(self._local, "stack", None)
        if stack is None:
            stack = self._local.stack = []
        with self._lock:
            sp = Span(name, 0.0, parent=stack[-1].sid if stack else None,
                      op_id=op_id if op_id is not None else
                      (stack[-1].op_id if stack else None),
                      sid=len(self.spans), phase=self.phase)
            self.spans.append(sp)
        tag = f"perfbench-span-{sp.sid}"
        self.sc.addJobTag(tag)
        stack.append(sp)
        sp.start = time.perf_counter()
        self._add_overhead(sp.start - t0)
        try:
            yield sp
        except BaseException as exc:
            sp.error = f"{type(exc).__name__}: {exc}"[:300]
            raise
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            self.sc.removeJobTag(tag)
            jobs = self.counter.jobs(tag)
            sp.jobs, sp.tasks = len(jobs), self.counter.tasks(jobs)
            self._add_overhead(time.perf_counter() - sp.end)

    def _add_overhead(self, dt: float) -> None:
        with self._lock:
            self.overhead_s += dt

    def call(self, name: str, fn, *args, **kwargs):
        with self.span(name):
            return fn(*args, **kwargs)

    def wrap(self, name: str, fn):
        """``fn`` with a span around every call (for functions the program
        calls internally, e.g. the EAD pipeline's stages)."""

        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def dump(self) -> list[dict]:
        return [s.__dict__ for s in self.spans]
