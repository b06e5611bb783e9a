"""Span recorder and Spark anatomy for the benchmark.

A span is a named interval around one call into a program layer. The
benchmark opens spans around its own calls into each module's public
functions (and wraps the two expansion functions that materialize their
result); nothing inside the program is changed.

Spark work is attributed to a span by **job-id window**: the scheduler
hands out job ids in submission order, so the jobs a call ran are the ids
issued between the span's start and its end. Job groups would miss the
jobs that the program submits from its own ``ThreadPoolExecutor`` threads,
because PySpark keeps the job group per thread.

Each job's stages, tasks, executor run/CPU time and shuffle bytes are read
after the run from the in-process status store
(``sc._jsc.sc().statusStore()``), which Spark keeps even with
``spark.ui.enabled=false``. Spans stay in memory until then.
"""

from __future__ import annotations

import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field
from math import ceil

# Percentiles tried, highest first, for the tail of a timing.
PERCENTILE_LADDER = (99.9, 99.0, 90.0, 50.0)

STAGE_COUNTERS = (
    "tasks", "exec_run_ms", "exec_cpu_ms", "shuffle_read_bytes",
    "shuffle_write_bytes",
)
SPARK_COUNTERS = ("wall_ms", "driver_ms", "jobs", "stages") + STAGE_COUNTERS


# -- statistics ----------------------------------------------------------

def _rank(pct: float, n: int) -> int:
    # 1-based nearest rank; the epsilon keeps 99.9% of 10000 at 9990
    return max(1, ceil(pct * n / 100.0 - 1e-9))


def percentile(values, pct: float) -> float:
    """Nearest-rank percentile: the smallest sample with at least
    ``pct`` percent of the samples at or below it."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    return xs[_rank(pct, len(xs)) - 1]


def tail_percentile(values, min_beyond: int = 10):
    """Highest ladder percentile with at least ``min_beyond`` samples
    strictly above its rank -> (pct, value); None when even the median
    has fewer."""
    n = len(values)
    for pct in PERCENTILE_LADDER:
        if n - _rank(pct, n) >= min_beyond:
            return pct, percentile(values, pct)
    return None


def summarize(values, min_beyond: int = 10) -> dict:
    """Median, the reportable tail percentile and the sample count."""
    out = {"n": len(values), "p50": statistics.median(values)}
    tail = tail_percentile(values, min_beyond)
    if tail is not None:
        out["tail_pct"], out["tail"] = tail
    return out


# -- interval arithmetic -------------------------------------------------

def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    clipped = sorted(
        (max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi
    )
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


# -- spans ---------------------------------------------------------------

@dataclass
class Span:
    name: str
    parent: int | None
    start_ms: float            # wall clock, epoch ms (job times use it)
    end_ms: float = 0.0
    job_lo: int = 0
    job_hi: int = 0
    counters: dict = field(default_factory=dict)


def self_ms(spans: list, i: int) -> float:
    """Span ``i``'s duration minus the part its direct children cover."""
    s = spans[i]
    kids = [(c.start_ms, c.end_ms) for c in spans if c.parent == i]
    return (s.end_ms - s.start_ms) - covered(kids, s.start_ms, s.end_ms)


def read_io_bytes() -> int:
    """Bytes this process has read through read syscalls (``rchar`` of
    /proc/self/io; page-cache hits included)."""
    with open("/proc/self/io") as f:
        for line in f:
            if line.startswith("rchar:"):
                return int(line.split()[1])
    raise OSError("no rchar in /proc/self/io")


def tree_cpu_s() -> float:
    """CPU seconds (user + system) used by this process and every live
    descendant (the Spark JVM and its Python workers), including what
    those have used in children they already reaped. Unlike wall time it
    does not grow while the host runs someone else on our CPUs."""
    procs = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue                   # exited while we listed
        fields = stat[stat.rindex(")") + 2:].split()
        # ppid, then utime, stime, cutime, cstime (proc(5) fields 4, 14-17)
        procs[int(d)] = (int(fields[1]), sum(map(int, fields[11:15])))
    kids: dict = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, todo = 0, [os.getpid()]
    while todo:
        pid = todo.pop()
        total += procs.get(pid, (0, 0))[1]
        todo.extend(kids.get(pid, ()))
    return total / os.sysconf("SC_CLK_TCK")


def bytes_written_since(root: str, since_ns: int) -> dict:
    """{top-level dir under ``root``: bytes of files modified at or after
    ``since_ns``}; files directly under ``root`` count under "_root"."""
    out: dict = {}
    for dirpath, _, files in os.walk(root):
        rel = os.path.relpath(dirpath, root)
        top = "_root" if rel == "." else rel.split(os.sep)[0]
        for fn in files:
            st = os.stat(os.path.join(dirpath, fn))
            if st.st_mtime_ns >= since_ns:
                out[top] = out.get(top, 0) + st.st_size
    return out


def span_counters(span: Span, jobs: dict) -> dict:
    """Spark counters of one span from ``jobs`` ({job id: info as
    ``fetch_job`` returns it}): every job in the span's id window counts,
    whichever thread submitted it."""
    mine = [jobs[j] for j in range(span.job_lo, span.job_hi) if j in jobs]
    stages: dict = {}
    for jb in mine:
        stages.update(jb["stages"])
    wall = span.end_ms - span.start_ms
    busy = covered(
        [(jb["start_ms"], jb["end_ms"]) for jb in mine
         if jb["start_ms"] is not None and jb["end_ms"] is not None],
        span.start_ms, span.end_ms,
    )
    out = {"wall_ms": wall, "driver_ms": wall - busy, "jobs": len(mine),
           "stages": len(stages)}
    for key in STAGE_COUNTERS:
        out[key] = sum(st[key] for st in stages.values())
    return out


def fetch_job(store, job_id: int) -> dict:
    """One job's interval and completed stages from Spark's status store
    (``AppStatusStore`` through py4j)."""
    jd = store.job(job_id)
    sub, done = jd.submissionTime(), jd.completionTime()
    info = {
        "start_ms": sub.get().getTime() if sub.isDefined() else None,
        "end_ms": done.get().getTime() if done.isDefined() else None,
        "stages": {},
    }
    it = jd.stageIds().iterator()
    while it.hasNext():
        sid = int(it.next())
        st = store.lastStageAttempt(sid)
        if str(st.status().toString()) != "COMPLETE":
            continue           # skipped: its shuffle output was reused
        info["stages"][sid] = {
            "tasks": int(st.numCompleteTasks()),
            "exec_run_ms": int(st.executorRunTime()),
            "exec_cpu_ms": int(st.executorCpuTime()) / 1e6,
            "shuffle_read_bytes": int(st.shuffleReadBytes()),
            "shuffle_write_bytes": int(st.shuffleWriteBytes()),
        }
    return info


class Tracer:
    """Records nested spans. Disabled, ``span`` costs one attribute test.

    ``sc`` is the SparkContext whose jobs are attributed, or None for a
    process section that runs no Spark jobs. ``next_job_id`` overrides
    where the next job id is read from (tests)."""

    def __init__(self, sc=None, enabled: bool = True, next_job_id=None):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self.overhead_s = 0.0      # time spent in span bookkeeping
        self._stack: list[int] = []
        self._resolved = 0         # spans before this index are final
        if next_job_id is None and sc is not None:
            dag = sc._jsc.sc().dagScheduler()
            next_job_id = lambda: int(dag.nextJobId())  # noqa: E731
        self._next_job_id = next_job_id or (lambda: 0)

    @contextmanager
    def span(self, name: str, io: bool = False, out_dir: str | None = None):
        """Time one call. ``io``: record ``read_bytes``; ``out_dir``:
        record ``bytes_written.<stage dir>`` for files the call wrote."""
        if not self.enabled:
            yield None
            return
        t_enter = time.perf_counter()
        parent = self._stack[-1] if self._stack else None
        s = Span(name, parent, time.time() * 1000.0)
        self.spans.append(s)
        self._stack.append(len(self.spans) - 1)
        # file mtimes come from the kernel's coarse clock, which may lag
        # time_ns() by a tick; 20 ms covers a 100 Hz tick twice over
        since_ns = time.time_ns() - 20_000_000
        io0 = read_io_bytes() if io else 0
        s.job_lo = self._next_job_id()
        self.overhead_s += time.perf_counter() - t_enter
        try:
            yield s
        finally:
            t_exit = time.perf_counter()
            s.job_hi = self._next_job_id()
            s.end_ms = time.time() * 1000.0
            if io:
                s.counters["read_bytes"] = read_io_bytes() - io0
            if out_dir is not None:
                written = bytes_written_since(out_dir, since_ns)
                for stage, n in written.items():
                    s.counters[f"bytes_written.{stage}"] = n
                s.counters["bytes_written"] = sum(written.values())
            self._stack.pop()
            self.overhead_s += time.perf_counter() - t_exit

    def wrap(self, module, attr: str, name: str):
        """Replace ``module.attr`` by a spanned version; returns an undo
        callable. Only for functions that materialize their result."""
        fn = getattr(module, attr)

        def spanned(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)

        setattr(module, attr, spanned)
        return lambda: setattr(module, attr, fn)

    def resolve(self, fetch=None) -> None:
        """Fill the Spark counters of every span not yet resolved (call
        it after the timed regions). ``fetch(job_id)`` defaults to
        reading the status store."""
        if fetch is None and self.sc is not None:
            jsc = self.sc._jsc.sc()
            jsc.listenerBus().waitUntilEmpty()
            store = jsc.statusStore()
            fetch = lambda j: fetch_job(store, j)  # noqa: E731
        jobs: dict = {}
        new = self.spans[self._resolved:]
        for s in new:
            if fetch is not None:
                for j in range(s.job_lo, s.job_hi):
                    if j not in jobs:
                        jobs[j] = fetch(j)
            s.counters.update(span_counters(s, jobs))
        for i in range(self._resolved, len(self.spans)):
            self.spans[i].counters["self_ms"] = self_ms(self.spans, i)
        self._resolved = len(self.spans)

    def detach(self) -> None:
        """Resolve what Spark ran so far, then stop reading job ids: the
        context is about to stop."""
        if self.enabled:
            self.resolve()
        self.sc = None
        self._next_job_id = lambda: 0

    def per_span(self) -> dict:
        """{span name: {counter: [value per call]}} over all spans."""
        out: dict = {}
        for s in self.spans:
            slot = out.setdefault(s.name, {})
            for k, v in s.counters.items():
                slot.setdefault(k, []).append(v)
        return out
