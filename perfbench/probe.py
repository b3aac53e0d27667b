"""Measurement from outside the program: process CPU from /proc, Spark's
own work accounting from the status store, and in-memory spans recorded
around calls into the program's public functions.

Nothing here edits the program. The traced run swaps a few module
attributes for timing wrappers (``Shims``) and puts them back at exit.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field

TICK = os.sysconf("SC_CLK_TCK")


# ------------------------------------------------------------------ host


def cpu_ticks() -> tuple[int, int]:
    """(steal, all) clock ticks of all CPUs since boot, from /proc/stat."""
    with open("/proc/stat") as f:
        cpu = [int(x) for x in f.readline().split()[1:9]]
    return cpu[7], sum(cpu)


def host_snapshot() -> dict:
    """Steal seconds (all CPUs) and load averages, as the host reports them."""
    return {"steal_s": cpu_ticks()[0] / TICK, "loadavg": list(os.getloadavg())}


# ------------------------------------------------------------------ CPU


def _stat(path: str) -> tuple[int, float] | None:
    """(parent pid, user+sys seconds) from ``/proc/<path>/stat``, with the
    CPU of the process's reaped children."""
    try:
        with open(f"/proc/{path}/stat") as f:
            raw = f.read()
    except OSError:
        return None
    fields = raw[raw.rindex(")") + 2:].split()
    # fields[0] is state; utime, stime, cutime, cstime are fields 14-17 of
    # the full line, i.e. 11-14 after the command name
    return int(fields[1]), sum(int(x) for x in fields[11:15]) / TICK


class ProcCpu:
    """User+sys CPU of the Spark JVM (all its threads, JIT compiler and GC
    included), its live descendants (Python workers) and this Python
    process. Counts no host steal time."""

    def __init__(self, jvm_pid: int):
        self.jvm_pid = jvm_pid

    def seconds(self) -> float:
        stats = {}
        for name in os.listdir("/proc"):
            if name.isdigit():
                s = _stat(name)
                if s is not None:
                    stats[int(name)] = s
        tree, frontier = set(), {self.jvm_pid}
        while frontier:
            tree |= frontier
            frontier = {p for p, (pp, _) in stats.items() if pp in frontier} - tree
        t = os.times()
        return sum(stats[p][1] for p in tree if p in stats) + t.user + t.system


def peak_rss_mb(pid: int) -> float:
    """Peak resident memory of a live process (VmHWM), in MB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    return 0.0


# ------------------------------------------------------------ status store

SPARK_KEYS = (
    "jobs", "stages", "tasks", "job_s", "outside_jobs_s", "executor_run_ms",
    "executor_cpu_ms", "input_bytes", "output_bytes", "shuffle_read_bytes",
    "shuffle_write_bytes", "spill_bytes", "gc_ms",
)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


class JobWindow:
    """Spark work done between two calls, read from the status store after
    the listener bus has drained: jobs, stages, tasks, the union of job
    intervals, and per-stage executor metrics."""

    def __init__(self, spark):
        self.sc = spark.sparkContext._jsc.sc()
        self.last_job = self._max_job()

    def _store_jobs(self):
        self.sc.listenerBus().waitUntilEmpty()
        jobs = self.sc.statusStore().jobsList(None)
        return [jobs.apply(i) for i in range(jobs.size())]

    def _max_job(self) -> int:
        return max((j.jobId() for j in self._store_jobs()), default=-1)

    def take(self, wall_s: float) -> dict:
        """Work since the previous ``take`` (or construction)."""
        store = self.sc.statusStore()
        jobs = [j for j in self._store_jobs() if j.jobId() > self.last_job]
        out = dict.fromkeys(SPARK_KEYS, 0.0)
        spans, stage_ids = [], set()
        for j in jobs:
            self.last_job = max(self.last_job, j.jobId())
            out["jobs"] += 1
            a, b = _opt_ms(j.submissionTime()), _opt_ms(j.completionTime())
            if a is not None and b is not None:
                spans.append((a, b))
            ids = j.stageIds()
            stage_ids.update(ids.apply(i) for i in range(ids.size()))
        for sid in sorted(stage_ids):
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # py4j wraps NoSuchElementException: skipped stage
                continue
            if st.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numCompleteTasks()
            out["executor_run_ms"] += st.executorRunTime()
            out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            out["input_bytes"] += st.inputBytes()
            out["output_bytes"] += st.outputBytes()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
            out["gc_ms"] += st.jvmGcTime()
        out["job_s"] = _union(spans) / 1000
        out["outside_jobs_s"] = max(0.0, wall_s - out["job_s"])
        return out


def sum_work(parts: list[dict], wall_s: float) -> dict:
    """One op's work from the windows of its parts (summed; the job
    interval union of disjoint parts is the sum of theirs)."""
    out = {k: sum(p[k] for p in parts) for k in SPARK_KEYS}
    out["outside_jobs_s"] = max(0.0, wall_s - out["job_s"])
    return out


def _union(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b > end:
            total += b - max(a, end)
            end = b
    return total


# ------------------------------------------------------------------ spans


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: int


@dataclass
class Tracer:
    """Spans kept in memory; written out once, at exit. The parent of a
    span is the innermost open span; spans opened on the streaming
    callback thread nest under the op span the main thread holds open."""

    spans: list[Span] = field(default_factory=list)
    op: int = -1
    _stack: list[int] = field(default_factory=list)

    def span(self, name: str):
        return _SpanCtx(self, name)

    def dump(self) -> list[dict]:
        """The spans, with times in seconds from the first span's start."""
        t0 = self.spans[0].start if self.spans else 0.0
        return [{"name": s.name, "start": round(s.start - t0, 6),
                 "end": round(s.end - t0, 6), "parent": s.parent, "op": s.op}
                for s in self.spans]

    def totals(self, ops: set[int]) -> dict[str, tuple[int, float]]:
        """name -> (calls, seconds) over the spans of ``ops``."""
        out: dict[str, tuple[int, float]] = {}
        for s in self.spans:
            if s.op in ops:
                n, t = out.get(s.name, (0, 0.0))
                out[s.name] = (n + 1, t + s.end - s.start)
        return out


class _SpanCtx:
    def __init__(self, tracer: Tracer, name: str):
        self.tracer, self.name = tracer, name

    def __enter__(self):
        tr = self.tracer
        self.idx = len(tr.spans)
        parent = tr._stack[-1] if tr._stack else None
        tr.spans.append(Span(self.name, time.perf_counter(), 0.0, parent, tr.op))
        tr._stack.append(self.idx)
        return self

    def __exit__(self, *exc):
        tr = self.tracer
        tr.spans[self.idx].end = time.perf_counter()
        tr._stack.pop()
        return False


class Shims:
    """Timing wrappers around public functions, installed by replacing the
    names the program's modules call them by; ``remove`` restores them."""

    def __init__(self, tracer: Tracer):
        self.tracer = tracer
        self.saved: list[tuple[object, str, object]] = []

    def wrap(self, module, attr: str, span: str) -> None:
        fn = getattr(module, attr)
        tracer = self.tracer

        def timed(*a, **kw):
            with tracer.span(span):
                return fn(*a, **kw)

        self.saved.append((module, attr, fn))
        setattr(module, attr, timed)

    def remove(self) -> None:
        for module, attr, fn in reversed(self.saved):
            setattr(module, attr, fn)
        self.saved.clear()


#: span name -> (calls metric, seconds metric) in BENCHMARK.json
SPAN_METRICS = {
    "streaming.markers": ("streaming.markers.calls", "streaming.markers.s"),
    "operators.split.split_one": ("operators.split.split_one_calls",
                                  "operators.split.split_one_s"),
    "operators.compact.compact": (None, "operators.compact.compact_s"),
}


def program_shims(tracer: Tracer) -> Shims:
    """Spans around the marker, split and compact calls the streaming sinks
    make, by the names ``streaming.split_stream`` and
    ``streaming.cdc_merge`` import them under."""
    from split_kinesis_streams_with_glue_spark.streaming import cdc_merge, split_stream

    # a name the module no longer imports is skipped: its metrics read 0
    spans = {"read_marker": "streaming.markers", "write_marker": "streaming.markers",
             "read_text_marker": "streaming.markers",
             "write_text_marker": "streaming.markers",
             "split_one": "operators.split.split_one",
             "compact": "operators.compact.compact"}
    shims = Shims(tracer)
    for mod in (split_stream, cdc_merge):
        for name, span in spans.items():
            if hasattr(mod, name):
                shims.wrap(mod, name, span)
    return shims


# ------------------------------------------------------------------ files


def tree_bytes(*roots: str) -> int:
    """Bytes of data files under ``roots`` (hidden files excluded)."""
    total = 0
    for root in roots:
        for dirpath, _, names in os.walk(root):
            for f in names:
                if not f.startswith(("_", ".")):
                    total += os.path.getsize(os.path.join(dirpath, f))
    return total
