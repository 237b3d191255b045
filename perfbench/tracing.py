"""Spans, job attribution, Spark event-log metrics and host counters.

All of it lives in the benchmark. The engine is never edited: spans are
opened around the benchmark's own calls into the engine's public API, and
in the traced run only, ``Shims`` wraps the public functions one engine
module calls in another, patched on the name the calling module looks up.

Each span sets the Spark job group to its own id, so every job the engine
submits from the benchmark's threads is attributed to the innermost span
open at the time. Jobs submitted from other threads (stream execution,
threads the package creates) carry no such group and are reported as
unattributed, never dropped.
"""

from __future__ import annotations

import json
import os
import threading
import time
from collections import defaultdict
from dataclasses import dataclass, field

GROUP_PREFIX = "perfbench:"


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    start: float  # time.time(), seconds
    end: float = 0.0

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``enabled=False`` makes every span a no-op,
    which is how the untraced end-to-end runs execute the same code."""

    def __init__(self, sc, enabled: bool):
        self.sc = sc
        self.enabled = enabled
        self.spans: list[Span] = []
        self._local = threading.local()
        self._lock = threading.Lock()
        self.instrument_s = 0.0  # time spent inside span bookkeeping

    def _stack(self) -> list[Span]:
        st = getattr(self._local, "stack", None)
        if st is None:
            st = self._local.stack = []
        return st

    def span(self, name: str, parent: Span | None = None):
        return _SpanCtx(self, name, parent)

    def _open(self, name, parent) -> Span:
        t0 = time.perf_counter()
        st = self._stack()
        if parent is None and st:
            parent = st[-1]
        with self._lock:
            s = Span(len(self.spans), name, parent.sid if parent else None, 0.0)
            self.spans.append(s)
        st.append(s)
        self.sc.setLocalProperty("spark.jobGroup.id", f"{GROUP_PREFIX}{s.sid}")
        self._charge(t0)
        s.start = time.time()
        return s

    def _close(self, s: Span) -> None:
        s.end = time.time()
        t0 = time.perf_counter()
        st = self._stack()
        st.pop()
        # Restore the enclosing span's group on this thread (or clear it).
        self.sc.setLocalProperty(
            "spark.jobGroup.id", f"{GROUP_PREFIX}{st[-1].sid}" if st else None
        )
        self._charge(t0)

    def _charge(self, t0: float) -> None:
        """Add the bookkeeping time since ``t0``; spans open on two threads."""
        with self._lock:
            self.instrument_s += time.perf_counter() - t0

    def children(self) -> dict[int, list[Span]]:
        out = defaultdict(list)
        for s in self.spans:
            if s.parent is not None:
                out[s.parent].append(s)
        return out

    def self_time(self, s: Span, kids: dict[int, list[Span]]) -> float:
        """Span duration minus the part of it its child spans cover."""
        return s.dur - _covered([(c.start, c.end) for c in kids.get(s.sid, [])], s.start, s.end)


class _SpanCtx:
    def __init__(self, tracer, name, parent):
        self.t, self.name, self.parent = tracer, name, parent
        self.span = None

    def __enter__(self):
        if self.t.enabled:
            self.span = self.t._open(self.name, self.parent)
        return self.span

    def __exit__(self, *exc):
        if self.span is not None:
            self.t._close(self.span)
        return False


def _covered(intervals, lo, hi) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class Shims:
    """Timing wrappers around inner public calls, installed for the traced
    run only. ``targets`` lists (module, attribute, span name[, hook]); the
    wrapper replaces the attribute on that module object, which is the name
    the calling module resolves at call time. An optional ``hook`` sees
    (and returns) each call's result."""

    def __init__(self, tracer: Tracer, targets):
        self.tracer = tracer
        self.targets = targets
        self._saved: list[tuple[object, str, object]] = []

    def __enter__(self):
        for mod, attr, name, *hook in self.targets:
            orig = getattr(mod, attr)
            self._saved.append((mod, attr, orig))
            setattr(mod, attr, self._wrap(orig, name, hook[0] if hook else None))
        return self

    def __exit__(self, *exc):
        for mod, attr, orig in reversed(self._saved):
            setattr(mod, attr, orig)
        self._saved.clear()
        return False

    def _wrap(self, fn, name, hook):
        tracer = self.tracer

        def shim(*args, **kwargs):
            with tracer.span(name):
                out = fn(*args, **kwargs)
            return hook(out) if hook else out

        shim.__wrapped__ = fn
        return shim


# -- Spark event log --------------------------------------------------------


@dataclass
class Job:
    jid: int
    group: str | None
    submit: float  # seconds
    end: float = 0.0
    stages: set = field(default_factory=set)
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_read: int = 0
    shuffle_write: int = 0
    spill: int = 0
    input_rows: int = 0


def parse_event_log(path: str) -> list[Job]:
    """Jobs with their task metrics from an uncompressed, unrolled event
    log. A task is charged to the job that most recently listed its stage
    when the stage was submitted."""
    jobs: dict[int, Job] = {}
    stage_job: dict[int, int] = {}
    pending: dict[int, int] = {}  # stage listed by a started job
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                j = Job(ev["Job ID"], props.get("spark.jobGroup.id"), ev["Submission Time"] / 1e3)
                jobs[j.jid] = j
                for sid in ev.get("Stage IDs", []):
                    pending[sid] = j.jid
            elif kind == "SparkListenerStageSubmitted":
                sid = ev["Stage Info"]["Stage ID"]
                if sid in pending:
                    stage_job[sid] = pending[sid]
                    jobs[pending[sid]].stages.add(sid)
            elif kind == "SparkListenerTaskEnd":
                jid = stage_job.get(ev["Stage ID"])
                m = ev.get("Task Metrics")
                if jid is None or not m:
                    continue
                j = jobs[jid]
                j.tasks += 1
                j.run_s += m.get("Executor Run Time", 0) / 1e3
                j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                j.gc_s += m.get("JVM GC Time", 0) / 1e3
                sr = m.get("Shuffle Read Metrics", {})
                j.shuffle_read += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                j.shuffle_write += m.get("Shuffle Write Metrics", {}).get("Shuffle Bytes Written", 0)
                j.spill += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                j.input_rows += m.get("Input Metrics", {}).get("Records Read", 0)
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
    return sorted(jobs.values(), key=lambda j: j.jid)


def span_of(job: Job) -> int | None:
    if job.group and job.group.startswith(GROUP_PREFIX):
        return int(job.group[len(GROUP_PREFIX):])
    return None


def engine_totals(jobs: list[Job], lo: float, hi: float) -> dict:
    """Spark counters over the jobs submitted in [lo, hi), plus the driver
    time: wall time in the window not covered by any running job."""
    sel = [j for j in jobs if lo <= j.submit < hi]
    busy = _covered([(j.submit, j.end or hi) for j in sel], lo, hi)
    return {
        "jobs": len(sel),
        "stages": sum(len(j.stages) for j in sel),
        "tasks": sum(j.tasks for j in sel),
        "executor_run_s": sum(j.run_s for j in sel),
        "executor_cpu_s": sum(j.cpu_s for j in sel),
        "gc_s": sum(j.gc_s for j in sel),
        "shuffle_read_bytes": sum(j.shuffle_read for j in sel),
        "shuffle_write_bytes": sum(j.shuffle_write for j in sel),
        "spill_bytes": sum(j.spill for j in sel),
        "driver_s": (hi - lo) - busy,
    }


# -- host and process counters ----------------------------------------------


def cpu_times() -> list[int]:
    """Aggregate jiffies from /proc/stat: user nice system idle iowait irq
    softirq steal."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:9]]


def _stat_fields(path: str) -> tuple[str, list[str]]:
    """(command name, the fields after it) of a /proc stat file."""
    with open(path) as fh:
        stat = fh.read()
    return stat[stat.index("(") + 1:stat.rindex(")")], stat[stat.rindex(")") + 2:].split()


def tree_cpu_s(root: int) -> float:
    """User + system CPU seconds of process ``root`` and all its live
    descendants, counting the children each has already reaped, but not the
    JIT compiler threads of a JVM among them: compiling is the JVM's own
    warm-up, which a long-running engine amortizes and a short run does not.
    Time the hypervisor steals from the vCPUs is not CPU time, so steal,
    which moves wall time most, adds nothing here directly."""
    ppid, ticks, comm = {}, {}, {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            comm[int(name)], fields = _stat_fields(f"/proc/{name}/stat")
        except OSError:  # exited while listing
            continue
        ppid[int(name)] = int(fields[1])
        ticks[int(name)] = sum(int(x) for x in fields[11:15])  # utime stime cutime cstime
    kids = defaultdict(list)
    for pid, parent in ppid.items():
        kids[parent].append(pid)
    total, todo = 0, [root]
    while todo:
        pid = todo.pop()
        total += ticks.get(pid, 0)
        todo.extend(kids[pid])
        if comm.get(pid) == "java":
            for tid in os.listdir(f"/proc/{pid}/task"):
                try:
                    thread, fields = _stat_fields(f"/proc/{pid}/task/{tid}/stat")
                except OSError:
                    continue
                if "CompilerThre" in thread:
                    total -= int(fields[11]) + int(fields[12])
    return total / os.sysconf("SC_CLK_TCK")


def host_usage(before: list[int], after: list[int]) -> dict:
    d = [a - b for a, b in zip(after, before)]
    total = sum(d) or 1
    idle = d[3] + d[4]
    return {"cpu_busy_frac": (total - idle - d[7]) / total, "steal_pct": 100.0 * d[7] / total}


class PeakRss:
    """Peak resident set of a process over a window: ``start`` resets the
    kernel's high-water mark (``clear_refs`` 5), ``stop`` reads ``VmHWM``."""

    def __init__(self, pid: int):
        self.pid = pid

    def start(self) -> None:
        with open(f"/proc/{self.pid}/clear_refs", "w") as fh:
            fh.write("5")

    def stop(self) -> float:
        """Peak RSS in MB since ``start``."""
        with open(f"/proc/{self.pid}/status") as fh:
            for line in fh:
                if line.startswith("VmHWM:"):
                    return int(line.split()[1]) / 1024.0
        raise RuntimeError(f"no VmHWM in /proc/{self.pid}/status")


def tree_stats(root: str) -> dict[str, tuple[int, int]]:
    """{relative file path: (size, mtime_ns)} for every file under root."""
    out = {}
    for dirpath, _dirs, files in os.walk(root):
        for f in files:
            p = os.path.join(dirpath, f)
            try:
                st = os.stat(p)
            except FileNotFoundError:
                continue
            out[os.path.relpath(p, root)] = (st.st_size, st.st_mtime_ns)
    return out


def tree_bytes(root: str) -> int:
    return sum(size for size, _ in tree_stats(root).values())


def written(before: dict, after: dict) -> tuple[int, int]:
    """(files, bytes) present in ``after`` that are new or changed."""
    files = [p for p, st in after.items() if before.get(p) != st]
    return len(files), sum(after[p][0] for p in files)
