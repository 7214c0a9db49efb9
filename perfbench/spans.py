"""Spans, CPU accounting and Spark event-log metrics for the benchmark.

Spans are recorded by the benchmark around its own calls into the
engine, kept in memory, and written out at the end of a traced run.
Spark jobs are added to the same tree afterwards from the event log, as
children of the span they ran in.
"""

from __future__ import annotations

import contextlib
import json
import os
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    op: str
    sid: int

    @property
    def dur(self) -> float:
        return self.end - self.start


def covered(intervals, lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for s, e in sorted((max(s, lo), min(e, hi)) for s, e in intervals):
        if e <= cur:
            continue
        total += e - max(s, cur)
        cur = e
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span id -> duration minus the part its children cover."""
    kids: dict[int, list[tuple[float, float]]] = {}
    for s in spans:
        if s.parent is not None:
            kids.setdefault(s.parent, []).append((s.start, s.end))
    return {s.sid: s.dur - covered(kids.get(s.sid, ()), s.start, s.end)
            for s in spans}


class Tracer:
    """Records spans in memory. Timestamps are epoch seconds so that they
    line up with the JVM's job times in the event log."""

    enabled = True

    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.op = ""

    @contextlib.contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        parent = self._stack[-1] if self._stack else None
        sp = Span(name, time.time(), 0.0, parent, self.op, sid)
        self.spans.append(sp)
        self._stack.append(sid)
        try:
            yield sp
        finally:
            self._stack.pop()
            sp.end = time.time()

    def add(self, name: str, start: float, end: float, parent: int) -> None:
        self.spans.append(Span(name, start, end, parent,
                               self.spans[parent].op, len(self.spans)))

    def innermost(self, t: float, root: int) -> int:
        """The deepest recorded span under ``root`` that contains ``t``."""
        best = root
        for s in self.spans[root + 1:]:
            if s.op != self.spans[root].op:
                break
            if s.start <= t <= s.end and not s.name.startswith("spark.job"):
                best = s.sid
        return best

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(asdict(s)) + "\n")


class NullTracer:
    """Tracing off: spans cost one attribute lookup and a no-op context."""

    enabled = False
    op = ""
    _null = contextlib.nullcontext()

    def span(self, name: str):
        return self._null


# -- CPU accounting (/proc) --------------------------------------------

def machine_busy() -> int:
    """Machine-wide busy jiffies: /proc/stat total minus idle and iowait."""
    with open("/proc/stat") as f:
        vals = [int(x) for x in f.readline().split()[1:]]
    return sum(vals) - vals[3] - (vals[4] if len(vals) > 4 else 0)


def tree_cpu() -> int:
    """utime+stime jiffies of this process and every live descendant.
    The Spark JVM and its Python workers are descendants of it."""
    procs: dict[int, tuple[int, int]] = {}
    for p in os.listdir("/proc"):
        if not p.isdigit():
            continue
        try:
            with open(f"/proc/{p}/stat", "rb") as f:
                s = f.read().decode("ascii", "replace")
        except OSError:
            continue
        fields = s[s.rfind(")") + 2:].split()
        procs[int(p)] = (int(fields[1]), int(fields[11]) + int(fields[12]))
    kids: dict[int, list[int]] = {}
    for pid, (ppid, _) in procs.items():
        kids.setdefault(ppid, []).append(pid)
    total, stack = 0, [os.getpid()]
    while stack:
        pid = stack.pop()
        if pid in procs:
            total += procs[pid][1]
            stack.extend(kids.get(pid, ()))
    return total


HZ = os.sysconf("SC_CLK_TCK")
NCPU = os.cpu_count() or 1


class CpuMeter:
    """Process-tree CPU seconds and other tenants' CPU share over a window."""

    def __enter__(self):
        self.b0, self.c0 = machine_busy(), tree_cpu()
        return self

    def __exit__(self, *exc):
        ours = tree_cpu() - self.c0
        self.cpu_s = ours / HZ
        self.exo_s = max(0, (machine_busy() - self.b0) - ours) / HZ
        return False


# -- py4j round trips ---------------------------------------------------

class Py4jCounter:
    """Counts commands sent over the py4j gateway while ``active``."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.calls = 0
        self.active = False
        inner = self.client.send_command

        def send_command(*a, **kw):
            if self.active:
                self.calls += 1
            return inner(*a, **kw)
        self.client.send_command = send_command

    @contextlib.contextmanager
    def counting(self):
        self.active, start = True, self.calls
        try:
            yield
        finally:
            self.active = False
            self.last = self.calls - start


# -- Spark event log ---------------------------------------------------

@dataclass
class JobStats:
    group: str
    start: float
    end: float
    tasks: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    spill_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_read_bytes: int = 0
    input_bytes: int = 0
    scan_tasks: int = 0
    output_bytes: int = 0


def read_event_log(log_dir: str) -> list[JobStats]:
    """Per-job task totals from the (single, finished) event log."""
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)
            if not f.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log, found {logs}")
    jobs: dict[int, JobStats] = {}
    stage_job: dict[int, int] = {}
    with open(logs[0]) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jid = ev["Job ID"]
                jobs[jid] = JobStats(props.get("spark.jobGroup.id", ""),
                                     ev["Submission Time"] / 1000, 0.0)
                for sid in ev["Stage IDs"]:
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]].end = ev["Completion Time"] / 1000
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev["Stage ID"]))
                m = ev.get("Task Metrics")
                if job is None or not m:
                    continue
                job.tasks += 1
                job.run_s += m["Executor Run Time"] / 1e3
                job.cpu_s += m["Executor CPU Time"] / 1e9
                job.gc_s += m["JVM GC Time"] / 1e3
                job.spill_bytes += (m["Memory Bytes Spilled"]
                                    + m["Disk Bytes Spilled"])
                sr, sw = m["Shuffle Read Metrics"], m["Shuffle Write Metrics"]
                job.shuffle_read_bytes += (sr["Remote Bytes Read"]
                                           + sr["Local Bytes Read"])
                job.shuffle_write_bytes += sw["Shuffle Bytes Written"]
                read = m["Input Metrics"]["Bytes Read"]
                job.input_bytes += read
                job.scan_tasks += read > 0
                job.output_bytes += m["Output Metrics"]["Bytes Written"]
    return sorted(jobs.values(), key=lambda j: j.start)
