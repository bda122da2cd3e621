"""Measurement from outside the program: spans around calls, Spark's job
counters per job group, streaming progress, event-log task metrics and
the driver JVM's memory high-water mark."""

from __future__ import annotations

import json
import os
import re
import time
import uuid
from collections import defaultdict
from contextlib import contextmanager
from dataclasses import dataclass, field


@dataclass
class Span:
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str
    attrs: dict = field(default_factory=dict)

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Spans kept in memory, written once at the end of the run.

    With ``enabled=False`` a span still returns its duration (the
    untraced run times its calls too) but nothing is recorded.
    """

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str, **attrs):
        box = Span(name, time.perf_counter(), 0.0, None, self.run_id, attrs)
        if self.enabled:
            box.parent = self._stack[-1] if self._stack else None
            self.spans.append(box)
            self._stack.append(len(self.spans) - 1)
        try:
            yield box
        finally:
            box.end = time.perf_counter()
            if self.enabled:
                self._stack.pop()

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time child spans cover."""
        child = defaultdict(float)
        for s in self.spans:
            if s.parent is not None:
                child[s.parent] += s.seconds
        out: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            out[s.name] += s.seconds - child[i]
        return dict(out)

    def write(self, path: str) -> None:
        t0 = min((s.start for s in self.spans), default=0.0)
        with open(path, "w") as fh:
            for i, s in enumerate(self.spans):
                fh.write(json.dumps({
                    "id": i, "name": s.name, "parent": s.parent, "run_id": s.run_id,
                    "start_s": round(s.start - t0, 6), "end_s": round(s.end - t0, 6),
                    **s.attrs,
                }) + "\n")


@dataclass
class JobCounts:
    jobs: int = 0
    stages: int = 0
    tasks: int = 0


def job_counts(sc, group: str) -> JobCounts:
    """Jobs, stages and tasks Spark ran under one job group."""
    tracker = sc.statusTracker()
    out = JobCounts()
    stages = set()
    for job_id in tracker.getJobIdsForGroup(group):
        info = tracker.getJobInfo(job_id)
        if info is None:
            continue
        out.jobs += 1
        stages.update(info.stageIds)
    for stage_id in stages:
        info = tracker.getStageInfo(stage_id)
        if info is not None and info.numTasks:
            out.stages += 1
            out.tasks += info.numTasks
    return out


@contextmanager
def job_group(sc, group: str | None):
    """Run the body's Spark jobs under ``group`` (no-op for None)."""
    if group is None:
        yield
        return
    sc.setJobGroup(group, group)
    try:
        yield
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)


PROGRESS_GROUPS = {
    "add_batch_s": ("addBatch",),
    "commit_s": ("walCommit", "commitOffsets"),
    "plan_s": ("queryPlanning", "latestOffset", "getBatch"),
}


def progress_seconds(query) -> dict[str, float]:
    """Sum of the StreamingQueryProgress ``durationMs`` fields per group,
    plus the number of batches that read input."""
    out = {k: 0.0 for k in PROGRESS_GROUPS}
    batches = 0
    for p in query.recentProgress:
        dur = p.durationMs or {}
        for key, fields in PROGRESS_GROUPS.items():
            out[key] += sum(dur.get(f, 0) for f in fields) / 1000.0
        if p.numInputRows:
            batches += 1
    out["batches"] = batches
    return out


def plan_ms(df) -> float:
    """QueryPlanningTracker phase time (analysis + optimization +
    planning) of a DataFrame's query execution."""
    phases = df._jdf.queryExecution().tracker().phases()
    it = phases.values().iterator()
    total = 0
    while it.hasNext():
        total += it.next().durationMs()
    return float(total)


_EXCHANGE = re.compile(r"(?<!Reused)(?:Shuffle|Broadcast)?Exchange ")


def exchange_count(df) -> int:
    """Exchange operators in the executed (final adaptive) plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return len(_EXCHANGE.findall(plan))


@dataclass
class TaskTotals:
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_write_bytes: int = 0
    spill_bytes: int = 0
    jobs: list[tuple[float, float]] = field(default_factory=list)  # (submit, end) s

    @property
    def job_wall_s(self) -> float:
        """Wall time during which at least one of the group's jobs ran."""
        total, reach = 0.0, float("-inf")
        for start, end in sorted(self.jobs):
            if end > reach:
                total += end - max(start, reach)
                reach = end
        return total


def event_log_totals(log_dir: str) -> dict[str, TaskTotals]:
    """Task metrics and job intervals from the Spark event logs in
    ``log_dir``, per job group (the ``spark.jobGroup.id`` property of
    each job)."""
    totals: dict[str, TaskTotals] = defaultdict(TaskTotals)
    for name in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, name)
        if not os.path.isfile(path):
            continue
        stage_group: dict[int, str] = {}
        job_start: dict[int, tuple[str, float]] = {}
        with open(path) as fh:
            for line in fh:
                if '"SparkListenerJobStart"' in line:
                    ev = json.loads(line)
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if group:
                        job_start[ev["Job ID"]] = (group, ev["Submission Time"] / 1e3)
                        for sid in ev.get("Stage IDs", []):
                            stage_group[sid] = group
                elif '"SparkListenerJobEnd"' in line:
                    ev = json.loads(line)
                    start = job_start.pop(ev["Job ID"], None)
                    if start is not None:
                        totals[start[0]].jobs.append((start[1], ev["Completion Time"] / 1e3))
                elif '"SparkListenerTaskEnd"' in line:
                    ev = json.loads(line)
                    group = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if group is None or not m:
                        continue
                    t = totals[group]
                    t.run_s += m.get("Executor Run Time", 0) / 1e3
                    t.cpu_s += m.get("Executor CPU Time", 0) / 1e9
                    t.gc_s += m.get("JVM GC Time", 0) / 1e3
                    t.shuffle_write_bytes += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    t.spill_bytes += m.get("Memory Bytes Spilled", 0)
                    t.spill_bytes += m.get("Disk Bytes Spilled", 0)
    return dict(totals)


_TICK = os.sysconf("SC_CLK_TCK")
#: JVM threads whose CPU is warm-up, not work: the JIT compilers keep
#: compiling for minutes after start, and how much of that lands in a
#: timed pass varies from run to run (measured on large_records: about
#: 6 of 14 JVM CPU seconds of a pass, after the prime pass). The driver
#: JVM runs with ``-XX:-UseDynamicNumberOfCompilerThreads``, so these
#: threads live as long as the JVM and their time can be taken out.
JIT_THREADS = ("C1 CompilerThre", "C2 CompilerThre")


def _stat_fields(path: str) -> list[str] | None:
    """``comm`` followed by the fields after it, so that field N of
    proc(5) is at index N - 2; None if the process or thread is gone."""
    try:
        with open(path) as fh:
            text = fh.read()
    except OSError:
        return None
    return [text[text.index("(") + 1 : text.rindex(")")]] + text.rsplit(")", 1)[1].split()


def _cpu_ticks(fields: list[str], children: bool) -> int:
    """utime + stime, plus cutime + cstime (reaped children) if asked."""
    return sum(int(x) for x in fields[12 : 16 if children else 14])


def engine_cpu_s(jvm: int) -> float:
    """CPU seconds used so far by the engine: the driver JVM's process
    totals, which keep the time of its threads that have exited and of
    the children it has reaped, less its JIT compiler threads; every
    live process under the JVM (the Python workers, with their reaped
    children); and this process."""
    jvm_fields = _stat_fields(f"/proc/{jvm}/stat")
    if jvm_fields is None:
        raise RuntimeError(f"driver JVM {jvm} is gone")
    ticks = _cpu_ticks(jvm_fields, children=True)
    for tid in os.listdir(f"/proc/{jvm}/task"):
        f = _stat_fields(f"/proc/{jvm}/task/{tid}/stat")
        if f and f[0].startswith(JIT_THREADS):
            ticks -= _cpu_ticks(f, children=False)
    for pid in descendants(jvm):
        f = _stat_fields(f"/proc/{pid}/stat")
        if f:
            ticks += _cpu_ticks(f, children=True)
    own = os.times()
    return ticks / _TICK + own.user + own.system


def jvm_pid(sc) -> int:
    return sc._gateway.proc.pid


def peak_rss_mb(pid: int) -> float:
    """``VmHWM`` of a process: its resident-memory high-water mark."""
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    raise RuntimeError(f"no VmHWM for pid {pid}")


def wait_no_descendants(pids: tuple[int, ...], timeout: float) -> list[int]:
    """Wait until no process runs under any of ``pids``; returns the
    descendants still alive after ``timeout`` seconds."""
    deadline = time.monotonic() + timeout
    left = [c for p in pids for c in descendants(p)]
    while left and time.monotonic() < deadline:
        time.sleep(0.05)
        left = [c for p in pids for c in descendants(p)]
    return left


def descendants(pid: int) -> list[int]:
    """Live descendant pids of ``pid`` (from /proc)."""
    children = defaultdict(list)
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(entry))
    out, todo = [], [pid]
    while todo:
        for c in children.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out
