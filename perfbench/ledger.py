"""Span recorder and Spark event-log ledger.

The benchmark records a span around each call it makes into a layer of
the engine and tags the Spark jobs of that call with a job group named
after the span. After the run, the uncompressed event log is read back
and every task is attributed to its span through job -> stage -> task.

A span is ``{id, name, start, end, parent, run}``; times are epoch
seconds, the clock Spark stamps its events with.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from dataclasses import dataclass, field


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float | None = None
    parent: int | None = None
    run: str = ""
    attrs: dict = field(default_factory=dict)

    @property
    def wall(self) -> float:
        return (self.end or self.start) - self.start


class Tracer:
    """In-memory span store. When disabled, ``span`` is a no-op that
    sets no job group, so untraced runs execute exactly the engine
    calls and nothing else."""

    def __init__(self, enabled: bool, run_id: str, spark=None):
        self.enabled = enabled
        self.run_id = run_id
        self.spark = spark
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextlib.contextmanager
    def span(self, name: str, group: bool = True):
        """Record ``name`` around the body. With ``group`` the body's
        Spark jobs carry the span id as their job group."""
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, time.time(),
                 parent=parent.id if parent else None, run=self.run_id)
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext if (group and self.spark is not None) else None
        if sc is not None:
            sc.setJobGroup(self.group_id(s), name)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if sc is not None:
                if parent is not None:
                    sc.setJobGroup(self.group_id(parent), parent.name)
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)

    @property
    def current(self) -> Span | None:
        return self._stack[-1] if self._stack else None

    def add(self, name: str, start: float, end: float, parent: Span | None = None,
            **attrs) -> Span:
        """Record a span measured elsewhere (a micro-batch, a fetch)."""
        s = Span(len(self.spans), name, start, end,
                 parent=parent.id if parent else None, run=self.run_id, attrs=attrs)
        self.spans.append(s)
        return s

    def group_id(self, s: Span) -> str:
        return f"{self.run_id}:{s.id}"

    def children(self, s: Span) -> list[Span]:
        return [c for c in self.spans if c.parent == s.id]

    def self_s(self, s: Span) -> float:
        """Span wall minus the part its child spans cover."""
        return s.wall - _union([(c.start, c.end) for c in self.children(s)])

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s.__dict__, sort_keys=True) + "\n")


def _union(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


@dataclass
class Job:
    id: int
    group: str | None
    props: dict
    stages: list[int]
    start: float
    end: float | None = None


@dataclass
class Task:
    stage: int
    wall_s: float
    cpu_s: float
    gc_s: float
    shuffle_write_bytes: int
    shuffle_records: int
    spill_bytes: int
    output_bytes: int


@dataclass
class EventLog:
    jobs: dict[int, Job] = field(default_factory=dict)
    tasks: list[Task] = field(default_factory=list)
    stage_tasks: dict[int, int] = field(default_factory=dict)  # completed stage -> numTasks

    def ledger(self, jobs: list[Job], wall: float, cores: int) -> dict:
        """Counters for one set of jobs (one span or one micro-batch)."""
        stage_ids = set()
        for j in jobs:
            stage_ids.update(j.stages)
        tasks = [t for t in self.tasks if t.stage in stage_ids]
        task_s = sum(t.wall_s for t in tasks)
        cpu_s = sum(t.cpu_s for t in tasks)
        gc_s = sum(t.gc_s for t in tasks)
        walls = sorted(t.wall_s for t in tasks)
        med = statistics.median(walls) if walls else 0.0
        job_iv = [(j.start, j.end) for j in jobs if j.end is not None]
        return {
            "jobs": len(jobs),
            "stages": sum(1 for s in stage_ids if s in self.stage_tasks),
            "tasks": len(tasks),
            "task_s": task_s,
            "cpu_s": cpu_s,
            "gc_s": gc_s,
            "offcpu_s": task_s - cpu_s - gc_s,
            "shuffle_write_bytes": sum(t.shuffle_write_bytes for t in tasks),
            "shuffle_records": sum(t.shuffle_records for t in tasks),
            "spill_bytes": sum(t.spill_bytes for t in tasks),
            "output_bytes": sum(t.output_bytes for t in tasks),
            "utilization": task_s / (cores * wall) if wall > 0 else 0.0,
            "task_skew": walls[-1] / med if med > 0 else 0.0,
            "driver_s": max(wall - _union(job_iv), 0.0),
        }


def read_event_log(path: str) -> EventLog:
    """Parse an uncompressed, non-rolling Spark event log. Stage ids of
    a job come from its JobStart; a stage shared by several jobs is
    credited to the first."""
    log = EventLog()
    owner: dict[int, int] = {}
    with open(path) as f:
        for line in f:
            if not line.endswith("\n"):
                break  # partial last line of an in-progress log
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = Job(ev["Job ID"], props.get("spark.jobGroup.id"), props,
                          ev.get("Stage IDs", []), ev["Submission Time"] / 1000.0)
                log.jobs[job.id] = job
                for s in job.stages:
                    owner.setdefault(s, job.id)
            elif kind == "SparkListenerJobEnd":
                job = log.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                log.stage_tasks[info["Stage ID"]] = info["Number of Tasks"]
            elif kind == "SparkListenerTaskEnd":
                info, m = ev["Task Info"], ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                out = m.get("Output Metrics") or {}
                log.tasks.append(Task(
                    stage=ev["Stage ID"],
                    wall_s=(info["Finish Time"] - info["Launch Time"]) / 1000.0,
                    cpu_s=(m.get("Executor CPU Time", 0)
                           + m.get("Executor Deserialize CPU Time", 0)) / 1e9,
                    gc_s=m.get("JVM GC Time", 0) / 1000.0,
                    shuffle_write_bytes=sw.get("Shuffle Bytes Written", 0),
                    shuffle_records=sw.get("Shuffle Records Written", 0),
                    spill_bytes=m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0),
                    output_bytes=out.get("Bytes Written", 0),
                ))
    # keep each stage on exactly one job, so a shared stage is not
    # counted twice
    for job in log.jobs.values():
        job.stages = [s for s in job.stages if owner.get(s) == job.id]
    return log


def find_event_log(log_dir: str) -> str:
    """The single application log in ``log_dir`` (finished or in
    progress)."""
    names = [n for n in os.listdir(log_dir) if not n.startswith(".")]
    if len(names) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {names}")
    return os.path.join(log_dir, names[0])


def wait_for_jobs(log_dir: str, job_ids: set[int], timeout: float = 30.0) -> EventLog:
    """Re-read the in-progress log until it holds the end of every job
    in ``job_ids`` (the listener bus writes asynchronously)."""
    deadline = time.monotonic() + timeout
    while True:
        log = read_event_log(find_event_log(log_dir))
        if all(j in log.jobs and log.jobs[j].end is not None for j in job_ids):
            return log
        if time.monotonic() > deadline:
            raise TimeoutError(f"event log lacks job ends for {sorted(job_ids)}")
        time.sleep(0.1)
