"""Spans around layer calls, and Spark task counters from the event log.

A span records one call into a layer from the benchmark's side: name,
parent, wall start/end. While a span is open its id is the Spark job
group, so every job the call triggers can be attributed to it afterwards
from the event log. Spans stay in memory; the event log is read once,
after the session stops and Spark has flushed it.
"""

from __future__ import annotations

import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

import procstat


@dataclass
class Span:
    id: str
    name: str
    parent: str | None
    start: float  # epoch seconds, comparable with Spark's submission times
    end: float = 0.0
    cpu_s: float = 0.0  # process-tree CPU over the span

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Records spans when enabled; otherwise every span is a no-op."""

    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = Span(f"{name}#{len(self.spans)}", name, parent.id if parent else None, time.time())
        self.spans.append(s)
        self._stack.append(s)
        sc = self.spark.sparkContext
        sc.setJobGroup(s.id, name)
        cpu0 = procstat.tree_cpu_s()
        try:
            yield s
        finally:
            s.cpu_s = procstat.tree_cpu_s() - cpu0
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                sc.setJobGroup(parent.id, parent.name)
            else:
                sc.setLocalProperty("spark.jobGroup.id", None)

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def self_seconds(self, span: Span) -> float:
        """Duration minus the part covered by direct child spans."""
        kids = [c for c in self.spans if c.parent == span.id]
        return span.seconds - sum(c.seconds for c in kids)


@dataclass
class Counters:
    jobs: int = 0
    tasks: int = 0
    retries: int = 0
    failed_tasks: int = 0
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_write: int = 0
    spill_disk: int = 0
    input_bytes: int = 0
    first_submit_ms: float | None = None


@dataclass
class EventLog:
    """What the run's Spark event log says, keyed for per-span lookups."""

    job_group: dict[int, str] = field(default_factory=dict)
    job_submit_ms: dict[int, float] = field(default_factory=dict)
    job_execution: dict[int, int] = field(default_factory=dict)
    stage_job: dict[int, int] = field(default_factory=dict)
    tasks: list[dict] = field(default_factory=list)
    #: scan accumulator id -> (execution id, scanned location)
    scan_files_acc: dict[int, tuple[int, str]] = field(default_factory=dict)
    acc_value: dict[int, int] = field(default_factory=dict)

    @classmethod
    def read(cls, directory: str) -> "EventLog":
        log = cls()
        for name in sorted(os.listdir(directory)):
            with open(os.path.join(directory, name)) as fh:
                for line in fh:
                    log._event(json.loads(line))
        return log

    def _event(self, ev: dict) -> None:
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            job = ev["Job ID"]
            props = ev.get("Properties") or {}
            self.job_group[job] = props.get("spark.jobGroup.id") or ""
            self.job_submit_ms[job] = ev.get("Submission Time", 0)
            if props.get("spark.sql.execution.id") is not None:
                self.job_execution[job] = int(props["spark.sql.execution.id"])
            for stage in ev.get("Stage IDs", []):
                self.stage_job.setdefault(stage, job)
        elif kind == "SparkListenerTaskEnd":
            self.tasks.append(ev)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            self._scan_nodes(ev["executionId"], ev["sparkPlanInfo"])
        elif kind.endswith("DriverAccumUpdates"):
            for acc, value in ev.get("accumUpdates", []):
                self.acc_value[acc] = max(self.acc_value.get(acc, 0), int(value))

    def _scan_nodes(self, execution: int, node: dict) -> None:
        if node.get("nodeName", "").startswith("Scan "):
            loc = (node.get("metadata") or {}).get("Location", "")
            for m in node.get("metrics", []):
                if m.get("name") == "number of files read":
                    self.scan_files_acc[m["accumulatorId"]] = (execution, loc)
        for child in node.get("children", []):
            self._scan_nodes(execution, child)

    def job_input_bytes(self, job: int) -> int:
        """Bytes the job's tasks read from files."""
        return sum(
            ((ev.get("Task Metrics") or {}).get("Input Metrics") or {}).get("Bytes Read", 0)
            for ev in self.tasks
            if self.stage_job.get(ev["Stage ID"]) == job
        )

    def jobs_of(self, groups: set[str]) -> list[int]:
        return sorted(j for j, g in self.job_group.items() if g in groups)

    def counters(self, groups: set[str]) -> Counters:
        c = Counters()
        jobs = set(self.jobs_of(groups))
        c.jobs = len(jobs)
        if jobs:
            c.first_submit_ms = min(self.job_submit_ms[j] for j in jobs)
        for ev in self.tasks:
            if self.stage_job.get(ev["Stage ID"]) not in jobs:
                continue
            c.tasks += 1
            info = ev.get("Task Info", {})
            if info.get("Attempt", 0) > 0 or info.get("Speculative"):
                c.retries += 1
            if (ev.get("Task End Reason") or {}).get("Reason") != "Success":
                c.failed_tasks += 1
            m = ev.get("Task Metrics") or {}
            c.run_ms += m.get("Executor Run Time", 0)
            c.cpu_ns += m.get("Executor CPU Time", 0)
            c.gc_ms += m.get("JVM GC Time", 0)
            c.spill_disk += m.get("Disk Bytes Spilled", 0)
            c.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            c.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        return c

    def scans(self, groups: set[str], location: str | None = None) -> tuple[int, int]:
        """(scans that read at least one file, files read) over the SQL
        executions the groups' jobs ran; ``location`` keeps scans whose
        file index path contains it."""
        execs = {self.job_execution[j] for j in self.jobs_of(groups) if j in self.job_execution}
        n_scans = n_files = 0
        for acc, (execution, loc) in self.scan_files_acc.items():
            if execution not in execs or (location and location not in loc):
                continue
            files = self.acc_value.get(acc, 0)
            if files > 0:
                n_scans += 1
                n_files += files
        return n_scans, n_files
