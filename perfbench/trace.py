"""Spans around calls into the program, and per-layer numbers from Spark's
own event log.

A :class:`Tracer` records one span per layer call (name, start, end, parent,
trace id) and gives each span its own Spark job group, so every job the call
triggers carries the span's id in the event log.  :func:`layer_stats` then
sums the task metrics of those jobs per span.  Nothing inside the program is
instrumented.
"""

from __future__ import annotations

import glob
import json
import os
import re
import statistics
import time
import uuid
from contextlib import contextmanager
from dataclasses import dataclass, field
from typing import Iterable, Iterator

NAME_RE = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")

SQL_START = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart"
SQL_END = "org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionEnd"
SQL_AQE = "org.apache.spark.sql.execution.ui.SparkListenerSQLAdaptiveExecutionUpdate"


@dataclass
class Span:
    span_id: int
    name: str
    parent: int | None
    trace_id: str
    start: float
    end: float | None = None
    #: extra job groups whose jobs belong to this span (a streaming query
    #: runs its jobs under its own run id)
    groups: list[str] = field(default_factory=list)

    @property
    def group(self) -> str:
        return f"{self.trace_id}:{self.span_id}"


class Tracer:
    """Records spans in memory; ``spark`` (optional) gets one job group per
    span, restored to the parent's on exit."""

    def __init__(self, spark=None) -> None:
        self.spark = spark
        self.trace_id = uuid.uuid4().hex[:12]
        self.spans: list[Span] = []
        self._stack: list[Span] = []

    def _set_group(self, sp: Span | None) -> None:
        if self.spark is None:
            return
        sc = self.spark.sparkContext
        if sp is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(sp.group, sp.name)

    @contextmanager
    def span(self, name: str) -> Iterator[Span]:
        parent = self._stack[-1] if self._stack else None
        sp = Span(
            len(self.spans), name, parent.span_id if parent else None,
            self.trace_id, time.time(),
        )
        self.spans.append(sp)
        self._stack.append(sp)
        self._set_group(sp)
        try:
            yield sp
        finally:
            sp.end = time.time()
            self._stack.pop()
            self._set_group(parent)


def _covered(intervals: Iterable[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
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


def self_times(spans: list[Span]) -> dict[int, float]:
    """Span duration minus the part of it that its child spans cover."""
    out = {}
    for sp in spans:
        kids = [
            (max(c.start, sp.start), min(c.end, sp.end))
            for c in spans
            if c.parent == sp.span_id and c.end > sp.start and c.start < sp.end
        ]
        out[sp.span_id] = (sp.end - sp.start) - _covered(kids)
    return out


# ---------------------------------------------------------------------------
# event log
# ---------------------------------------------------------------------------


def _open_log(path: str):
    if path.endswith(".zstd"):  # Spark 4's default event log codec
        import pyarrow as pa

        return pa.input_stream(path, compression="zstd")
    return open(path, "rb")


def read_events(log_dir: str) -> Iterator[dict]:
    """Every event of the one application logged under ``log_dir``: a
    rolling ``eventlog_v2_*/events_*`` directory or a single file, plain or
    zstd-compressed."""
    rolled = sorted(
        glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*")),
        key=lambda p: int(os.path.basename(p).split("_")[1]),
    )
    files = rolled or sorted(
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not p.endswith(".inprogress")
    )
    if not files:
        raise FileNotFoundError(f"no event log under {log_dir}")
    for p in files:
        with _open_log(p) as f:
            for line in f.read().decode("utf-8").splitlines():
                if line.strip():
                    yield json.loads(line)


@dataclass
class Execution:
    """One SQL execution: its (final adaptive) plan text and wall interval
    (ms)."""

    exec_id: int
    plan: str
    start_ms: int
    end_ms: int | None = None


@dataclass
class EventLog:
    #: (stage id, attempt) -> job group
    stage_group: dict[tuple[int, int], str | None] = field(default_factory=dict)
    #: job id -> (group, SQL execution id)
    jobs: dict[int, tuple[str | None, int | None]] = field(default_factory=dict)
    executions: dict[int, Execution] = field(default_factory=dict)
    #: one dict per finished task: stage, run/cpu/gc seconds, bytes
    tasks: list[dict] = field(default_factory=list)

    @classmethod
    def parse(cls, events: Iterable[dict]) -> "EventLog":
        log = cls()
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                eid = props.get("spark.sql.execution.id")
                log.jobs[ev["Job ID"]] = (
                    props.get("spark.jobGroup.id"),
                    int(eid) if eid not in (None, "") else None,
                )
            elif kind == "SparkListenerStageSubmitted":
                info = ev["Stage Info"]
                key = (info["Stage ID"], info["Stage Attempt ID"])
                log.stage_group[key] = (ev.get("Properties") or {}).get("spark.jobGroup.id")
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                out = m.get("Output Metrics") or {}
                log.tasks.append(
                    {
                        "stage": (ev["Stage ID"], ev["Stage Attempt ID"]),
                        "run_s": m.get("Executor Run Time", 0) / 1e3,
                        "cpu_s": m.get("Executor CPU Time", 0) / 1e9,
                        "gc_s": m.get("JVM GC Time", 0) / 1e3,
                        "shuffle_write_b": sw.get("Shuffle Bytes Written", 0),
                        "spill_b": m.get("Disk Bytes Spilled", 0),
                        "written_b": out.get("Bytes Written", 0),
                    }
                )
            elif kind == SQL_START:
                log.executions[ev["executionId"]] = Execution(
                    ev["executionId"], ev.get("physicalPlanDescription", ""), ev["time"]
                )
            elif kind == SQL_AQE and ev["executionId"] in log.executions:
                # adaptive execution re-plans as it runs: keep the final plan
                log.executions[ev["executionId"]].plan = ev.get("physicalPlanDescription", "")
            elif kind == SQL_END and ev["executionId"] in log.executions:
                log.executions[ev["executionId"]].end_ms = ev["time"]
        return log

    def group_jobs(self, groups: set[str]) -> list[int]:
        return [j for j, (g, _) in self.jobs.items() if g in groups]

    def group_execs(self, groups: set[str]) -> list[Execution]:
        ids = sorted({e for g, e in self.jobs.values() if g in groups and e is not None})
        return [self.executions[i] for i in ids if i in self.executions]

    def group_tasks(self, groups: set[str]) -> list[dict]:
        return [t for t in self.tasks if self.stage_group.get(t["stage"]) in groups]


def task_totals(tasks: list[dict]) -> dict[str, float]:
    """Summed task metrics plus the skew of the largest stage: max over
    median task time among that stage's tasks."""
    by_stage: dict[tuple[int, int], list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["run_s"])
    skew = 1.0
    if by_stage:
        biggest = max(by_stage.values(), key=sum)
        med = statistics.median(biggest)
        skew = max(biggest) / med if med > 0 else 1.0
    return {
        "task_s": sum(t["run_s"] for t in tasks),
        "cpu_s": sum(t["cpu_s"] for t in tasks),
        "gc_s": sum(t["gc_s"] for t in tasks),
        "shuffle_write_mb": sum(t["shuffle_write_b"] for t in tasks) / 1e6,
        "spill_mb": sum(t["spill_b"] for t in tasks) / 1e6,
        "written_mb": sum(t["written_b"] for t in tasks) / 1e6,
        "task_skew": skew,
    }


def layer_stats(
    tracer: Tracer, log: EventLog, cores: int
) -> dict[str, dict[str, float]]:
    """Per span name: self time plus the task metrics of every job run
    under the span's job groups.  A span with no jobs is an error: a layer
    that did no Spark work was not measured."""
    selfs = self_times(tracer.spans)
    out: dict[str, dict[str, float]] = {}
    for sp in tracer.spans:
        groups = {sp.group, *sp.groups}
        tasks = log.group_tasks(groups)
        if not tasks:
            raise ValueError(f"span {sp.name!r}: no Spark tasks in the event log")
        st = task_totals(tasks)
        st["self_s"] = selfs[sp.span_id]
        st["core_util"] = st["task_s"] / (st["self_s"] * cores)
        st["jobs"] = float(len(log.group_jobs(groups)))
        out[sp.name] = st
    return out


def count_plan_nodes(plan: str, node: str) -> int:
    """Operator count in the tree part of a physical plan description; of
    an adaptive plan, only its final plan (the tree also prints the
    initial one)."""
    tree = plan.split("\n\n")[0].split("== Initial Plan ==")[0]
    return len(re.findall(rf"(?m)^[\s:+\-*|]*{re.escape(node)}\b", tree))
