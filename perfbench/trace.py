"""Spans, job groups and the Spark event log for the traced run.

The benchmark records a span around every call it makes into a layer
(``session``, ``sources``, ``plans``, ``catalyst``, ``execution``,
``pipeline``). Spans live in memory and are written out once, at the
end. While a span is open its id is the Spark job group, so every job
the call fires can be tied back to it from the event log; those jobs
become ``execution`` child spans. A layer's self time is its spans'
duration minus the part their child spans cover.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from collections import defaultdict
from collections.abc import Callable, Iterator
from contextlib import contextmanager
from dataclasses import asdict, dataclass, field

LAYERS = ("session", "sources", "plans", "catalyst", "execution", "pipeline")


@dataclass
class Span:
    id: int
    name: str
    layer: str  # one of LAYERS, or "op" for an operation's root span
    start: float  # wall clock, seconds since the epoch
    end: float
    parent: int | None
    op: str | None  # operation id shared by every span of one operation
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """In-memory span recorder. ``set_group`` tags Spark jobs; it is set
    once the session exists. When ``enabled`` is false, spans cost one
    attribute check and set no job group."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.enabled = True
        self.set_group: Callable[[str | None], None] | None = None
        self._stack: list[Span] = []

    @contextmanager
    def span(self, name: str, layer: str, op: str | None = None,
             **attrs) -> Iterator[Span | None]:
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer, time.time(), 0.0,
                  parent.id if parent else None,
                  op if op is not None else (parent.op if parent else None), attrs)
        self.spans.append(sp)
        self._stack.append(sp)
        if self.set_group:
            self.set_group(f"span-{sp.id}")
        try:
            yield sp
        finally:
            self._stack.pop()
            if self.set_group:
                self.set_group(f"span-{parent.id}" if parent else None)
            # after the group call, so that the parent's time spent in it
            # stays covered by this span
            sp.end = time.time()


# --- event log ---------------------------------------------------------------


@dataclass
class StageRec:
    group: str | None
    tasks: int = 0
    run_ms: list[int] = field(default_factory=list)


@dataclass
class GroupStats:
    """What the jobs of one job group did."""

    jobs: list[tuple[int, float, float]] = field(default_factory=list)  # id, start, end
    stages: int = 0
    single_task_stages: int = 0
    tasks: int = 0
    task_run_s: float = 0.0
    task_cpu_s: float = 0.0
    gc_s: float = 0.0
    scan_bytes: int = 0
    shuffle_write_bytes: int = 0
    shuffle_fetch_wait_s: float = 0.0
    spill_bytes: int = 0
    stage_task_runs: list[list[int]] = field(default_factory=list)
    sql_roots: set[int] = field(default_factory=set)  # root SQL executions run


def read_event_log(log_dir: str) -> dict[str | None, GroupStats]:
    """Parse the uncompressed (v1 file or v2 directory) event log under
    ``log_dir`` into per-job-group statistics."""
    files = []
    for root, _, names in os.walk(log_dir):
        files += [os.path.join(root, n) for n in sorted(names)
                  if not n.startswith((".", "appstatus"))]
    stages: dict[int, StageRec] = {}
    groups: dict[str | None, GroupStats] = defaultdict(GroupStats)
    job_start: dict[int, tuple[str | None, float]] = {}
    sql_root: dict[int, int] = {}
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind.endswith("SparkListenerSQLExecutionStart"):
                    sql_root[ev["executionId"]] = ev.get("rootExecutionId", ev["executionId"])
                elif kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    grp = props.get("spark.jobGroup.id")
                    job_start[ev["Job ID"]] = (grp, ev["Submission Time"] / 1000)
                    if "spark.sql.execution.id" in props:
                        ex = int(props["spark.sql.execution.id"])
                        groups[grp].sql_roots.add(sql_root.get(ex, ex))
                elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_start:
                    grp, start = job_start[ev["Job ID"]]
                    groups[grp].jobs.append((ev["Job ID"], start, ev["Completion Time"] / 1000))
                elif kind == "SparkListenerStageSubmitted":
                    grp = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    stages[ev["Stage Info"]["Stage ID"]] = StageRec(grp)
                elif kind == "SparkListenerTaskEnd":
                    rec = stages.get(ev["Stage ID"])
                    m = ev.get("Task Metrics")
                    if rec is None or not m:
                        continue
                    g = groups[rec.group]
                    rec.tasks += 1
                    rec.run_ms.append(m["Executor Run Time"])
                    g.tasks += 1
                    g.task_run_s += m["Executor Run Time"] / 1000
                    g.task_cpu_s += m["Executor CPU Time"] / 1e9
                    g.gc_s += m["JVM GC Time"] / 1000
                    g.spill_bytes += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
                    g.scan_bytes += m["Input Metrics"]["Bytes Read"]
                    g.shuffle_write_bytes += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                    g.shuffle_fetch_wait_s += m["Shuffle Read Metrics"]["Fetch Wait Time"] / 1000
    for rec in stages.values():
        if rec.tasks:
            g = groups[rec.group]
            g.stages += 1
            g.single_task_stages += rec.tasks == 1
            g.stage_task_runs.append(rec.run_ms)
    return dict(groups)


def attach_jobs(spans: list[Span], groups: dict[str | None, GroupStats]) -> None:
    """Add one ``execution`` child span per Spark job under the span
    whose job group fired it, clipped to that span."""
    by_id = {s.id: s for s in spans}
    for grp, stats in groups.items():
        if not grp or not grp.startswith("span-"):
            continue
        parent = by_id.get(int(grp[5:]))
        if parent is None:
            continue
        parent.attrs["events"] = stats
        for job_id, start, end in stats.jobs:
            s, e = max(start, parent.start), min(end, parent.end)
            spans.append(Span(len(spans), f"job {job_id}", "execution", s, max(s, e),
                              parent.id, parent.op))


# --- analysis ----------------------------------------------------------------


def union_length(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``intervals``."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    return total + (cur_e - cur_s if cur_e is not None else 0.0)


def children_of(spans: list[Span]) -> dict[int, list[Span]]:
    out: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent is not None:
            out[s.parent].append(s)
    return out


def self_time(span: Span, kids: list[Span]) -> float:
    covered = union_length([(max(k.start, span.start), min(k.end, span.end)) for k in kids
                            if k.end > span.start and k.start < span.end])
    return max(0.0, span.dur - covered)


def coverage(span: Span, kids: list[Span]) -> float:
    """Share of ``span``'s wall time covered by its child spans."""
    return 1.0 - self_time(span, kids) / span.dur if span.dur > 0 else 1.0


def check_nesting(spans: list[Span]) -> list[str]:
    """Problems with the span tree: a child outside its parent's interval
    (beyond clock resolution) or carrying another operation id."""
    by_id = {s.id: s for s in spans}
    bad = []
    for s in spans:
        if s.parent is None:
            continue
        p = by_id[s.parent]
        if s.start < p.start - 1e-3 or s.end > p.end + 1e-3:
            bad.append(f"span {s.id} {s.name} outside parent {p.id} {p.name}")
        if p.op is not None and s.op != p.op:
            bad.append(f"span {s.id} {s.name} has op {s.op}, parent has {p.op}")
    return bad


def layer_table(spans: list[Span], passes: int) -> list[dict]:
    """Per layer, per traced pass: self time, span count and share of the
    operations' wall time."""
    kids = children_of(spans)
    op_wall = sum(s.dur for s in spans if s.layer == "op") or float("nan")
    rows = []
    for layer in LAYERS:
        mine = [s for s in spans if s.layer == layer]
        own = sum(self_time(s, kids[s.id]) for s in mine)
        in_ops = sum(self_time(s, kids[s.id]) for s in mine if s.op is not None)
        rows.append({
            "layer": layer,
            "self_s": own / (passes if layer not in ("session", "sources") else 1),
            "spans": len(mine),
            "share_of_op_wall": in_ops / op_wall,
        })
    return rows


def median_or_zero(values: list[float]) -> float:
    return statistics.median(values) if values else 0.0


def dump(path: str, spans: list[Span], extra: dict) -> None:
    rows = []
    for s in spans:
        row = asdict(s)
        ev = row["attrs"].get("events")
        if ev:  # job ids and counts; the per-task lists stay out of the file
            ev.pop("stage_task_runs")
            ev["sql_roots"] = sorted(ev["sql_roots"])
        rows.append(row)
    with open(path, "w") as fh:
        json.dump({"spans": rows, **extra}, fh)
