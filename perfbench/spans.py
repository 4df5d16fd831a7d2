"""Tracing from outside the engine: in-memory spans around calls into a
layer, each tagged with a Spark job group, and a fold of Spark's
uncompressed JSON event log into per-group job, stage and task totals.

A span records (name, group, start, end) in wall-clock seconds. Every
Spark job started while the span is open carries the span's group in
its `spark.jobGroup.id` property, which the event log records with the
job, so each task's metrics can be charged to the span that caused it.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

MB = float(1 << 20)


@dataclass
class Span:
    name: str
    group: str | None
    start: float
    end: float

    @property
    def seconds(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans in memory. `sc=None` records wall time only (the
    untraced runs use it so that both runs share one code path)."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []

    @contextmanager
    def span(self, name: str, tag: bool = True):
        group = None
        if self.sc is not None and tag:
            group = f"{name}#{len(self.spans)}"
            self.sc.setJobGroup(group, name)
        t0 = time.time()
        try:
            yield
        finally:
            t1 = time.time()
            if group is not None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            self.spans.append(Span(name, group, t0, t1))

    def named(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]


def wrap_calls(tracer: Tracer, module, attr: str, name: str) -> None:
    """Time every call to `module.attr` (driver-side layer functions the
    pipeline calls through their module, such as
    `components.canonical_entities_local`). No job group is set, so jobs
    stay charged to the enclosing span."""
    fn = getattr(module, attr)

    def timed(*args, **kwargs):
        with tracer.span(name, tag=False):
            return fn(*args, **kwargs)

    setattr(module, attr, timed)


@dataclass
class GroupStats:
    jobs: int = 0
    tasks: int = 0
    exec_run_s: float = 0.0
    exec_cpu_s: float = 0.0
    shuffle_write_mb: float = 0.0
    max_stage_rows: int = 0
    job_intervals: list[tuple[float, float]] = field(default_factory=list)

    @property
    def python_s(self) -> float:
        """Executor run time not spent on JVM CPU: in a mapInPandas or
        pandas-UDF stage, the time the task waits on its Python worker."""
        return self.exec_run_s - self.exec_cpu_s


def read_events(path: str):
    with open(path) as fh:
        for line in fh:
            if line.strip():
                yield json.loads(line)


def event_log_file(log_dir: str) -> str:
    files = [f for f in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(f)]
    if len(files) != 1:
        raise RuntimeError(f"expected one event log in {log_dir}, found {files}")
    return files[0]


def fold_events(events) -> dict[str, GroupStats]:
    """Per job group: jobs started, tasks ended, summed executor run and
    CPU time, shuffle bytes written, the largest per-stage row count
    (records read or shuffled), and each job's [submit, end] interval in
    seconds. Jobs with no group are filed under ''."""
    stage_group: dict[int, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    stage_rows: dict[int, int] = {}
    out: dict[str, GroupStats] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            g = props.get("spark.jobGroup.id") or ""
            jid = ev["Job ID"]
            job_group[jid] = g
            job_start[jid] = ev["Submission Time"] / 1000.0
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
            out.setdefault(g, GroupStats()).jobs += 1
        elif kind == "SparkListenerJobEnd":
            jid = ev["Job ID"]
            g = job_group.get(jid, "")
            out.setdefault(g, GroupStats()).job_intervals.append(
                (job_start.get(jid, ev["Completion Time"] / 1000.0), ev["Completion Time"] / 1000.0)
            )
        elif kind == "SparkListenerTaskEnd":
            sid = ev["Stage ID"]
            st = out.setdefault(stage_group.get(sid, ""), GroupStats())
            m = ev.get("Task Metrics") or {}
            st.tasks += 1
            st.exec_run_s += m.get("Executor Run Time", 0) / 1000.0
            st.exec_cpu_s += m.get("Executor CPU Time", 0) / 1e9
            sw = m.get("Shuffle Write Metrics") or {}
            sr = m.get("Shuffle Read Metrics") or {}
            st.shuffle_write_mb += sw.get("Shuffle Bytes Written", 0) / MB
            rows = max(
                sw.get("Shuffle Records Written", 0),
                sr.get("Total Records Read", 0),
                (m.get("Input Metrics") or {}).get("Records Read", 0),
            )
            stage_rows[sid] = stage_rows.get(sid, 0) + rows
    for sid, rows in stage_rows.items():
        st = out[stage_group.get(sid, "")]
        st.max_stage_rows = max(st.max_stage_rows, rows)
    return out


def covered_seconds(start: float, end: float, intervals) -> float:
    """Length of the part of [start, end] covered by the union of
    `intervals`."""
    clipped = sorted((max(a, start), min(b, end)) for a, b in intervals if b > start and a < end)
    covered, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                covered += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        covered += cur_b - cur_a
    return covered


def span_measures(span: Span, stats: dict[str, GroupStats]) -> dict[str, float]:
    """Every measure of one tagged span: wall, jobs, tasks, executor
    times, shuffle, rows, and `outside_jobs_s` — the span's wall time
    during which none of its jobs was running (driver planning, Python
    on the driver, scheduling gaps)."""
    st = stats.get(span.group or "", GroupStats()) if span.group else GroupStats()
    return {
        "s": span.seconds,
        "jobs": st.jobs,
        "tasks": st.tasks,
        "exec_run_s": st.exec_run_s,
        "exec_cpu_s": st.exec_cpu_s,
        "python_s": st.python_s,
        "shuffle_write_mb": st.shuffle_write_mb,
        "max_stage_rows": st.max_stage_rows,
        "outside_jobs_s": span.seconds - covered_seconds(span.start, span.end, st.job_intervals),
    }


def median_measures(spans: list[Span], stats: dict[str, GroupStats]) -> dict[str, float]:
    """Per measure, the median over several spans of one name (one per
    delta, or one per pass)."""
    per = [span_measures(s, stats) for s in spans]
    return {k: statistics.median(p[k] for p in per) for k in per[0]} if per else {}


def prefix_layers(names: list[str], totals: list[float]) -> dict[str, float]:
    """Layer costs from cumulative prefix costs: layer k is prefix k
    minus prefix k-1 (the first layer is its prefix)."""
    if len(names) != len(totals):
        raise ValueError("one total per prefix")
    prev = 0.0
    out = {}
    for n, t in zip(names, totals):
        out[n] = t - prev
        prev = t
    return out
