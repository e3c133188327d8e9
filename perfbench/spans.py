"""Spans around the benchmark's calls into the library, and the Spark event
log parsed into per-span counters.

A span records name, start, end, parent and op id. Spans are always kept in
memory (that costs a list append); a *traced* tracer additionally tags every
Spark job a span runs with the job group ``span-<id>`` and drains the Python
UDF profiler at each span boundary. After the session stops, the event log
is parsed into jobs, and each job is charged to the span whose group it
carries. A span's ``driver_s`` is its self time minus the part of it covered
by its own jobs, so for every op tree ``sum(job_s + driver_s) == wall``.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

GROUP_PREFIX = "span-"

# summed over a job's tasks, then over a span's jobs
TASK_SUMS = (
    "tasks", "executor_run_s", "executor_cpu_s", "gc_s", "input_mb", "input_rows",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "result_mb",
    "python_mb_sent", "python_mb_returned",
)
COUNTERS = ("jobs", "stages") + TASK_SUMS


@dataclass
class Span:
    id: int
    name: str
    parent: int | None
    op: int | None
    phase: str
    t0: float
    t1: float = 0.0
    python_udf_s: float = 0.0
    counters: dict = field(default_factory=dict)
    job_intervals: list = field(default_factory=list)

    @property
    def wall_s(self) -> float:
        return self.t1 - self.t0


class Tracer:
    """Records spans; with ``spark`` given it also tags jobs and profiles."""

    def __init__(self, spark=None):
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.traced = spark is not None
        self._spark = spark
        self.op: int | None = None
        self.phase = "setup"
        self.own_s = 0.0  # time spent in the tracing extras themselves

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(len(self.spans), name, parent.id if parent else None, self.op,
                 self.phase, 0.0)
        self.spans.append(s)
        if self.traced:
            c0 = time.perf_counter()
            udf = self._drain_profile()
            if parent is not None:
                parent.python_udf_s += udf
            self._tag(s)
            self.own_s += time.perf_counter() - c0
        self._stack.append(s)
        s.t0 = time.time()
        try:
            yield s
        finally:
            s.t1 = time.time()
            self._stack.pop()
            if self.traced:
                c0 = time.perf_counter()
                s.python_udf_s += self._drain_profile()
                self._tag(parent)
                self.own_s += time.perf_counter() - c0

    def _tag(self, s: Span | None) -> None:
        sc = self._spark.sparkContext
        if s is None:
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
        else:
            sc.setJobGroup(f"{GROUP_PREFIX}{s.id}", s.name)

    def _drain_profile(self) -> float:
        """Python UDF seconds profiled since the last drain, then clear.
        ``spark.profile`` only shows, dumps or renders; the totals come from
        its collector's per-UDF ``pstats`` (Spark 4.1)."""
        prof = self._spark.profile
        results = prof.profiler_collector._perf_profile_results
        if not results:
            return 0.0
        prof.clear(type="perf")
        return float(sum(st.total_tt for st in results.values()))

    def roots(self, phase: str | None = None) -> list[Span]:
        return [s for s in self.spans
                if s.parent is None and (phase is None or s.phase == phase)]

    def children(self) -> dict[int, list[Span]]:
        out: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                out.setdefault(s.parent, []).append(s)
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps({
                    "id": s.id, "name": s.name, "parent": s.parent, "op": s.op,
                    "phase": s.phase, "t0": s.t0, "t1": s.t1,
                    "python_udf_s": s.python_udf_s, **s.counters,
                }) + "\n")


# --- interval arithmetic ------------------------------------------------------


def merge(intervals) -> list[tuple[float, float]]:
    """Union of intervals as a sorted list of disjoint intervals."""
    out: list[tuple[float, float]] = []
    for a, b in sorted((a, b) for a, b in intervals if b > a):
        if out and a <= out[-1][1]:
            out[-1] = (out[-1][0], max(out[-1][1], b))
        else:
            out.append((a, b))
    return out


def length(intervals) -> float:
    return sum(b - a for a, b in merge(intervals))


def subtract(base: tuple[float, float], holes) -> list[tuple[float, float]]:
    """``base`` minus the union of ``holes``."""
    lo, hi = base
    out, cur = [], lo
    for a, b in merge(holes):
        if b <= cur or a >= hi:
            continue
        if a > cur:
            out.append((cur, a))
        cur = max(cur, b)
    if cur < hi:
        out.append((cur, hi))
    return out


def overlap(xs, ys) -> float:
    """Length of the intersection of two interval unions."""
    xs, ys = merge(xs), merge(ys)
    i = j = 0
    total = 0.0
    while i < len(xs) and j < len(ys):
        a = max(xs[i][0], ys[j][0])
        b = min(xs[i][1], ys[j][1])
        if b > a:
            total += b - a
        if xs[i][1] < ys[j][1]:
            i += 1
        else:
            j += 1
    return total


def self_intervals(s: Span, kids: list[Span]) -> list[tuple[float, float]]:
    return subtract((s.t0, s.t1), [(k.t0, k.t1) for k in kids])


def self_time(s: Span, kids: list[Span]) -> float:
    return length(self_intervals(s, kids))


def driver_s(s: Span, kids: list[Span]) -> float:
    """Self time not covered by the span's own Spark jobs: planning, driver
    collects and Python on the driver, and scheduling gaps between jobs."""
    own = self_intervals(s, kids)
    return length(own) - overlap(own, s.job_intervals)


# --- event log ----------------------------------------------------------------


def _acc(task_info: dict, name: str) -> int:
    for a in task_info.get("Accumulables") or ():
        if a.get("Name") == name:
            try:
                return int(a.get("Update") or 0)
            except (TypeError, ValueError):
                return 0
    return 0


def parse_event_log(paths) -> dict[int, dict]:
    """Jobs of one application: ``{job_id: {group, start, end, stages,
    <TASK_SUMS>}}``, times in epoch seconds. Tasks are charged to the first
    job that lists their stage (later jobs list it again when they skip it)."""
    mb = 1024.0 * 1024.0
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    jid = e["Job ID"]
                    props = e.get("Properties") or {}
                    jobs[jid] = {
                        "group": props.get("spark.jobGroup.id"),
                        "start": e["Submission Time"] / 1000.0,
                        "end": None,
                        "stage_ids": set(),
                        **{c: 0.0 for c in TASK_SUMS},
                    }
                    for sid in e.get("Stage IDs") or ():
                        stage_job.setdefault(sid, jid)
                elif kind == "SparkListenerJobEnd":
                    if e["Job ID"] in jobs:
                        jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    job = jobs.get(stage_job.get(e.get("Stage ID"), -1))
                    if job is None:
                        continue
                    job["stage_ids"].add(e["Stage ID"])
                    job["tasks"] += 1
                    m = e.get("Task Metrics") or {}
                    info = e.get("Task Info") or {}
                    inp = m.get("Input Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    sr = m.get("Shuffle Read Metrics") or {}
                    job["executor_run_s"] += m.get("Executor Run Time", 0) / 1000.0
                    job["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    job["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                    job["input_mb"] += inp.get("Bytes Read", 0) / mb
                    job["input_rows"] += inp.get("Records Read", 0)
                    job["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / mb
                    job["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / mb
                    job["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / mb
                    job["result_mb"] += m.get("Result Size", 0) / mb
                    job["python_mb_sent"] += _acc(info, "data sent to Python workers") / mb
                    job["python_mb_returned"] += (
                        _acc(info, "data returned from Python workers") / mb
                    )
    return jobs


def event_log_files(log_dir: str) -> list[str]:
    """Event files of the (single) application logged under ``log_dir``, in
    order; handles both the plain and the rolling (``eventlog_v2_*``) layout."""
    rolled = glob.glob(os.path.join(log_dir, "eventlog_v2_*", "events_*"))
    if rolled:
        return sorted(rolled, key=lambda p: int(os.path.basename(p).split("_")[1]))
    return sorted(p for p in glob.glob(os.path.join(log_dir, "*")) if os.path.isfile(p))


def attribute(tracer: Tracer, jobs: dict[int, dict]) -> int:
    """Charge every tagged job to its span; returns the number of jobs that
    carry no span's group (run outside any span)."""
    by_id = {f"{GROUP_PREFIX}{s.id}": s for s in tracer.spans}
    for s in tracer.spans:
        s.counters = {c: 0.0 for c in COUNTERS}
        s.job_intervals = []
    untagged = 0
    for job in jobs.values():
        s = by_id.get(job["group"])
        if s is None:
            untagged += 1
            continue
        s.counters["jobs"] += 1
        s.counters["stages"] += len(job["stage_ids"])
        for c in TASK_SUMS:
            s.counters[c] += job[c]
        s.job_intervals.append((job["start"], job["end"] or s.t1))
    kids = tracer.children()
    for s in tracer.spans:
        s.counters["driver_s"] = driver_s(s, kids.get(s.id, []))
        s.counters["self_s"] = self_time(s, kids.get(s.id, []))
    return untagged
