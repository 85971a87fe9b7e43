"""Spans around the benchmark's calls into the library, and their Spark cost.

Every run records spans: name, layer, start, end and parent. The spans give
the end-to-end metrics their timings, so they are always on; they are kept in
memory and cost a few microseconds each.

A traced run (``--trace 1``) adds Spark attribution. Each span that wraps a
library call tags the jobs it starts (``SparkContext.addJobTag``) and, when
it ends, reads its job, stage, task and failed-task counts from the status
tracker. After the session stops, the Spark event log gives per-job executor
run, CPU and GC time, shuffle, spill and output bytes, and each job's wall
interval; a job is charged to the span whose tag it carries, or else to the
innermost call span open when it was submitted. Driver-only time is a call's
self time minus the part of it that its jobs cover.
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import time
from contextlib import contextmanager
from dataclasses import dataclass, field

# layers that are benchmark work, not library work; their time is taken out
# of the timed phase
BENCH_LAYERS = ("gen", "check")
TAG_PREFIX = "perfbench-"


def median(xs: list[float]) -> float:
    return statistics.median(xs) if xs else 0.0


def tail_percentile(xs: list[float], min_beyond: int = 10) -> tuple[float, float] | None:
    """The highest of p50/p90/p99/p99.9 that has at least *min_beyond*
    samples above it, as (percentile, value); None below 2 * min_beyond
    samples."""
    n = len(xs)
    best = None
    for p in (50.0, 90.0, 99.0, 99.9):
        if n * (1 - p / 100) + 1e-9 < min_beyond:
            break
        s = sorted(xs)
        # nearest-rank: the value at or below which p % of the samples lie
        best = (p, s[max(0, -(-int(p * n) // 100) - 1)])
    return best


@dataclass
class Span:
    sid: int
    name: str
    layer: str | None  # None for structure spans (phase, cycle, round)
    parent: int | None
    start: float  # wall clock, s
    end: float = 0.0
    dur: float = 0.0  # perf_counter difference
    attrs: dict = field(default_factory=dict)


class Spans:
    def __init__(self, sc=None):
        """*sc*: a SparkContext to tag jobs with (traced runs), else None."""
        self.spans: list[Span] = []
        self._stack: list[int] = []
        self.sc = sc
        self.hook_s = 0.0  # time spent tagging and counting jobs

    @contextmanager
    def span(self, name: str, layer: str | None = None):
        parent = self._stack[-1] if self._stack else None
        sp = Span(len(self.spans), name, layer, parent, time.time())
        self.spans.append(sp)
        self._stack.append(sp.sid)
        tag = f"{TAG_PREFIX}{sp.sid}"
        traced = self.sc is not None and layer is not None
        if traced:
            h0 = time.perf_counter()
            self.sc.addJobTag(tag)
            self.hook_s += time.perf_counter() - h0
        t0 = time.perf_counter()
        try:
            yield sp
        finally:
            sp.dur = time.perf_counter() - t0
            sp.end = time.time()
            self._stack.pop()
            if traced:
                h0 = time.perf_counter()
                self.sc.removeJobTag(tag)
                self._count_jobs(sp, tag)
                self.hook_s += time.perf_counter() - h0

    def _count_jobs(self, sp: Span, tag: str) -> None:
        tracker = self.sc.statusTracker()
        jobs = list(self.sc._jsc.sc().statusTracker().getJobIdsForTag(tag))
        stages = tasks = failed = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            for s in info.stageIds if info else []:
                st = tracker.getStageInfo(s)
                if st is not None:
                    stages += 1
                    tasks += st.numTasks
                    failed += st.numFailedTasks
        sp.attrs.update(jobs=len(jobs), stages=stages, tasks=tasks, failed_tasks=failed)

    # ------------------------------------------------------------- queries
    def inside(self, s: Span, outer: Span) -> bool:
        p = s.parent
        while p is not None:
            if p == outer.sid:
                return True
            p = self.spans[p].parent
        return False

    def paused(self, phase: Span) -> float:
        """Seconds of benchmark work (generation, checks) inside *phase*."""
        return sum(s.dur for s in self.spans if s.layer in BENCH_LAYERS and self.inside(s, phase)
                   and (s.parent is None or self.spans[s.parent].layer not in BENCH_LAYERS))

    def self_time(self, s: Span) -> float:
        return s.dur - sum(c.dur for c in self.spans if c.parent == s.sid)

    def dump(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s.__dict__) + "\n")


# ------------------------------------------------------------- event log
@dataclass
class JobCost:
    job: int
    start: float
    end: float
    tags: list
    tasks: int = 0
    failed: int = 0
    run_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    shuffle_mb: float = 0.0
    spill_mb: float = 0.0
    out_mb: float = 0.0


def read_event_log(log_dir: str) -> list[JobCost]:
    """Per-job costs from the (uncompressed) Spark event log under *log_dir*."""
    files = sorted(glob.glob(os.path.join(log_dir, "*", "events_*")) +
                   glob.glob(os.path.join(log_dir, "local-*")))
    jobs: dict[int, JobCost] = {}
    stage_job: dict[int, int] = {}
    tasks: list[dict] = []
    for path in files:
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    tags = (ev.get("Properties") or {}).get("spark.job.tags", "")
                    j = JobCost(ev["Job ID"], ev["Submission Time"] / 1e3, 0.0,
                                [t for t in tags.split(",") if t.startswith(TAG_PREFIX)])
                    jobs[j.job] = j
                    for s in ev["Stage IDs"]:
                        stage_job[s] = j.job
                elif kind == "SparkListenerJobEnd":
                    if ev["Job ID"] in jobs:
                        jobs[ev["Job ID"]].end = ev["Completion Time"] / 1e3
                elif kind == "SparkListenerTaskEnd":
                    tasks.append(ev)
    for ev in tasks:
        j = jobs.get(stage_job.get(ev["Stage ID"], -1))
        if j is None:
            continue
        m = ev.get("Task Metrics") or {}
        j.tasks += 1
        j.failed += bool(ev["Task Info"].get("Failed"))
        j.run_s += m.get("Executor Run Time", 0) / 1e3
        j.cpu_s += m.get("Executor CPU Time", 0) / 1e9
        j.gc_s += m.get("JVM GC Time", 0) / 1e3
        rd = m.get("Shuffle Read Metrics") or {}
        wr = m.get("Shuffle Write Metrics") or {}
        j.shuffle_mb += (rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
                         + wr.get("Shuffle Bytes Written", 0)) / 1e6
        j.spill_mb += (m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)) / 1e6
        j.out_mb += (m.get("Output Metrics") or {}).get("Bytes Written", 0) / 1e6
    return sorted(jobs.values(), key=lambda j: j.job)


def attribute(spans: Spans, jobs: list[JobCost]) -> dict[int, list[JobCost]]:
    """Charge each job to a call span: by tag (innermost), else by time."""
    calls = [s for s in spans.spans if s.layer is not None]
    out: dict[int, list[JobCost]] = {}
    for j in jobs:
        sid = None
        if j.tags:
            sid = max(int(t[len(TAG_PREFIX):]) for t in j.tags)
        else:
            open_at = [s for s in calls if s.start <= j.start <= s.end]
            if open_at:
                sid = max(s.sid for s in open_at)
        if sid is not None:
            out.setdefault(sid, []).append(j)
    return out


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    tot, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            tot += b - a
            cur = b
    return tot


def layer_table(spans: Spans, charged: dict[int, list[JobCost]], phase: Span) -> list[dict]:
    """Per-layer rollup of the call spans inside *phase*: self time, jobs,
    tasks, executor time, bytes, and driver-only time."""
    rows: dict[str, dict] = {}
    for s in spans.spans:
        if s.layer is None or not spans.inside(s, phase):
            continue
        r = rows.setdefault(s.layer, dict(layer=s.layer, calls=0, self_s=0.0, jobs=0, tasks=0,
                                          failed_tasks=0, run_s=0.0, cpu_s=0.0, gc_s=0.0,
                                          shuffle_mb=0.0, spill_mb=0.0, out_mb=0.0,
                                          driver_only_s=0.0))
        own = charged.get(s.sid, [])
        self_s = spans.self_time(s)
        r["calls"] += 1
        r["self_s"] += self_s
        r["jobs"] += len(own)
        for j in own:
            for k in ("tasks", "run_s", "cpu_s", "gc_s", "shuffle_mb", "spill_mb", "out_mb"):
                r[k] += getattr(j, k)
            r["failed_tasks"] += j.failed
        cov = _covered([(j.start, j.end or s.end) for j in own], s.start, s.end)
        r["driver_only_s"] += max(0.0, self_s - cov)
    return sorted(rows.values(), key=lambda r: -r["self_s"])


def render(workload: str, phase_name: str, phase: Span, rows: list[dict], gap: float,
           overhead: float, overhead_basis: str) -> str:
    cols = ["layer", "calls", "self_s", "share", "jobs", "tasks", "failed_tasks", "run_s",
            "cpu_s", "gc_s", "shuffle_mb", "spill_mb", "out_mb", "driver_only_s"]
    lines = [f"### {workload}: {phase_name} (wall {phase.dur:.3f} s)", "",
             "| " + " | ".join(cols) + " |", "|" + "---|" * len(cols)]
    for r in rows + [dict(layer="(untraced gap)", calls=0, self_s=gap)]:
        r = dict(r, share=r["self_s"] / phase.dur if phase.dur else 0.0)
        lines.append("| " + " | ".join(
            f"{r[c]:.3f}" if isinstance(r.get(c), float) else str(r.get(c, "")) for c in cols) + " |")
    total = sum(r["self_s"] for r in rows) + gap
    lines += ["", f"self times + gap = {total:.3f} s of {phase.dur:.3f} s wall; "
              f"tracing overhead {overhead:.4f} ({overhead_basis})", ""]
    return "\n".join(lines)
