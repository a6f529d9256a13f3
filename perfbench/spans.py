"""Span recorder for the traced run, Spark event-log attribution, and the
statistics both runs share.

Spans are recorded from the benchmark's side of each layer boundary: the
recorder replaces a public function of a program module with a wrapper
that opens a span, and it sets a Spark job group per span so that every
job the span launches can be found in Spark's own event log afterwards.
Spans stay in memory; ``span_table`` folds them with the parsed event log
when the run ends.
"""

from __future__ import annotations

import functools
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

SPAN_STATS = ("calls", "wall_s", "self_s", "jobs", "driver_s")
SPARK_STATS = (
    "tasks",
    "task_failures",
    "exec_run_s",
    "exec_cpu_s",
    "gc_s",
    "input_bytes",
    "output_bytes",
    "shuffle_read_bytes",
    "shuffle_write_bytes",
    "spill_bytes",
    "py_worker_start_s",
    "py_worker_init_s",
    "py_worker_run_s",
)
# SQL metrics of the Arrow/pandas Python runners, by their display names
_PY_WORKER_METRICS = {
    "time to start Python workers": "py_worker_start_s",
    "time to initialize Python workers": "py_worker_init_s",
    "time to run Python workers": "py_worker_run_s",
}


class Tracer:
    """In-memory spans; ``bind`` a SparkContext to tag jobs per span."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self.groups: dict[str, int] = {}  # Spark job group id -> span id
        self._stack: list[int] = []
        self._sc = None

    def bind(self, sc) -> None:
        self._sc = sc

    def _set_group(self) -> None:
        if self._sc is None:
            return
        if self._stack:
            sid = self._stack[-1]
            self._sc.setJobGroup(f"span-{sid}", self.spans[sid]["name"])
        else:
            self._sc.setLocalProperty("spark.jobGroup.id", None)

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "parent": self._stack[-1] if self._stack else None,
            "name": name,
            "start": time.time(),
            "end": None,
        }
        self.spans.append(rec)
        self.groups[f"span-{sid}"] = sid
        self._stack.append(sid)
        self._set_group()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            self._set_group()

    def claim_group(self, group: str, rec: dict) -> None:
        """Attribute jobs run under a foreign job group (a streaming
        query's run id) to the span ``rec``."""
        self.groups[group] = rec["id"]

    def wrap(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` with a wrapper that runs it in a span."""
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)


class NullTracer(Tracer):
    """The untraced run's tracer: a span only times itself, is not kept and
    sets no job group, so both runs call the program through the same code."""

    @contextmanager
    def span(self, name: str):
        rec = {"name": name, "start": time.time(), "end": None}
        try:
            yield rec
        finally:
            rec["end"] = time.time()

    def claim_group(self, group: str, rec: dict) -> None:
        pass


def union_length(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    clipped = sorted((max(a, lo), min(b, hi)) for a, b in intervals if b > lo and a < hi)
    total, cur_a, cur_b = 0.0, None, None
    for a, b in clipped:
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def tail_percentile(values: list[float]):
    """The highest of p75/p90/p95/p99/p99.9 with at least ten samples
    beyond it, as ``(percentile, value)``; None when no such percentile
    exists (fewer than 40 samples). Nearest-rank percentiles."""
    xs = sorted(values)
    n = len(xs)
    for per_mille in (999, 990, 950, 900, 750):
        rank = -(-per_mille * n // 1000)  # ceil, in integers
        if rank >= 1 and n - rank >= 10:
            return per_mille / 10.0, xs[rank - 1]
    return None


def parse_event_log(path: str) -> dict[int, dict]:
    """Jobs from a Spark event log: ``{job_id: {group, start, end, <SPARK_STATS>}}``
    with times in epoch seconds and task metrics summed over the job's
    stages."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    with open(path, encoding="utf-8") as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                job = {k: 0.0 for k in SPARK_STATS}
                job.update(
                    group=props.get("spark.jobGroup.id"),
                    start=ev["Submission Time"] / 1000.0,
                    end=None,
                )
                jobs[ev["Job ID"]] = job
                for sid in ev.get("Stage IDs", []):
                    stage_job[sid] = ev["Job ID"]
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerTaskEnd":
                job = jobs.get(stage_job.get(ev.get("Stage ID")))
                if job is not None:
                    _add_task(job, ev)
    for job in jobs.values():
        if job["end"] is None:
            job["end"] = job["start"]
    return jobs


def _add_task(job: dict, ev: dict) -> None:
    info = ev.get("Task Info") or {}
    m = ev.get("Task Metrics") or {}
    job["tasks"] += 1
    if info.get("Failed") or info.get("Killed"):
        job["task_failures"] += 1
    job["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
    job["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
    job["gc_s"] += m.get("JVM GC Time", 0) / 1e3
    job["input_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
    job["output_bytes"] += (m.get("Output Metrics") or {}).get("Bytes Written", 0)
    sr = m.get("Shuffle Read Metrics") or {}
    job["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    job["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
        "Shuffle Bytes Written", 0
    )
    job["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
    for acc in info.get("Accumulables", []):
        stat = _PY_WORKER_METRICS.get(acc.get("Name"))
        if stat is not None:
            job[stat] += float(acc.get("Update") or 0) / 1e3  # timing metrics are ms


def find_event_log(log_dir: str) -> str:
    files = [
        os.path.join(log_dir, n)
        for n in os.listdir(log_dir)
        if not n.endswith(".inprogress") and not n.startswith(".")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]


def span_table(
    spans: list[dict], groups: dict[str, int], jobs: dict[int, dict], first: int = 0
) -> dict[str, dict]:
    """Per span name: SPAN_STATS + SPARK_STATS summed over the spans whose
    id is at least ``first``.

    ``self_s`` is a span's wall time minus the union of its children's
    intervals. Jobs and Spark counters belong to the innermost span whose
    job group launched them. ``driver_s`` is wall time minus the union of
    the intervals of jobs launched by the span or any span below it.
    """
    children: dict[int, list[int]] = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append(s["id"])
    own_jobs: dict[int, list[dict]] = defaultdict(list)
    for job in jobs.values():
        sid = groups.get(job["group"])
        if sid is not None:
            own_jobs[sid].append(job)

    def subtree_jobs(sid: int) -> list[dict]:
        out = list(own_jobs[sid])
        for c in children[sid]:
            out += subtree_jobs(c)
        return out

    table: dict[str, dict] = {}
    for s in spans[first:]:
        row = table.setdefault(s["name"], {k: 0.0 for k in SPAN_STATS + SPARK_STATS})
        lo, hi = s["start"], s["end"]
        wall = hi - lo
        kids = [(spans[c]["start"], spans[c]["end"]) for c in children[s["id"]]]
        busy = union_length([(j["start"], j["end"]) for j in subtree_jobs(s["id"])], lo, hi)
        row["calls"] += 1
        row["wall_s"] += wall
        row["self_s"] += wall - union_length(kids, lo, hi)
        row["driver_s"] += wall - busy
        for job in own_jobs[s["id"]]:
            row["jobs"] += 1
            for k in SPARK_STATS:
                row[k] += job[k]
    return table
