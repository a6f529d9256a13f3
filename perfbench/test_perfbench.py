"""Tests for the benchmark's own code (no Spark needed).

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

import arrivals as A
import qdata
import run
import workloads
from spans import SPARK_STATS, parse_event_log, span_table, tail_percentile, union_length

HERE = os.path.dirname(os.path.abspath(__file__))


OTHER_SPEC = A.ArrivalSpec(files=5, full_files=0, rows_per_file=300, clean_per_file=2,
                           dirty_per_file=2, n_active_opcos=12, n_dirty_opcos=4)


@pytest.mark.parametrize("spec", [workloads.PZ, OTHER_SPEC])
def test_same_seed_same_arrivals(spec):
    a, b = A.generate(spec, 5), A.generate(spec, 5)
    assert [vars(x) for x in a] == [vars(x) for x in b]
    assert [x.text for x in A.generate(spec, 6)] != [x.text for x in a]


def test_same_seed_same_tables():
    a, b = qdata.build(3), qdata.build(3)
    assert all(a[t].equals(b[t]) for t in a)
    assert not qdata.build(4)["documents"].equals(a["documents"])


@pytest.mark.parametrize("seed", [0, 1, 2, 17])
@pytest.mark.parametrize("spec", [workloads.PZ, OTHER_SPEC])
def test_expectations_equal_recount(spec, seed):
    active = A.active_opcos(spec)
    arrs = A.generate(spec, seed)
    assert sum(a.file_type == "full" for a in arrs) == spec.full_files
    for a in arrs:
        got = A.recount(a.text, active)
        assert got == {
            "total": a.total,
            "valid": a.valid,
            "invalid": a.invalid,
            "invalid_opcos": a.invalid_opcos,
            "loaded_opcos": a.loaded_opcos,
            "rows_by_opco": a.rows_by_opco,
        }
        assert a.total == spec.rows_per_file
        assert len(a.loaded_opcos) == spec.clean_per_file
        assert len(a.invalid_opcos) == spec.dirty_per_file + 1  # + the inactive opco


def test_full_exports_never_reuse_an_opco():
    spec = A.ArrivalSpec(files=8, full_files=3, rows_per_file=100, clean_per_file=2,
                         dirty_per_file=1, n_active_opcos=12, n_dirty_opcos=3)
    seen: set[str] = set()
    for a in A.generate(spec, 9):
        if a.file_type == "full":
            assert not seen & set(a.loaded_opcos)
            seen |= set(a.loaded_opcos)


def test_pz_pass_is_mostly_partial_with_a_seeded_full_position():
    kinds = {tuple(a.file_type for a in A.generate(workloads.PZ, s)) for s in range(20)}
    assert kinds == {("partial", "full", "partial"), ("partial", "partial", "full")}


def test_expected_tables_follow_the_load_rules():
    mk = lambda t, rows: A.Arrival("f", "", t, 0, 0, 0, [], sorted(rows), rows)  # noqa: E731
    got = A.expected_tables([
        mk("partial", {"001": 5}),
        mk("full", {"001": 7, "002": 2}),
        mk("partial", {"001": 1, "003": 4}),
    ])
    assert got == {"ACTIVE": {"001": 6, "003": 4}, "FUTURE": {"001": 8, "002": 2}}


def test_tail_percentile_needs_ten_beyond():
    assert tail_percentile(list(range(39))) is None
    assert tail_percentile([float(i) for i in range(1, 41)]) == (75.0, 30.0)
    assert tail_percentile([float(i) for i in range(1, 101)]) == (90.0, 90.0)
    assert tail_percentile([float(i) for i in range(1, 1001)]) == (99.0, 990.0)
    assert tail_percentile([float(i) for i in range(1, 10001)]) == (99.9, 9990.0)


def test_union_length_merges_and_clips():
    assert union_length([(0, 2), (1, 3), (5, 6)], 0, 10) == 4
    assert union_length([(0, 2), (1, 3), (5, 6)], 1.5, 5.5) == 2
    assert union_length([], 0, 1) == 0


def _span(i, parent, name, start, end):
    return {"id": i, "parent": parent, "name": name, "start": start, "end": end}


def test_self_time_subtracts_union_of_children():
    spans = [
        _span(0, None, "outer", 0.0, 10.0),
        _span(1, 0, "child", 1.0, 4.0),
        _span(2, 0, "child", 3.0, 5.0),  # overlaps the first child
        _span(3, 2, "grandchild", 3.5, 4.5),
        _span(4, None, "outer", 20.0, 21.0),
    ]
    t = span_table(spans, {}, {})
    assert t["outer"]["calls"] == 2
    assert t["outer"]["wall_s"] == pytest.approx(11.0)
    assert t["outer"]["self_s"] == pytest.approx(10.0 - 4.0 + 1.0)
    assert t["child"]["wall_s"] == pytest.approx(5.0)
    assert t["child"]["self_s"] == pytest.approx(3.0 + 1.0)
    assert t["grandchild"]["self_s"] == pytest.approx(1.0)
    assert span_table(spans, {}, {}, first=3)["grandchild"]["calls"] == 1
    assert span_table(spans, {}, {}, first=1)["outer"]["calls"] == 1


def test_jobs_attribute_to_innermost_span_and_driver_time():
    spans = [_span(0, None, "op", 0.0, 10.0), _span(1, 0, "load", 2.0, 6.0)]
    groups = {"span-0": 0, "span-1": 1, "stream-run": 0}
    job = {k: 0.0 for k in SPARK_STATS}
    jobs = {
        1: {**job, "group": "span-1", "start": 2.5, "end": 3.5, "tasks": 2},
        2: {**job, "group": "span-1", "start": 3.0, "end": 4.0, "tasks": 1},
        3: {**job, "group": "stream-run", "start": 7.0, "end": 9.0, "tasks": 4},
        4: {**job, "group": None, "start": 0.0, "end": 10.0, "tasks": 8},
    }
    t = span_table(spans, groups, jobs)
    assert (t["op"]["jobs"], t["op"]["tasks"]) == (1, 4)
    assert (t["load"]["jobs"], t["load"]["tasks"]) == (2, 3)
    assert t["load"]["driver_s"] == pytest.approx(4.0 - 1.5)
    assert t["op"]["driver_s"] == pytest.approx(10.0 - 1.5 - 2.0)


def test_parse_event_log(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": 1000,
         "Stage IDs": [0, 1], "Properties": {"spark.jobGroup.id": "span-3"}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task Info": {"Failed": False, "Accumulables": [
             {"Name": "time to run Python workers", "Update": "250"}]},
         "Task Metrics": {"Executor Run Time": 400, "Executor CPU Time": 2 * 10**8,
                          "JVM GC Time": 10, "Input Metrics": {"Bytes Read": 100},
                          "Shuffle Read Metrics": {"Remote Bytes Read": 5, "Local Bytes Read": 7},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 11},
                          "Memory Bytes Spilled": 1, "Disk Bytes Spilled": 2}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Failed": True}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": 2500},
    ]
    p = tmp_path / "log"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    (job,) = parse_event_log(str(p)).values()
    assert (job["group"], job["start"], job["end"]) == ("span-3", 1.0, 2.5)
    assert (job["tasks"], job["task_failures"]) == (2, 1)
    assert job["exec_run_s"] == pytest.approx(0.4)
    assert job["exec_cpu_s"] == pytest.approx(0.2)
    assert job["py_worker_run_s"] == pytest.approx(0.25)
    assert (job["shuffle_read_bytes"], job["shuffle_write_bytes"], job["spill_bytes"]) == (12, 11, 3)


def test_descendants_finds_grandchildren_until_they_end():
    code = "import subprocess, sys; subprocess.Popen([sys.executable, '-c', 'import time; time.sleep(60)']); input()"
    child = subprocess.Popen([sys.executable, "-c", code], stdin=subprocess.PIPE)
    try:
        deadline = time.monotonic() + 30
        while len(run.descendants(os.getpid())) < 2 and time.monotonic() < deadline:
            time.sleep(0.05)
        procs = run.descendants(os.getpid())
        assert child.pid in procs and all(map(run._alive, procs))
    finally:
        for p in run.descendants(os.getpid()):
            os.kill(p, 9)
        child.wait()
    assert not any(map(run._alive, procs))


def test_benchmark_json_matches_the_code():
    with open(os.path.join(os.path.dirname(HERE), "BENCHMARK.json"), encoding="utf-8") as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(workloads.WORKLOADS)
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == run.END_TO_END
    assert [(m["name"], m["unit"]) for m in spec["per_layer"]] == run.per_layer_metrics()
    assert len(spec["per_layer"]) <= 128
