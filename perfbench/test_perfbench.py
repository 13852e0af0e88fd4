"""Tests of the benchmark's own arithmetic and output (no Spark needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import math
import os
import re

import pandas as pd
import pytest

from perfbench.gen import PagePool, catalogue_pages, write_tables
from perfbench.metrics import END_TO_END, PER_LAYER, benchmark_json, report
from perfbench.trace import (
    GroupStats,
    Span,
    covered_within,
    gap_split,
    read_event_log,
    self_times,
    tail_percentile,
    union_length,
)
from perfbench.workloads import Result, eventlog_layers, normalized_rows

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


# --- tail percentile: the highest percentile with >= 10 samples beyond it ---


@pytest.mark.parametrize("n, pct", [(11, 9), (20, 50), (24, 58), (100, 90), (1000, 99)])
def test_tail_percentile_leaves_ten_samples_beyond(n, pct):
    xs = [float(i) for i in range(n)]
    p, v = tail_percentile(xs[::-1])  # input order does not matter
    assert p == pct
    assert sum(x > v for x in xs) >= 10
    # one percentile higher would leave fewer than ten beyond
    if p < 99:
        assert n - math.ceil((p + 1) * n / 100) < 10


def test_tail_percentile_needs_eleven_samples():
    assert tail_percentile([1.0] * 10) is None
    assert tail_percentile([]) is None


# --- span arithmetic ---


def test_union_and_cover():
    assert union_length([(0, 2), (1, 3), (5, 6)]) == 4
    assert union_length([]) == 0
    assert covered_within(1, 5, [(0, 2), (4, 9)]) == 2


def test_self_time_is_duration_minus_children_cover():
    spans = [
        Span(0, "root", 0.0, 10.0),
        Span(1, "a", 1.0, 3.0, parent=0),
        Span(2, "b", 2.0, 5.0, parent=0),  # overlaps a: counted once
        Span(3, "c", 7.0, 8.0, parent=0),
        Span(4, "a.1", 1.5, 2.5, parent=1),
    ]
    st = self_times(spans)
    assert st[0] == pytest.approx(10 - 4 - 1)
    assert st[1] == pytest.approx(1.0)
    assert st[2] == pytest.approx(3.0) and st[3] == pytest.approx(1.0)
    assert st[4] == pytest.approx(1.0)


def test_nested_self_times_sum_to_root_wall():
    spans = [
        Span(0, "workload", 0.0, 20.0),
        Span(1, "round", 2.0, 12.0, parent=0),
        Span(2, "q", 2.0, 6.0, parent=1),
        Span(3, "q", 6.5, 12.0, parent=1),
        Span(4, "build", 2.0, 3.0, parent=2),
    ]
    assert sum(self_times(spans).values()) == pytest.approx(20.0)


def test_gap_split_accounts_for_the_span():
    sp = Span(0, "q", 100.0, 101.0)
    st = GroupStats(job_intervals=[(100.1, 100.4), (100.3, 100.5), (100.8, 100.9)])
    in_job, gap = gap_split(sp, st)
    assert in_job == pytest.approx(0.5)
    assert gap == pytest.approx(0.5)
    # a job outside the span breaks the identity the self-check asserts
    st.job_intervals.append((102.0, 102.5))
    in_job, gap = gap_split(sp, st)
    assert in_job + gap > sp.wall * 1.05


# --- event log: every rolled part is read ---


def _write_part(path, events):
    with open(path, "w") as fh:
        for e in events:
            fh.write(json.dumps(e) + "\n")


def _job(jid, group, stages, t0, t1):
    props = {"spark.jobGroup.id": group} if group else {}
    return [
        {"Event": "SparkListenerJobStart", "Job ID": jid, "Submission Time": t0,
         "Stage IDs": stages, "Properties": props},
        {"Event": "SparkListenerJobEnd", "Job ID": jid, "Completion Time": t1},
    ]


def test_event_log_reads_every_rolled_part(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    job = _job

    def task(stage, cpu_ns, shuffle):
        return {"Event": "SparkListenerTaskEnd", "Stage ID": stage, "Task Metrics": {
            "Executor CPU Time": cpu_ns, "JVM GC Time": 5, "Disk Bytes Spilled": 7,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle}}}

    def stage_done(stage):
        return {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": stage}}

    part1 = job(0, "q1#r0", [0], 1000, 1500) + [task(0, 10**9, 100), stage_done(0)]
    part2 = (
        job(1, "q1#r0", [1], 1600, 1700)
        + [task(1, 10**9, 50), task(1, 0, 0), stage_done(1)]
        + job(2, None, [2], 1700, 1800)  # no job group: not a timed call
        + [task(2, 10**9, 1)]
    )
    part10 = job(3, "q2#r0", [3], 2000, 2100) + [task(3, 0, 0), stage_done(3)]
    _write_part(app / "events_1_local-1", part1)
    _write_part(app / "events_2_local-1", part2)
    _write_part(app / "events_10_local-1", part10)  # numeric, not lexical, order

    groups = read_event_log(str(tmp_path))
    assert set(groups) == {"q1#r0", "q2#r0"}
    g = groups["q1#r0"]
    assert (g.jobs, g.stages, g.tasks) == (2, 2, 3)
    assert g.executor_cpu_s == pytest.approx(2.0)
    assert g.shuffle_bytes == 150 and g.spill_bytes == 21
    assert g.gc_s == pytest.approx(0.015)
    assert g.job_intervals == [(1.0, 1.5), (1.6, 1.7)]
    assert groups["q2#r0"].jobs == 1


def test_event_log_check_flags_calls_missing_from_the_log(tmp_path):
    app = tmp_path / "eventlog_v2_local-1"
    app.mkdir()
    _write_part(app / "events_1_local-1", _job(0, "q1#r0", [0], 1000, 1500))
    res = Result(setup_s=1.0, rounds=[1.0], calls={}, attempted=2, failed=0, correct=True)
    res.call_spans = [("q1#r0", "q1", Span(0, "q.q1", 0.9, 1.6))]
    eventlog_layers(res, str(tmp_path))
    assert res.correct is True
    assert res.layers["trace.gap_check_max_err"] == pytest.approx(0.0)
    # a call whose job group never reached the log, as with an unread rolled part
    res.call_spans.append(("run-id", "hop1", Span(1, "streaming.hop1", 2.0, 2.5)))
    eventlog_layers(res, str(tmp_path))
    assert res.correct is False
    assert res.layers["trace.checked_calls"] == 2


# --- output ---


def _result() -> Result:
    return Result(
        setup_s=30.5, rounds=[12.0, 14.0, 13.0], calls={"a": [1.0, 3.0, 2.0], "b": [8.0]},
        attempted=24, failed=0, correct=True, layers={"queries.jobs": 130.0},
    )


def test_result_line_shape():
    for tracing, names in ((False, END_TO_END), (True, PER_LAYER)):
        line = json.loads(json.dumps(report(_result(), tracing)))
        assert set(line) == {"correct", "attempted", "failed", "metrics"}
        assert line["correct"] is True
        assert isinstance(line["attempted"], int) and line["attempted"] >= 1
        assert isinstance(line["failed"], int)
        assert list(line["metrics"]) == list(names)
        for m in line["metrics"].values():
            assert set(m) == {"value", "unit"}
            assert isinstance(m["value"], float)
    e2e = report(_result(), False)["metrics"]
    assert e2e["round_s"] == {"value": 13.0, "unit": "s"}
    assert e2e["call_geomean_s"]["value"] == pytest.approx(4.0)  # sqrt(2 * 8)
    assert report(_result(), True)["metrics"]["queries.jobs"]["value"] == 130.0


def test_benchmark_json_matches_catalogue_and_contract():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    assert bench == benchmark_json()
    assert set(bench) == {"command", "paths", "run_seconds", "workloads", "end_to_end", "per_layer"}
    assert 2 <= len(bench["workloads"]) <= 8
    assert 1 <= bench["run_seconds"] <= 60
    name = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
    unit = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
    seen = set()
    for w in bench["workloads"]:
        assert name.match(w["name"]) and len(w["why"]) <= 200 and "\n" not in w["why"]
    for m in bench["end_to_end"] + bench["per_layer"]:
        assert name.match(m["name"]) and unit.match(m["unit"]) and m["better"] in ("lower", "higher")
        assert m["name"] not in seen
        seen.add(m["name"])
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    assert all(0 < b <= 0.25 for b in bounds.values())
    assert bounds["setup_s"] == max(bounds.values())
    assert 1 <= len(bench["per_layer"]) <= 128
    for path in bench["paths"]:
        assert os.path.isdir(os.path.join(ROOT, path))


# --- output checks ---


def test_normalized_rows_ignore_order_and_pandas_widening():
    spark_side = pd.DataFrame({"b": [2.0, float("nan")], "a": ["x", "y"], "c": [b"\x01", None]})
    duck_side = [("y", None, None), ("x", 2, b"\x01")]
    assert normalized_rows(list(spark_side.columns), spark_side.itertuples(index=False), {"b"}) == (
        normalized_rows(["a", "b", "c"], duck_side)
    )


# --- generators ---


def test_tables_are_a_function_of_the_seed(tmp_path):
    a, b, c = (str(tmp_path / d) for d in "abc")
    write_tables(a, 7, 0.001)
    write_tables(b, 7, 0.001)
    write_tables(c, 8, 0.001)
    li = [pd.read_parquet(os.path.join(d, "lineitem.parquet")) for d in (a, b, c)]
    assert li[0].equals(li[1])
    assert not li[0].equals(li[2])


def test_catalogue_repeats_a_fixed_share():
    pool = PagePool(3, size=2)
    day0 = catalogue_pages(pool, 0, 6, 1 / 3)
    day1 = catalogue_pages(pool, 1, 6, 1 / 3)
    assert len(set(day0)) == 6  # nothing to repeat on the first day
    assert sum(p in day0 for p in day1) == 2
    assert all(p[:2] == b"\xff\xd8" for p in day0 + day1)
    again = PagePool(3, size=2)
    assert catalogue_pages(again, 0, 6, 1 / 3) == day0
