"""Tests of the span recorder and event-log parser.

    python3 -m pytest lifecycle_bench/test_tracing.py -q

The parser tests run on hand-written event lines.  The traced test runs
a 10 × 10-pixel chip_lifecycle twice under one Spark event log and
requires every count (jobs, stages, tasks, shuffle and output bytes and
records) to repeat exactly between the two runs.
"""

from __future__ import annotations

import glob
import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [HERE, os.path.dirname(HERE)]

from tracing import (COUNTERS, Tracer, by_name, parse_event_log,  # noqa: E402
                     read_event_log, span_counters)


def ev(kind, **fields):
    return json.dumps({"Event": f"SparkListener{kind}", **fields},
                      separators=(",", ":"))


def task(stage, attempt=0, run_ms=10, cpu_ns=5, shuffle=0, out=0, recs=0):
    return ev("TaskEnd", **{
        "Stage ID": stage, "Stage Attempt ID": attempt,
        "Task Metrics": {
            "Executor Run Time": run_ms, "Executor CPU Time": cpu_ns,
            "Shuffle Write Metrics": {"Shuffle Bytes Written": shuffle},
            "Output Metrics": {"Bytes Written": out,
                               "Records Written": recs}}})


def props(group):
    return {"Properties": {"spark.jobGroup.id": group} if group else {}}


def test_parse_attributes_tasks_through_stage_submissions():
    lines = [
        ev("ApplicationStart", **{"App Name": "x"}),
        ev("JobStart", **{"Job ID": 0, "Stage IDs": [0, 1]}, **props("a")),
        ev("StageSubmitted", **{"Stage Info": {"Stage ID": 0,
                                               "Stage Attempt ID": 0}},
           **props("a")),
        task(0, shuffle=100), task(0, shuffle=50),
        ev("StageSubmitted", **{"Stage Info": {"Stage ID": 1,
                                               "Stage Attempt ID": 0}},
           **props("a")),
        task(1, out=7, recs=3),
        # a later job reuses stage 0's shuffle output: the stage is
        # skipped (never submitted), so only stage 2 counts for "b"
        ev("JobStart", **{"Job ID": 1, "Stage IDs": [0, 2]}, **props("b")),
        ev("StageSubmitted", **{"Stage Info": {"Stage ID": 2,
                                               "Stage Attempt ID": 0}},
           **props("b")),
        task(2, run_ms=30, cpu_ns=9),
        # a stage resubmitted under "b" is a new attempt of stage 0
        ev("StageSubmitted", **{"Stage Info": {"Stage ID": 0,
                                               "Stage Attempt ID": 1}},
           **props("b")),
        task(0, attempt=1, shuffle=60),
        # jobs outside any span are ignored
        ev("JobStart", **{"Job ID": 2, "Stage IDs": [3]}, **props(None)),
        ev("StageSubmitted", **{"Stage Info": {"Stage ID": 3,
                                               "Stage Attempt ID": 0}},
           **props(None)),
        task(3, run_ms=1000),
    ]
    g = parse_event_log(lines)
    assert set(g) == {"a", "b"}
    assert g["a"] == {"jobs": 1, "stages": 2, "tasks": 3,
                      "executor_run_ms": 30, "executor_cpu_ns": 15,
                      "shuffle_write_bytes": 150, "output_bytes": 7,
                      "output_records": 3}
    assert g["b"] == {"jobs": 1, "stages": 2, "tasks": 2,
                      "executor_run_ms": 40, "executor_cpu_ns": 14,
                      "shuffle_write_bytes": 60, "output_bytes": 0,
                      "output_records": 0}


def test_span_counters_are_inclusive_and_summed_by_name():
    spans = [
        {"id": "p", "name": "compose", "parent": None, "request": "p",
         "start": 0.0, "end": 10.0},
        {"id": "c1", "name": "layer", "parent": "p", "request": "p",
         "start": 1.0, "end": 3.0, "rows_out": 5},
        {"id": "c2", "name": "layer", "parent": "p", "request": "p",
         "start": 4.0, "end": 8.0, "rows_out": 7},
    ]
    one = dict.fromkeys(COUNTERS, 0) | {"jobs": 1, "tasks": 2}
    counters = span_counters(spans, {"p": one, "c1": one, "c2": one})
    assert counters["p"]["jobs"] == 3 and counters["p"]["tasks"] == 6
    assert counters["c1"]["wall_s"] == 2.0
    named = by_name(spans, counters)
    assert named["layer"]["jobs"] == 2
    assert named["layer"]["rows_out"] == 12
    assert named["layer"]["wall_s"] == 6.0


EXACT = ("jobs", "stages", "tasks", "shuffle_write_bytes", "output_bytes",
         "output_records", "rows_out")


@pytest.fixture(scope="module")
def traced_twice(tmp_path_factory):
    import run
    from workloads import ChipLifecycle, make_frame

    work = str(tmp_path_factory.mktemp("lifecycle"))
    events = os.path.join(work, "events")
    os.makedirs(events)
    run.pin_environment(work)
    from lcmap_blackmagic_spark.session import get_session
    spark = get_session("lifecycle-bench-test",
                        extra_conf=run.session_conf(work, events))
    spark.sparkContext.setLogLevel("ERROR")
    try:
        wl = ChipLifecycle(seed=7, side=10)
        wl.attach(spark, work)
        wl.setup([make_frame(j) for j in wl.jobs])
        tracer = Tracer(spark.sparkContext)
        reps, checks = [], []
        for _ in range(2):
            first = len(tracer.spans)
            p = wl.run_pass(tracer)
            checks += wl.check_pass(p)
            wl.compose(tracer)
            checks += wl.check_compose()
            reps.append(tracer.spans[first:])
    finally:
        run.stop_spark(spark)
    groups = read_event_log(glob.glob(os.path.join(events, "*"))[0])
    return reps, groups, checks


def test_composition_matches_api_and_counts_repeat(traced_twice):
    reps, groups, checks = traced_twice
    assert [c for c in checks if not c.ok] == []
    a, b = (by_name(spans, span_counters(spans, groups)) for spans in reps)
    assert set(a) == set(b)
    assert a["api.run_segment_job"]["jobs"] > 0
    assert a["plans.segment.pixel_timeseries"]["shuffle_write_bytes"] > 0
    for name in a:
        for k in EXACT:
            assert a[name][k] == b[name][k], (name, k)
