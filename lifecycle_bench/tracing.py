"""Span recorder and Spark event-log parser for the lifecycle benchmark.

A span is one call into a layer, made from the benchmark's own code:
name, start, end, parent span and a request id shared by every span of
one api request.  While a span is open its id is the Spark job group,
so every job, stage and task Spark runs for it carries the id in its
properties.  After the run, ``parse_event_log`` reads Spark's
uncompressed JSON event log and sums task metrics per job group; a
span's counters are then those of its own group plus its children's.
Spans stay in memory until ``Tracer.dump``.
"""

from __future__ import annotations

import json
import time
from collections import defaultdict
from contextlib import contextmanager

JOB_GROUP = "spark.jobGroup.id"

# raw event-log counters, summed per job group
COUNTERS = ("jobs", "stages", "tasks", "executor_run_ms", "executor_cpu_ns",
            "shuffle_write_bytes", "output_bytes", "output_records")


class Tracer:
    """In-memory spans; each open span is the Spark job group of the
    calling thread, so nested spans must be opened and closed in
    order from one thread."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextmanager
    def span(self, name: str):
        parent = self._open[-1] if self._open else None
        sid = f"span-{len(self.spans)}"
        rec = {"id": sid, "name": name,
               "parent": parent["id"] if parent else None,
               "request": parent["request"] if parent else sid,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._open.append(rec)
        self.sc.setJobGroup(sid, name)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()
            if self._open:
                self.sc.setJobGroup(self._open[-1]["id"],
                                    self._open[-1]["name"])
            else:
                self.sc.setLocalProperty(JOB_GROUP, None)
                self.sc.setLocalProperty("spark.job.description", None)

    def dump(self, path: str, **extra) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, **extra}, f, indent=1)


def parse_event_log(lines) -> dict[str, dict[str, int]]:
    """Job group → summed counters, from event-log JSON lines.

    Jobs are attributed by their start event's properties; stages and
    tasks by the properties of the stage submission, which are those
    of the job that ran the stage.  Only submitted stage attempts
    count, so stages a job skipped (shuffle output reused) add
    nothing.  Events without a job group are ignored."""
    out: dict[str, dict[str, int]] = defaultdict(
        lambda: dict.fromkeys(COUNTERS, 0))
    stage_group: dict[tuple[int, int], str] = {}
    for line in lines:
        # cheap prefix filter: most lines are other listener events
        if not line.startswith('{"Event":"SparkListener'):
            continue
        ev = json.loads(line)
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            group = (ev.get("Properties") or {}).get(JOB_GROUP)
            if group:
                out[group]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            group = (ev.get("Properties") or {}).get(JOB_GROUP)
            info = ev["Stage Info"]
            if group:
                stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = group
                out[group]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            group = stage_group.get((ev["Stage ID"], ev["Stage Attempt ID"]))
            if not group:
                continue
            c = out[group]
            c["tasks"] += 1
            m = ev.get("Task Metrics") or {}
            c["executor_run_ms"] += m.get("Executor Run Time", 0)
            c["executor_cpu_ns"] += m.get("Executor CPU Time", 0)
            c["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}
                                         ).get("Shuffle Bytes Written", 0)
            om = m.get("Output Metrics") or {}
            c["output_bytes"] += om.get("Bytes Written", 0)
            c["output_records"] += om.get("Records Written", 0)
    return dict(out)


def read_event_log(path: str) -> dict[str, dict[str, int]]:
    with open(path) as f:
        return parse_event_log(f)


def span_counters(spans: list[dict],
                  groups: dict[str, dict[str, int]]) -> dict[str, dict]:
    """Span id → inclusive counters (own job group plus every
    descendant's) and wall seconds."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"]:
            children[s["parent"]].append(s["id"])

    def total(sid: str) -> dict[str, int]:
        c = dict(groups.get(sid, dict.fromkeys(COUNTERS, 0)))
        for kid in children[sid]:
            for k, v in total(kid).items():
                c[k] += v
        return c

    return {s["id"]: {**total(s["id"]), "wall_s": s["end"] - s["start"]}
            for s in spans}


def by_name(spans: list[dict], counters: dict[str, dict]) -> dict[str, dict]:
    """Span name → counters summed over every span of that name (one
    pass issues several requests of a kind on the pool workloads)."""
    out: dict[str, dict] = {}
    for s in spans:
        acc = out.setdefault(s["name"], {"rows_out": 0})
        acc["rows_out"] += s.get("rows_out", 0)
        for k, v in counters[s["id"]].items():
            acc[k] = acc.get(k, 0) + v
    return out
