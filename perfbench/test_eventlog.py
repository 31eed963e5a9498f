"""Unit tests for the traced run's event-log attribution and self-check.

    python3 -m pytest perfbench/test_eventlog.py -q

A small canned Spark event log (the JSON-lines format Spark writes with
``spark.eventLog.enabled``), no Spark session needed.
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent))

import eventlog  # noqa: E402
from run import partition_digest  # noqa: E402


def _stage(stage_id: int, group: str | None, desc: str | None) -> str:
    props = {}
    if group is not None:
        props["spark.jobGroup.id"] = group
    if desc is not None:
        props["spark.job.description"] = desc
    return json.dumps({
        "Event": "SparkListenerStageSubmitted",
        "Stage Info": {"Stage ID": stage_id, "Stage Attempt ID": 0},
        "Properties": props,
    })


def _task(stage_id: int, run_ms: int, cpu_ns: int = 0, gc_ms: int = 0, read: int = 0, write: int = 0) -> str:
    return json.dumps({
        "Event": "SparkListenerTaskEnd",
        "Stage ID": stage_id,
        "Stage Attempt ID": 0,
        "Task Metrics": {
            "Executor Run Time": run_ms,
            "Executor CPU Time": cpu_ns,
            "JVM GC Time": gc_ms,
            "Memory Bytes Spilled": 0,
            "Disk Bytes Spilled": 0,
            "Shuffle Read Metrics": {"Fetch Wait Time": 0, "Remote Bytes Read": 0, "Local Bytes Read": read},
            "Shuffle Write Metrics": {"Shuffle Bytes Written": write},
        },
    })


def _job_start(job_id: int, at_ms: int, group: str | None, desc: str | None) -> str:
    props = {k: v for k, v in (("spark.jobGroup.id", group), ("spark.job.description", desc)) if v}
    return json.dumps({
        "Event": "SparkListenerJobStart", "Job ID": job_id, "Submission Time": at_ms, "Properties": props,
    })


def _job_end(job_id: int, at_ms: int, ok: bool = True) -> str:
    return json.dumps({
        "Event": "SparkListenerJobEnd",
        "Job ID": job_id,
        "Completion Time": at_ms,
        "Job Result": {"Result": "JobSucceeded" if ok else "JobFailed"},
    })


CANNED = [
    json.dumps({"Event": "SparkListenerApplicationStart", "App Name": "canned"}),
    _stage(0, None, None),                                        # before any span
    _task(0, 100),
    _stage(1, "p1.pipeline", "er_pipeline: stage0 normalize"),
    _task(1, 400, cpu_ns=300_000_000, write=2 * 1024 * 1024),
    _task(1, 600, cpu_ns=500_000_000, gc_ms=50),
    _stage(2, "p1.pipeline", "er_pipeline: stage1 blocking"),
    _task(2, 1000, read=2 * 1024 * 1024),
    _stage(3, "p1.pipeline", "er_pipeline: stage2 scoring"),
    _task(3, 3000),
    _stage(4, "p1.pipeline", "er_pipeline: stage3 cc"),
    _task(4, 500),
    _stage(5, "p1.pipeline", "perfbench p1.pipeline"),            # in the span, no layer
    _task(5, 70),
    _stage(6, "p1.labels", None),
    _task(6, 30),
    "",
]
NORM, BLOCK, SCORE, CC = (f"er_pipeline: stage{i} {n}" for i, n in enumerate(("normalize", "blocking", "scoring", "cc")))
# job timeline of one traced pass (ms): the layers start at 1000, 1600,
# 2100 and 3100; the last job of the span ends at 3600
TIMELINE = [
    _job_start(0, 500, None, None), _job_end(0, 700),
    _job_start(1, 1000, "p1.pipeline", NORM), _job_end(1, 1200),
    _job_start(2, 1300, "p1.pipeline", NORM), _job_end(2, 1550),
    _job_start(3, 1600, "p1.pipeline", BLOCK), _job_end(3, 2000),
    _job_start(4, 2100, "p1.pipeline", SCORE), _job_end(4, 3000),
    _job_start(5, 3100, "p1.pipeline", CC), _job_end(5, 3400),
    _job_start(6, 3450, "p1.pipeline", CC), _job_end(6, 3600, ok=False),
    _job_start(7, 3700, "p1.labels", None), _job_end(7, 3800),
]


def test_tasks_attributed_to_span_and_layer():
    log = eventlog.parse(CANNED)
    norm = log.span("p1.pipeline", "normalize")
    assert (norm.tasks, norm.task_ms, norm.cpu_ns, norm.gc_ms) == (2, 1000, 800_000_000, 50)
    assert norm.shuffle_write_bytes == 2 * 1024 * 1024
    assert log.span("p1.pipeline", "blocking").shuffle_read_bytes == 2 * 1024 * 1024
    assert log.span("p1.pipeline", "scoring").task_ms == 3000
    assert log.span("p1.pipeline", "cc").task_ms == 500
    assert log.span("p1.labels").task_ms == 30


def test_unlabelled_work_is_reported_not_dropped():
    log = eventlog.parse(CANNED)
    assert log.span("p1.pipeline", eventlog.UNATTRIBUTED).task_ms == 70
    assert log.span(eventlog.UNATTRIBUTED).task_ms == 100
    every = sum(t.task_ms for t in log.totals.values())
    assert every == 100 + 1000 + 1000 + 3000 + 500 + 70 + 30
    assert log.span("p1.pipeline").task_ms == 1000 + 1000 + 3000 + 500 + 70


def test_layer_row_units():
    row = eventlog.parse(CANNED).span("p1.pipeline", "normalize").metrics(wall_s=0.5, cores=4)
    assert row["task_s"] == 1.0
    assert row["cpu_s"] == 0.8
    assert row["shuffle_write_mb"] == 2.0
    assert row["tasks"] == 2
    assert row["busy"] == 1.0 / (0.5 * 4)


def test_layer_walls_from_job_timeline():
    log = eventlog.parse(TIMELINE)
    assert log.walls("p1.pipeline") == {"normalize": 0.6, "blocking": 0.5, "scoring": 1.0, "cc": 0.5}
    assert log.walls("p1.labels") == {eventlog.UNATTRIBUTED: 0.1}
    assert log.walls(eventlog.UNATTRIBUTED) == {eventlog.UNATTRIBUTED: 0.2}
    assert log.walls("no such span") == {}
    assert (len(log.jobs), log.failed_jobs) == (8, 1)


def test_walls_add_up_within_five_percent():
    parts = {"normalize": 2.0, "blocking": 1.5, "scoring": 3.0, "cc": 2.5, "labels": 0.4}
    ok, gap = eventlog.walls_add_up(parts, 9.6)
    assert ok and abs(gap - 0.2 / 9.6) < 1e-12
    ok, gap = eventlog.walls_add_up(parts, 10.5)  # 1.1 s of the pass in no row
    assert not ok and gap > 0.05
    ok, _ = eventlog.walls_add_up(parts, 8.5)     # rows longer than the pass
    assert not ok


def test_partition_digest_ignores_component_names():
    a = [{"id": "x", "component": 7}, {"id": "y", "component": 7}, {"id": "z", "component": 9}]
    b = [{"id": "z", "component": 1}, {"id": "x", "component": 5}, {"id": "y", "component": 5}]
    c = [{"id": "x", "component": 1}, {"id": "y", "component": 2}, {"id": "z", "component": 2}]
    assert partition_digest(a) == partition_digest(b)
    assert partition_digest(a) != partition_digest(c)
