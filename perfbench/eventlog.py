"""Per-layer task metrics from a Spark event log.

The traced run enables ``spark.eventLog.enabled`` and wraps every call it
times in its own job group (a *span*). Inside a pipeline call the engine
labels its jobs ``er_pipeline: stage0 normalize`` … ``stage3 cc``; those
descriptions name the layer. Every task of the log is attributed to
``(span, layer)``. Tasks of a span whose description names no layer are
kept under the layer ``UNATTRIBUTED`` and tasks outside every span under
the span ``UNATTRIBUTED``, so no work is ever dropped from the totals.

Pure Python over the JSON-lines log, so it is unit-tested on a canned log.
"""

from __future__ import annotations

import json
from collections import defaultdict
from dataclasses import dataclass, field

# engine job description prefix → layer name (module that does the work)
STAGE_LAYERS = {
    "er_pipeline: stage0": "normalize",
    "er_pipeline: stage1": "blocking",
    "er_pipeline: stage2": "scoring",
    "er_pipeline: stage3": "cc",
}
UNATTRIBUTED = "unattributed"
MB = 1024.0 * 1024.0


def layer_of(description: str | None) -> str:
    for prefix, layer in STAGE_LAYERS.items():
        if description and description.startswith(prefix):
            return layer
    return UNATTRIBUTED


@dataclass
class Totals:
    tasks: int = 0
    task_ms: int = 0
    cpu_ns: int = 0
    gc_ms: int = 0
    shuffle_read_bytes: int = 0
    shuffle_write_bytes: int = 0

    def add(self, other: "Totals") -> None:
        for k in self.__dataclass_fields__:
            setattr(self, k, getattr(self, k) + getattr(other, k))

    def metrics(self, wall_s: float, cores: int) -> dict[str, float]:
        """A layer's row. GC time is summed per pass instead; it, fetch wait
        and spill are 0 in most layers at the benchmark's input sizes."""
        task_s = self.task_ms / 1000.0
        return {
            "wall_s": wall_s,
            "task_s": task_s,
            "cpu_s": self.cpu_ns / 1e9,
            "shuffle_read_mb": self.shuffle_read_bytes / MB,
            "shuffle_write_mb": self.shuffle_write_bytes / MB,
            "tasks": self.tasks,
            "busy": task_s / (wall_s * cores) if wall_s > 0 else 0.0,
        }


@dataclass
class EventLog:
    # (span, layer) → Totals; span = job group id set by the benchmark
    totals: dict[tuple[str, str], Totals] = field(default_factory=lambda: defaultdict(Totals))
    # job id → [span, layer, submission ms, completion ms]
    jobs: dict[int, list] = field(default_factory=dict)
    failed_jobs: int = 0

    def walls(self, span: str) -> dict[str, float]:
        """Seconds per layer of one span, from the job timeline: a layer
        runs from its first job's submission to the next layer's first
        submission; the last layer ends with the span's last job."""
        jobs = [j for j in self.jobs.values() if j[0] == span and j[3] is not None]
        if not jobs:
            return {}
        start: dict[str, int] = {}
        for _, layer, sub, _ in sorted(jobs, key=lambda j: j[2]):
            start.setdefault(layer, sub)
        order = sorted(start, key=start.get)
        ends = [start[layer] for layer in order[1:]] + [max(j[3] for j in jobs)]
        return {layer: (end - start[layer]) / 1000.0 for layer, end in zip(order, ends)}

    def span(self, span: str, layer: str | None = None) -> Totals:
        """Sum over one span, optionally one layer of it."""
        out = Totals()
        for (s, l), t in self.totals.items():
            if s == span and (layer is None or l == layer):
                out.add(t)
        return out


def _task_totals(ev: dict) -> Totals:
    m = ev.get("Task Metrics") or {}
    sr = m.get("Shuffle Read Metrics") or {}
    sw = m.get("Shuffle Write Metrics") or {}
    return Totals(
        tasks=1,
        task_ms=int(m.get("Executor Run Time", 0)),
        cpu_ns=int(m.get("Executor CPU Time", 0)),
        gc_ms=int(m.get("JVM GC Time", 0)),
        shuffle_read_bytes=int(sr.get("Remote Bytes Read", 0)) + int(sr.get("Local Bytes Read", 0)),
        shuffle_write_bytes=int(sw.get("Shuffle Bytes Written", 0)),
    )


def parse(lines) -> EventLog:
    """Attribute every task of the log to (span, layer).

    A stage carries the local properties of the job that submitted it
    (``SparkListenerStageSubmitted.Properties``): the job group is the
    span, the job description the layer.
    """
    log = EventLog()
    stage_key: dict[tuple[int, int], tuple[str, str]] = {}
    for line in lines:
        if not line.strip():
            continue
        ev = json.loads(line)
        kind = ev.get("Event")
        if kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            props = ev.get("Properties") or {}
            span = props.get("spark.jobGroup.id") or UNATTRIBUTED
            stage_key[(info["Stage ID"], info.get("Stage Attempt ID", 0))] = (
                span, layer_of(props.get("spark.job.description")),
            )
        elif kind == "SparkListenerTaskEnd":
            key = stage_key.get(
                (ev["Stage ID"], ev.get("Stage Attempt ID", 0)), (UNATTRIBUTED, UNATTRIBUTED)
            )
            log.totals[key].add(_task_totals(ev))
        elif kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            log.jobs[ev["Job ID"]] = [
                props.get("spark.jobGroup.id") or UNATTRIBUTED,
                layer_of(props.get("spark.job.description")),
                ev["Submission Time"],
                None,
            ]
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in log.jobs:
                log.jobs[ev["Job ID"]][3] = ev["Completion Time"]
            if (ev.get("Job Result") or {}).get("Result") != "JobSucceeded":
                log.failed_jobs += 1
    return log


def read(path: str) -> EventLog:
    with open(path, encoding="utf-8") as f:
        return parse(f)


def walls_add_up(parts: dict[str, float], total: float, tol: float = 0.05) -> tuple[bool, float]:
    """Self-check: the traced parts must cover the pass wall within ``tol``.

    Returns (ok, relative gap) with gap = (total − Σ parts) / total.
    """
    gap = (total - sum(parts.values())) / total if total > 0 else 1.0
    return abs(gap) <= tol, gap
