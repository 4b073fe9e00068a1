"""Traced runs: tag every Spark job with the stage or gate that issued it,
then split Spark's own event log by tag.

Tagging happens from outside the program: ``tag_checkpoints`` wraps
``CheckpointManager.get_or_compute`` (every pipeline stage goes through
it) and the gate loop wraps each ``queries()[name]`` call in ``tagged``.
Both set ``spark.job.description``, which Spark copies into the
properties of every job and stage it submits, and record an in-memory
span (name, start, end) for the wall time.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time
from collections import defaultdict
from dataclasses import dataclass, field

# per-tag metrics read from the event log, besides the span's wall_s
LOG_METRICS = ("jobs", "task_cpu_s", "shuffle_write_mb", "spill_mb", "task_skew",
               "py_run_s", "py_bytes_mb")

_PY_RUN = "time to run Python workers"  # ms per task
_PY_BYTES = ("data sent to Python workers", "data returned from Python workers")


@dataclass
class Spans:
    spans: list[dict] = field(default_factory=list)

    def add(self, name: str, start: float, end: float) -> None:
        self.spans.append({"name": name, "start": start, "end": end})

    def wall_s(self) -> dict[str, float]:
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += s["end"] - s["start"]
        return dict(out)


@contextlib.contextmanager
def tagged(spark, spans: Spans, name: str):
    sc = spark.sparkContext
    sc.setJobDescription(name)
    t0 = time.monotonic()
    try:
        yield
    finally:
        spans.add(name, t0, time.monotonic())
        sc.setJobDescription(None)


@contextlib.contextmanager
def tag_checkpoints(spark, spans: Spans):
    """Tag every checkpointed stage by its stage name while active."""
    from autovalidate_backend_api_spark.sources.checkpoint import CheckpointManager

    original = CheckpointManager.get_or_compute

    def traced(self, stage, compute):
        with tagged(spark, spans, stage):
            return original(self, stage, compute)

    CheckpointManager.get_or_compute = traced
    try:
        yield
    finally:
        CheckpointManager.get_or_compute = original


def event_log_conf(log_dir: str) -> dict[str, str]:
    """An uncompressed event log, so reading it needs no codec."""
    os.makedirs(log_dir, exist_ok=True)
    return {"spark.eventLog.enabled": "true", "spark.eventLog.dir": log_dir,
            "spark.eventLog.compress": "false"}


def read_events(log_dir: str) -> list[dict]:
    """All events under ``log_dir``, which holds Spark 4's rolling
    ``eventlog_v2_*`` directories of uncompressed ``events_*`` files."""
    files = [
        os.path.join(log_dir, d, f)
        for d in sorted(os.listdir(log_dir))
        # events_<index>_<app id>, read in index order
        for f in sorted(
            (f for f in os.listdir(os.path.join(log_dir, d))
             if f.startswith("events_") and not f.endswith(".crc")),
            key=lambda f: int(f.split("_")[1]),
        )
    ]
    events = []
    for path in files:
        with open(path) as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def _acc(task_info: dict, name: str) -> float:
    for a in task_info.get("Accumulables", ()):
        if a.get("Name") == name:
            return float(a.get("Update") or 0)
    return 0.0


def layer_table(events: list[dict]) -> dict[str, dict[str, float]]:
    """{tag: metrics} over every job whose description is set.

    ``task_skew`` is max / median task run time in the tag's longest
    stage (by submission-to-completion time); 0 when it ran no task.
    """
    tags: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(LOG_METRICS, 0.0))
    stage_tag: dict[int, str] = {}
    stage_span: dict[int, float] = {}
    task_ms: dict[int, list[float]] = defaultdict(list)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            tag = (e.get("Properties") or {}).get("spark.job.description")
            if tag:
                tags[tag]["jobs"] += 1
        elif kind == "SparkListenerStageSubmitted":
            tag = (e.get("Properties") or {}).get("spark.job.description")
            if tag:
                stage_tag[e["Stage Info"]["Stage ID"]] = tag
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            if "Completion Time" in info and "Submission Time" in info:
                stage_span[info["Stage ID"]] = info["Completion Time"] - info["Submission Time"]
        elif kind == "SparkListenerTaskEnd":
            tag = stage_tag.get(e["Stage ID"])
            tm = e.get("Task Metrics")
            if tag is None or not tm:
                continue
            m = tags[tag]
            m["task_cpu_s"] += tm["Executor CPU Time"] / 1e9
            m["shuffle_write_mb"] += tm["Shuffle Write Metrics"]["Shuffle Bytes Written"] / 1e6
            m["spill_mb"] += tm["Disk Bytes Spilled"] / 1e6
            info = e["Task Info"]
            m["py_run_s"] += _acc(info, _PY_RUN) / 1e3
            m["py_bytes_mb"] += sum(_acc(info, n) for n in _PY_BYTES) / 1e6
            task_ms[e["Stage ID"]].append(tm["Executor Run Time"])
    longest: dict[str, int] = {}
    for sid, tag in stage_tag.items():
        if task_ms.get(sid) and stage_span.get(sid, -1) > stage_span.get(longest.get(tag), -1):
            longest[tag] = sid
    for tag, sid in longest.items():
        med = statistics.median(task_ms[sid])
        tags[tag]["task_skew"] = max(task_ms[sid]) / med if med > 0 else 1.0
    return {t: dict(m) for t, m in tags.items()}


def dir_mb(path: str) -> float:
    total = 0
    for root, _, files in os.walk(path):
        total += sum(os.path.getsize(os.path.join(root, f)) for f in files)
    return total / 1e6
