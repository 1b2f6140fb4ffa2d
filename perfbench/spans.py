"""Spans around the benchmark's calls into each layer, plus the two
views Spark already gives of the same work: streaming progress
(`StreamingQueryProgress.durationMs`) and, in a traced run, the event
log (jobs, tasks and task metrics per job group or stream batch).

Spans live in memory; a traced run writes them out once, as JSON lines,
when it ends. A span's self time is its duration minus the part of it
covered by its child spans.
"""

from __future__ import annotations

import glob
import json
import threading
import time
from collections import defaultdict
from contextlib import contextmanager

# the phases a micro-batch reports in durationMs; the rest of
# triggerExecution is reported as other_ms
PHASES = {
    "latestOffset": "sources.changes.latest_offset_ms",
    "getBatch": "sources.changes.get_batch_ms",
    "queryPlanning": "streaming.mirror.query_planning_ms",
    "addBatch": "streaming.mirror.add_batch_ms",
    "walCommit": "streaming.mirror.wal_commit_ms",
    "commitOffsets": "streaming.mirror.commit_offsets_ms",
}
# event-log totals reported per layer
JOB_METRICS = ("jobs", "tasks", "executor_cpu_s", "gc_s", "shuffle_bytes", "spill_bytes")
STREAM_LAYER = "streaming.mirror"


class Tracer:
    """Records spans; when `jobs` is set, also tags every Spark job a
    span starts with a job group `<layer>#<span id>`, so the event log
    can attribute jobs to layers."""

    def __init__(self, spark, jobs: bool) -> None:
        self.spark = spark
        self.jobs = jobs
        self.spans: list[dict] = []
        self._lock = threading.Lock()
        self._local = threading.local()

    @contextmanager
    def span(self, layer: str, name: str):
        stack = self._local.__dict__.setdefault("stack", [])
        with self._lock:
            sid = len(self.spans)
            rec = {
                "id": sid,
                "layer": layer,
                "name": name,
                "parent": stack[-1] if stack else None,
                "thread": threading.get_ident(),
                "start": time.perf_counter(),
                "end": None,
            }
            self.spans.append(rec)
        stack.append(sid)
        if self.jobs:
            self.spark.sparkContext.setJobGroup(f"{layer}#{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            stack.pop()
            if self.jobs:
                if stack:
                    outer = self.spans[stack[-1]]
                    self.spark.sparkContext.setJobGroup(
                        f"{outer['layer']}#{outer['id']}", outer["name"]
                    )
                else:
                    self.spark.sparkContext.setLocalProperty("spark.jobGroup.id", None)

    def durations(self, name: str, since: int = 0) -> list[float]:
        """Durations of the spans called `name`, from span id `since` on."""
        return [s["end"] - s["start"] for s in self.spans[since:] if s["name"] == name]

    def self_times(self) -> dict[str, float]:
        """Seconds of self time per layer."""
        children = defaultdict(list)
        for s in self.spans:
            if s["parent"] is not None:
                children[s["parent"]].append((s["start"], s["end"]))
        out: dict[str, float] = defaultdict(float)
        for s in self.spans:
            covered, edge = 0.0, s["start"]
            for a, b in sorted(children[s["id"]]):
                a, b = max(a, edge), min(b, s["end"])
                if b > a:
                    covered += b - a
                    edge = b
            out[s["layer"]] += (s["end"] - s["start"]) - covered
        return dict(out)

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def progress_phases(progresses: list[dict]) -> dict[str, float]:
    """Phase totals (ms) over the micro-batches that read input."""
    out = {v: 0.0 for v in PHASES.values()}
    out.update({"streaming.mirror.trigger_ms": 0.0, "streaming.mirror.other_ms": 0.0})
    for p in progresses:
        d = p["durationMs"]
        trig = float(d.get("triggerExecution", 0))
        known = 0.0
        for k, name in PHASES.items():
            out[name] += float(d.get(k, 0))
            known += float(d.get(k, 0))
        out["streaming.mirror.trigger_ms"] += trig
        out["streaming.mirror.other_ms"] += trig - known
    return out


def data_batches(query) -> list[dict]:
    """Progress of every micro-batch of `query` that read rows."""
    return [
        p for p in (json.loads(x.json) for x in query.recentProgress)
        if p.get("numInputRows", 0) > 0
    ]


def event_log_layers(log_dir: str) -> dict[str, float]:
    """Per-layer job, task and task-metric totals from an uncompressed,
    unrolled event log. A job belongs to the layer of its job group
    (`<layer>#<span>`); jobs a stream runs carry a batch id instead and
    belong to the stream's layer."""
    stage_layer: dict[int, str] = {}
    totals: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(JOB_METRICS, 0.0))
    for path in glob.glob(f"{log_dir}/*"):
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    group = props.get("spark.jobGroup.id") or ""
                    if props.get("streaming.sql.batchId") is not None:
                        layer = STREAM_LAYER
                    elif "#" in group:
                        layer = group.split("#", 1)[0]
                    else:
                        layer = "untagged"
                    totals[layer]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_layer[sid] = layer
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    t = totals[stage_layer.get(ev.get("Stage ID"), "untagged")]
                    t["tasks"] += 1
                    t["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    t["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    sr = m.get("Shuffle Read Metrics") or {}
                    sw = m.get("Shuffle Write Metrics") or {}
                    t["shuffle_bytes"] += (
                        sr.get("Remote Bytes Read", 0)
                        + sr.get("Local Bytes Read", 0)
                        + sw.get("Shuffle Bytes Written", 0)
                    )
                    t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return {
        f"{layer}.{k}": v for layer, t in totals.items() for k, v in t.items()
    }
