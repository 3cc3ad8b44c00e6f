"""Spans around the benchmark's calls into the engine, and the Spark-side
numbers folded into them.

A span records name, start, end and parent.  While a span is open its
Spark jobs carry the job group ``pb-<span id>``, set with
``setJobGroup`` from the calling thread; at span end the job, stage and
task counts come from ``statusTracker``.  After the session stops, the
event log (enabled in the traced run only) is folded into shuffle,
spill and task-skew numbers per span.  Streaming jobs carry the job
group of their query run instead, so they are folded per trigger by the
``streaming.sql.batchId`` job property.  Jobs that match neither (for
example jobs started on engine-internal worker threads) are reported as
``unattributed``.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time

import pyarrow as pa
from pyspark.sql.streaming import StreamingQueryListener

GROUP_PREFIX = "pb-"
# jobs the benchmark runs for itself (fixtures, set-up, the gate) and
# the untraced base pass of a traced run: not part of any layer
OWN_GROUP = "perfbench-own"
BASE_GROUP = "perfbench-base"


class Meter:
    """Wall time and CPU time of a block.  CPU time is user + system
    time of the driver JVM, which runs every task in local mode, plus
    this Python process; unlike wall time it does not grow while the
    hypervisor runs another guest on our CPUs."""

    def __init__(self, spark):
        pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        self.stat = f"/proc/{pid}/stat"
        self.tick = os.sysconf("SC_CLK_TCK")

    def cpu(self) -> float:
        with open(self.stat) as f:
            fields = f.read().rsplit(")", 1)[1].split()
        return (int(fields[11]) + int(fields[12])) / self.tick + time.process_time()

    @contextlib.contextmanager
    def measure(self):
        """Yields a dict that holds ``wall`` and ``cpu`` seconds on exit."""
        m: dict = {}
        c, t = self.cpu(), time.perf_counter()
        try:
            yield m
        finally:
            m["wall"] = time.perf_counter() - t
            m["cpu"] = self.cpu() - c


class Tracer:
    """Span recorder.  With ``enabled=False`` a span is a no-op, so the
    untraced run pays nothing for the calls."""

    def __init__(self, spark, enabled: bool):
        self.sc = spark.sparkContext
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def _set_group(self, span: dict | None) -> None:
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(GROUP_PREFIX + str(span["id"]), span["name"])

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        parent = self._stack[-1] if self._stack else None
        s = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "attrs": dict(attrs),
        }
        self.spans.append(s)
        self._stack.append(s)
        self._set_group(s)
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            self._set_group(parent)
            self._count_jobs(s)

    def _count_jobs(self, s: dict) -> None:
        tracker = self.sc.statusTracker()
        jobs = list(tracker.getJobIdsForGroup(GROUP_PREFIX + str(s["id"])))
        stages = tasks = 0
        for j in jobs:
            info = tracker.getJobInfo(j)
            if info is None:
                continue
            for st in info.stageIds:
                stages += 1
                si = tracker.getStageInfo(st)
                tasks += si.numTasks if si is not None else 0
        s["jobs"], s["stages"], s["tasks"] = len(jobs), stages, tasks

    def of(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def write(self, path: str, t0: float) -> None:
        """Spans relative to ``t0``, as one JSON document."""
        out = []
        for s in self.spans:
            r = {k: v for k, v in s.items() if k not in ("start", "end")}
            r["start_s"] = s["start"] - t0
            r["end_s"] = s["end"] - t0
            out.append(r)
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(out, f)


class TriggerListener(StreamingQueryListener):
    """Per-trigger ``durationMs`` of every streaming query progress."""

    def __init__(self):
        self.progress: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        p = event.progress
        self.progress.append(
            {
                "run_id": str(p.runId),
                "batch_id": p.batchId,
                "rows": p.numInputRows,
                "duration_ms": dict(p.durationMs),
            }
        )

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass


def fold_event_log(log_dir: str) -> dict:
    """Fold the event log into per-span and per-trigger sums.

    Returns ``{"spans": {span_id: agg}, "triggers": {(query run id,
    batch id): agg}, "unattributed": agg, "jobs": n}`` where ``agg``
    holds ``jobs``, ``stages``, ``tasks``, ``shuffle_write_bytes``, ``spill_bytes`` and
    ``task_skew`` (max over median task time in the aggregate's longest
    stage)."""
    files = sorted(
        f
        for f in glob.glob(os.path.join(log_dir, "**", "*"), recursive=True)
        if os.path.isfile(f) and os.path.basename(f).startswith(("events_", "local-", "app-"))
    )
    stage_owner: dict[int, tuple[str, object]] = {}
    task_times: dict[int, list[float]] = {}
    aggs: dict[tuple[str, object], dict] = {}

    def agg(owner):
        return aggs.setdefault(
            owner,
            {
                "jobs": 0,
                "stages": 0,
                "tasks": 0,
                "shuffle_write_bytes": 0,
                "spill_bytes": 0,
                "_stages": [],
            },
        )

    for path in files:
        codec = {".zstd": "zstd", ".lz4": "lz4"}.get(os.path.splitext(path)[1])
        with pa.input_stream(path, compression=codec) as f:
            lines = f.read().decode().splitlines()
        for line in lines:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or ""
                batch = props.get("streaming.sql.batchId")
                if group.startswith(GROUP_PREFIX):
                    owner = ("span", int(group[len(GROUP_PREFIX):]))
                elif group in (OWN_GROUP, BASE_GROUP):
                    owner = ("own", None)
                elif batch is not None:
                    owner = ("trigger", (group, int(batch)))
                else:
                    owner = ("unattributed", None)
                a = agg(owner)
                a["jobs"] += 1
                for st in ev.get("Stage Infos", []):
                    a["stages"] += 1
                    a["tasks"] += st.get("Number of Tasks", 0)
                    stage_owner.setdefault(st["Stage ID"], owner)
            elif kind == "SparkListenerTaskEnd":
                st = ev.get("Stage ID")
                owner = stage_owner.get(st, ("unattributed", None))
                a = agg(owner)
                info = ev.get("Task Info") or {}
                m = ev.get("Task Metrics") or {}
                sw = (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                a["shuffle_write_bytes"] += sw
                a["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
                task_times.setdefault(st, []).append(max(dur, 0))
    for st, times in task_times.items():
        owner = stage_owner.get(st, ("unattributed", None))
        agg(owner)["_stages"].append(times)
    out: dict = {"spans": {}, "triggers": {}, "unattributed": None, "jobs": 0}
    for owner, a in aggs.items():
        stages = a.pop("_stages")
        longest = max(stages, key=sum, default=[])
        med = statistics.median(longest) if longest else 0
        a["task_skew"] = (max(longest) / med) if med > 0 else 1.0
        kind, key = owner
        if kind == "own":
            continue
        out["jobs"] += a["jobs"]
        if kind == "span":
            out["spans"][key] = a
        elif kind == "trigger":
            out["triggers"][key] = a
        else:
            out["unattributed"] = a
    return out
