"""Per-layer metrics of a traced run, from its spans, the folded event log,
the streaming listener and the benchmark's own notes.

A layer a workload does not exercise reads 0 (no calls, no time).
"""

from __future__ import annotations

import statistics


def _med(xs) -> float:
    xs = [x for x in xs if x is not None]
    return float(statistics.median(xs)) if xs else 0.0


def _dur(spans) -> list[float]:
    return [s["end"] - s["start"] for s in spans]


def per_layer(w, tracer, log: dict, gc_s: float) -> dict:
    apply = tracer.of("operators.merge.apply_batch")
    apply_log = [log["spans"].get(s["id"], {}) for s in apply]
    # streaming: one trigger is the unit of work of the merge layer
    runs = {str(p["run_id"]) for p in w.traced_progress}
    trig_log = [a for (run, _b), a in log["triggers"].items() if run in runs]
    if w.name == "stream_trickle":
        unit_log = trig_log
        jobs = [a["jobs"] for a in trig_log]
        stages = [a["stages"] for a in trig_log]
        tasks = [a["tasks"] for a in trig_log]
    else:
        unit_log = apply_log
        jobs = [s["jobs"] for s in apply]
        stages = [s["stages"] for s in apply]
        tasks = [s["tasks"] for s in apply]
    prog = [p["duration_ms"] for p in w.traced_progress]
    traced = [t for on, t in w.pass_walls if on]
    untraced = [t for on, t in w.pass_walls if not on]
    unattributed = log["unattributed"] or {"jobs": 0}
    return {
        "operators.lww.reduce_s": _med(s["seconds"] for s in tracer.of("operators.lww.reduce")),
        "operators.lww.collapse_ratio": _med(w.layer.get("collapse_ratio", [])),
        "operators.explode.flatten_s": _med(
            s["seconds"] for s in tracer.of("operators.explode.flatten")
        ),
        "operators.explode.rows_out": _med(w.layer.get("rows_out", [])),
        "operators.merge.apply_s": _med(_dur(apply)),
        "operators.merge.jobs_per_batch": _med(jobs),
        "operators.merge.stages_per_batch": _med(stages),
        "operators.merge.tasks_per_batch": _med(tasks),
        "operators.merge.shuffle_write_bytes": _med(a.get("shuffle_write_bytes") for a in unit_log),
        "operators.merge.spill_bytes": float(sum(a.get("spill_bytes", 0) for a in unit_log)),
        "operators.merge.task_skew": _med(a.get("task_skew") for a in unit_log),
        "operators.merge.maintain_s": _med(w.layer.get("maintain_s", [])),
        "lake.table.read_s": _med(_dur(tracer.of("lake.table.read"))),
        "lake.table.open_segments": _med(w.layer.get("open_segments", [])),
        "lake.table.files_per_lookup": _med(w.layer.get("files_per_lookup", [])),
        "lake.table.read_changes_s": _med(w.layer.get("read_changes_s", [])),
        "lake.table.files_live": float(w.files_live()),
        "lake.table.bytes_written_per_batch": _med(w.layer.get("bytes_written_per_batch", [])),
        "streaming.pipeline.trigger_s": _med(d.get("triggerExecution") for d in prog) / 1000,
        "streaming.pipeline.add_batch_s": _med(d.get("addBatch") for d in prog) / 1000,
        "streaming.pipeline.wal_commit_s": _med(d.get("walCommit") for d in prog) / 1000,
        "streaming.pipeline.latest_offset_s": _med(d.get("latestOffset") for d in prog) / 1000,
        "streaming.pipeline.query_planning_s": _med(d.get("queryPlanning") for d in prog) / 1000,
        "streaming.pipeline.jobs_per_trigger": _med(a["jobs"] for a in trig_log),
        "sources.poller.poll_s": _med(_dur(tracer.of("sources.poller.poll"))),
        "sources.poller.polls": float(len(tracer.of("sources.poller.poll"))),
        "spark.jobs": float(log["jobs"]),
        "spark.unattributed_jobs": float(unattributed["jobs"]),
        "spark.gc_s": gc_s,
        "trace.overhead_ratio": _med(traced) / _med(untraced) if untraced else 1.0,
    }
