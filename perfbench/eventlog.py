"""Stdlib-only reader for uncompressed Spark event logs.

The traced run enables ``spark.eventLog`` with ``compress=false`` (no
``zstandard`` module is available to decode the default codec) and sets a
job group around every call it times.  ``layer_stats`` rolls the
``SparkListenerTaskEnd`` metrics up per job group.  A job started from an
engine-internal thread carries no group (job groups are thread-local), so
it is attributed to the timed span whose wall-clock window contains its
submission time.
"""

from __future__ import annotations

import json
import os
import statistics


def event_files(path: str) -> list:
    """The ordered ``events_<n>_*`` parts of a rolling ``eventlog_v2_*``
    directory (the form Spark 4 writes)."""
    parts = [f for f in os.listdir(path) if f.startswith("events_")]
    if any(f.endswith((".zstd", ".lz4", ".snappy", ".lzf")) for f in parts):
        raise ValueError(f"compressed event log under {path}; "
                         "record with spark.eventLog.compress=false")
    parts.sort(key=lambda f: int(f.split("_")[1]))
    return [os.path.join(path, f) for f in parts]


def find_log(log_dir: str) -> str:
    """The single application log written under ``spark.eventLog.dir``."""
    apps = [f for f in os.listdir(log_dir) if not f.startswith(".")]
    if len(apps) != 1:
        raise ValueError(f"expected one event log in {log_dir}, found {apps}")
    return os.path.join(log_dir, apps[0])


def read_events(path: str):
    for f in event_files(path):
        with open(f, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def _empty() -> dict:
    return {"jobs": 0, "tasks": 0, "executor_cpu_s": 0.0, "gc_s": 0.0,
            "shuffle_write_bytes": 0, "spill_bytes": 0, "_stages": {}}


def layer_stats(events, spans: list) -> dict:
    """Per-layer Spark totals.

    ``spans``: (layer, start_s, end_s) for every call the benchmark timed,
    ``layer`` being the job group it set around the call.  Returns
    {layer: {jobs, tasks, executor_cpu_s, gc_s, shuffle_write_bytes,
    spill_bytes, task_skew}}; ``task_skew`` is the largest max/median
    task duration over the layer's stages that ran at least two tasks.
    Jobs matching no layer are counted under ``"unattributed"``."""
    names = {name for name, _, _ in spans}
    stage_layer: dict = {}
    out: dict = {}

    def layer_of(job_start: dict) -> str:
        group = (job_start.get("Properties") or {}).get("spark.jobGroup.id")
        if group in names:
            return group
        t = job_start.get("Submission Time", 0) / 1000.0
        for name, t0, t1 in spans:
            if t0 <= t <= t1:
                return name
        return "unattributed"

    for e in events:
        kind = e.get("Event")
        if kind == "SparkListenerJobStart":
            layer = layer_of(e)
            acc = out.setdefault(layer, _empty())
            acc["jobs"] += 1
            for sid in e.get("Stage IDs", []):
                stage_layer.setdefault(sid, layer)
        elif kind == "SparkListenerTaskEnd":
            layer = stage_layer.get(e.get("Stage ID"))
            if layer is None:
                continue
            acc = out[layer]
            tm = e.get("Task Metrics") or {}
            info = e.get("Task Info") or {}
            acc["tasks"] += 1
            acc["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
            acc["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
            acc["shuffle_write_bytes"] += (
                tm.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
            acc["spill_bytes"] += (tm.get("Memory Bytes Spilled", 0)
                                   + tm.get("Disk Bytes Spilled", 0))
            dur = info.get("Finish Time", 0) - info.get("Launch Time", 0)
            acc["_stages"].setdefault(e["Stage ID"], []).append(dur)
    for acc in out.values():
        skews = [max(d) / max(statistics.median(d), 1)
                 for d in acc.pop("_stages").values() if len(d) >= 2]
        acc["task_skew"] = max(skews) if skews else 1.0
    return out


def total(stats: dict, layers) -> dict:
    """Sum of ``layer_stats`` entries over ``layers`` (skew: the max)."""
    acc = {"jobs": 0, "tasks": 0, "executor_cpu_s": 0.0, "gc_s": 0.0,
           "shuffle_write_bytes": 0, "spill_bytes": 0, "task_skew": 1.0}
    for name in layers:
        s = stats.get(name)
        if s is None:
            continue
        for k in acc:
            acc[k] = max(acc[k], s[k]) if k == "task_skew" else acc[k] + s[k]
    return acc
