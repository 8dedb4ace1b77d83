"""Roll a Spark event log's task metrics up per job group.

The benchmark brackets every layer call with
``SparkContext.setJobGroup(<layer>)``; Spark copies the group into the
properties of each stage it submits for that call. This module reads an
uncompressed JSON-lines event log (``spark.eventLog.compress=false``)
and sums each ``SparkListenerTaskEnd``'s metrics into the group that
submitted its stage.

Stdlib only: the default zstd-compressed log would need a module that
is not always installed.
"""

from __future__ import annotations

import json
from collections import defaultdict
from pathlib import Path
from statistics import median


def read_events(path: str | Path):
    """Yield the events of one JSON-lines event log file."""
    with open(path, encoding="utf-8") as fh:
        for line in fh:
            line = line.strip()
            if line:
                yield json.loads(line)


def _group(props: dict | None) -> str | None:
    return (props or {}).get("spark.jobGroup.id")


def _task_ok(ev: dict) -> bool:
    info = ev.get("Task Info") or {}
    reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
    return reason == "Success" and not info.get("Failed") and not info.get("Killed")


def rollup(events) -> dict[str, dict]:
    """Events -> {job group: metrics}. Tasks of stages submitted outside
    any group land under ``"<none>"``.

    Per group: jobs, tasks, failed_tasks, task_run_s (executor run
    time), task_cpu_s (executor CPU time), shuffle_write_bytes,
    spill_bytes (disk bytes spilled), records_out (records written),
    and task_skew: max / median task run time within the group's
    heaviest stage (by summed run time), 1.0 when it has one task.
    """
    stage_group: dict[int, str | None] = {}
    jobs: dict[str | None, int] = defaultdict(int)
    task_ends = []
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            g = _group(ev.get("Properties"))
            jobs[g] += 1
            for sid in ev.get("Stage IDs", []):
                stage_group.setdefault(sid, g)
        elif kind == "SparkListenerStageSubmitted":
            # the submitting job's group; wins over a JobStart listing
            # (a later job may list a stage it only skips)
            stage_group[ev["Stage Info"]["Stage ID"]] = _group(ev.get("Properties"))
        elif kind == "SparkListenerTaskEnd":
            task_ends.append(ev)

    out: dict[str, dict] = {}
    stage_runs: dict[tuple, list[float]] = defaultdict(list)

    def acc(g):
        key = g if g is not None else "<none>"
        if key not in out:
            out[key] = {"jobs": jobs.get(g, 0), "tasks": 0, "failed_tasks": 0,
                        "task_run_s": 0.0, "task_cpu_s": 0.0,
                        "shuffle_write_bytes": 0, "spill_bytes": 0,
                        "records_out": 0, "task_skew": 1.0}
        return key, out[key]

    for g in jobs:
        acc(g)
    for ev in task_ends:
        sid = ev.get("Stage ID")
        key, m = acc(stage_group.get(sid))
        m["tasks"] += 1
        if not _task_ok(ev):
            m["failed_tasks"] += 1
        tm = ev.get("Task Metrics") or {}
        run_s = tm.get("Executor Run Time", 0) / 1e3
        m["task_run_s"] += run_s
        m["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
        m["shuffle_write_bytes"] += (tm.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        m["spill_bytes"] += tm.get("Disk Bytes Spilled", 0)
        m["records_out"] += (tm.get("Output Metrics") or {}).get("Records Written", 0)
        stage_runs[(key, sid, ev.get("Stage Attempt ID", 0))].append(run_s)

    heaviest: dict[str, list[float]] = {}
    for (key, _sid, _att), runs in stage_runs.items():
        if key not in heaviest or sum(runs) > sum(heaviest[key]):
            heaviest[key] = runs
    for key, runs in heaviest.items():
        if len(runs) > 1:
            out[key]["task_skew"] = max(runs) / max(median(runs), 1e-3)
    return out


def log_files(event_dir: str | Path) -> list[Path]:
    """Files of the single finished application log in ``event_dir``: one
    plain file, or the ``events_<n>_*`` parts of a rolling log directory
    (``eventlog_v2_<app id>``, the Spark 4 default) in part order."""
    apps = [p for p in Path(event_dir).iterdir() if not p.name.endswith(".inprogress")]
    if len(apps) != 1:
        raise RuntimeError(f"expected one finished event log in {event_dir}, "
                           f"found {[p.name for p in apps]}")
    app = apps[0]
    if app.is_file():
        return [app]
    parts = [p for p in app.iterdir() if p.name.startswith("events_")]
    return sorted(parts, key=lambda p: int(p.name.split("_")[1]))


def rollup_dir(event_dir: str | Path) -> dict[str, dict]:
    """Roll up the single finished application log in ``event_dir``."""
    return rollup(ev for f in log_files(event_dir) for ev in read_events(f))
