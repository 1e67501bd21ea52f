"""Session-layer counters: job/stage/task counts from Spark's status
tracker, and shuffle, spill, GC and task-skew figures from the event
log (written in traced runs only). Both are keyed by job group; the
benchmark sets one group per iteration."""

from __future__ import annotations

import json
import os
import statistics


def group_counts(sc, group: str) -> dict:
    """jobs, stages, tasks and failed tasks of one job group."""
    tracker = sc.statusTracker()
    jobs = tracker.getJobIdsForGroup(group)
    stages = set()
    for jid in jobs:
        info = tracker.getJobInfo(jid)
        if info is not None:
            stages.update(info.stageIds)
    tasks = failed = 0
    for sid in stages:
        st = tracker.getStageInfo(sid)
        if st is not None:
            tasks += st.numTasks
            failed += st.numFailedTasks
    return {"jobs": len(jobs), "stages": len(stages), "tasks": tasks,
            "failed_tasks": failed}


def event_log_path(log_dir: str, app_id: str) -> str | None:
    for name in (app_id, app_id + ".inprogress"):
        path = os.path.join(log_dir, name)
        if os.path.exists(path):
            return path
    return None


def event_log_metrics(path: str) -> dict[str, dict]:
    """Per job group: shuffle write/read bytes, spilled bytes, GC
    seconds, and task skew (max / median task duration in the stage
    whose tasks ran longest in total)."""
    stage_group: dict[int, str] = {}
    acc: dict[str, dict] = {}
    stage_tasks: dict[int, list[float]] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                group = (ev.get("Properties") or {}).get(
                    "spark.jobGroup.id")
                if group is not None:
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = group
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"))
                if group is None:
                    continue
                a = acc.setdefault(group, {
                    "shuffle_write_bytes": 0, "shuffle_read_bytes": 0,
                    "spill_bytes": 0, "gc_s": 0.0, "stages": set()})
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                a["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                a["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                            + sr.get("Local Bytes Read", 0))
                a["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                     + m.get("Disk Bytes Spilled", 0))
                a["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                info = ev.get("Task Info") or {}
                sid = ev["Stage ID"]
                a["stages"].add(sid)
                stage_tasks.setdefault(sid, []).append(
                    (info.get("Finish Time", 0)
                     - info.get("Launch Time", 0)) / 1000.0)
    out = {}
    for group, a in acc.items():
        heaviest = max(a.pop("stages"),
                       key=lambda s: sum(stage_tasks[s]))
        durs = stage_tasks[heaviest]
        med = statistics.median(durs)
        a["task_skew"] = max(durs) / med if med > 0 else 1.0
        out[group] = a
    return out
