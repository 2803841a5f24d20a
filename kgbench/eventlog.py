"""Stdlib parser for Spark's JSON event log.

``summarize`` collects the jobs submitted inside one timed window, grouped by
job group (the groups the engine sets with ``session.job_group``, or the
per-query groups the benchmark sets for the op suite; jobs without a group
land in "ungrouped"). ``layer`` aggregates one or more groups into job,
stage and task counts, the wall time during which at least one of their jobs
ran, executor task time, GC time, shuffle read/write volume, disk spill and
task skew (max over median task duration). The driver gap is the part of the
window during which no job ran at all.
"""

from __future__ import annotations

import json
import os
import statistics

UNGROUPED = "ungrouped"
_MB = 1024.0 * 1024.0


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Seconds covered by the union of [start, end] millisecond intervals."""
    total = 0
    cur_start = cur_end = None
    for start, end in sorted(intervals):
        if cur_end is None or start > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = start, end
        else:
            cur_end = max(cur_end, end)
    if cur_end is not None:
        total += cur_end - cur_start
    return total / 1000.0


def read_events(log_dir: str) -> list[dict]:
    """Every event of every log file under ``log_dir``, including the
    per-application directories of rolling (v2) event logs; hidden files
    (Hadoop's .crc checksums) are skipped."""
    events = []
    for d, _, names in sorted(os.walk(log_dir)):
        for name in sorted(n for n in names if not n.startswith(".")):
            with open(os.path.join(d, name), encoding="utf-8") as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    if not events:
        raise ValueError(f"no Spark events under {log_dir}")
    return events


def _new_group() -> dict:
    return {
        "jobs": 0, "stages": 0, "task_s": 0.0, "gc_s": 0.0,
        "shuffle_read_mb": 0.0, "shuffle_write_mb": 0.0, "spill_mb": 0.0,
        "durations_ms": [], "spans_ms": [],
    }


def summarize(events: list[dict], t0_ms: int, t1_ms: int) -> dict:
    """Raw per-group figures for the jobs submitted within [t0_ms, t1_ms],
    plus the window's wall time and driver gap."""
    job_group: dict[int, str] = {}
    job_span: dict[int, list[int]] = {}
    stage_job: dict[int, int] = {}
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            submitted = ev["Submission Time"]
            if not t0_ms <= submitted <= t1_ms:
                continue
            jid = ev["Job ID"]
            props = ev.get("Properties") or {}
            job_group[jid] = props.get("spark.jobGroup.id") or UNGROUPED
            job_span[jid] = [submitted, submitted]
            for sid in ev.get("Stage IDs", []):
                stage_job.setdefault(sid, jid)
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_span:
            job_span[ev["Job ID"]][1] = ev["Completion Time"]

    groups: dict[str, dict] = {}
    for jid, g in job_group.items():
        acc = groups.setdefault(g, _new_group())
        acc["jobs"] += 1
        acc["spans_ms"].append(tuple(job_span[jid]))

    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerStageCompleted":
            sid = ev["Stage Info"]["Stage ID"]
            if sid in stage_job:
                groups[job_group[stage_job[sid]]]["stages"] += 1
        elif kind == "SparkListenerTaskEnd" and ev["Stage ID"] in stage_job:
            acc = groups[job_group[stage_job[ev["Stage ID"]]]]
            info = ev["Task Info"]
            m = ev.get("Task Metrics") or {}
            acc["durations_ms"].append(info["Finish Time"] - info["Launch Time"])
            acc["task_s"] += m.get("Executor Run Time", 0) / 1000.0
            acc["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
            rd = m.get("Shuffle Read Metrics") or {}
            acc["shuffle_read_mb"] += (
                rd.get("Remote Bytes Read", 0) + rd.get("Local Bytes Read", 0)
            ) / _MB
            wr = m.get("Shuffle Write Metrics") or {}
            acc["shuffle_write_mb"] += wr.get("Shuffle Bytes Written", 0) / _MB
            acc["spill_mb"] += m.get("Disk Bytes Spilled", 0) / _MB

    wall_s = (t1_ms - t0_ms) / 1000.0
    busy_s = _union_s([s for acc in groups.values() for s in acc["spans_ms"]])
    return {"groups": groups, "wall_s": wall_s, "gap_s": wall_s - busy_s}


def layer(summary: dict, names) -> dict:
    """Aggregate of the named groups (absent groups count as empty)."""
    accs = [summary["groups"][n] for n in names if n in summary["groups"]]
    durations = [d for a in accs for d in a["durations_ms"]]
    med = statistics.median(durations) if durations else 0
    out = {
        "s": _union_s([s for a in accs for s in a["spans_ms"]]),
        "tasks": len(durations),
        "task_skew": max(durations) / med if med > 0 else 0.0,
    }
    for key in ("jobs", "stages", "task_s", "gc_s", "shuffle_read_mb",
                "shuffle_write_mb", "spill_mb"):
        out[key] = sum(a[key] for a in accs)
    return out


def accounting(summary: dict) -> dict:
    """Per-group busy seconds, the driver gap, and the remainder that makes
    them add up to the window's wall time (negative when groups overlap)."""
    rows = {g: layer(summary, [g])["s"] for g in sorted(summary["groups"])}
    remainder = summary["wall_s"] - summary["gap_s"] - sum(rows.values())
    return {
        "groups_s": rows, "gap_s": summary["gap_s"],
        "remainder_s": remainder, "wall_s": summary["wall_s"],
    }
