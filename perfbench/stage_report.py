"""Spark event log -> per-job-group stage report.

Reads an UNCOMPRESSED Spark event log (``spark.eventLog.compress=false``;
a rolling ``eventlog_v2_*`` directory or a single file) and folds jobs,
stages and task metrics into one row per job group:

    jobs, stages, tasks, busy_s (sum of executor run time),
    task_max_s / task_median_s, shuffle_read_bytes / shuffle_write_bytes,
    spill_bytes, gc_s, python_start_s / python_init_s / python_run_s,
    python_bytes (sent + returned), checkpoint_stages,
    single_task_stages (stages that ran on ONE task for > 250 ms)

Jobs carry their group in the ``spark.jobGroup.id`` job property. Jobs
submitted from threads that have no group can be assigned by the caller
through ``key_of(group, submit_ms)``.

Usage: python3 perfbench/stage_report.py <event log dir or file>
"""

from __future__ import annotations

import glob
import json
import os
import statistics
import sys
from collections.abc import Callable
from dataclasses import dataclass, field

SINGLE_TASK_FLAG_MS = 250

# SQL metric names of the Python runner (PythonSQLMetrics), in ms / bytes
PY_START = "time to start Python workers"
PY_INIT = "time to initialize Python workers"
PY_RUN = "time to run Python workers"
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"


@dataclass
class Task:
    run_ms: int
    gc_ms: int
    spill: int
    shuffle_read: int
    shuffle_write: int
    py: dict[str, int]


@dataclass
class Stage:
    stage_id: int
    name: str
    group: str | None
    submit_ms: int
    end_ms: int = 0
    tasks: list[Task] = field(default_factory=list)


@dataclass
class Job:
    job_id: int
    group: str | None
    submit_ms: int
    end_ms: int = 0


@dataclass
class EventLog:
    jobs: list[Job]
    stages: list[Stage]


def _files(path: str) -> list[str]:
    if os.path.isfile(path):
        return [path]
    parts = glob.glob(os.path.join(path, "events_*"))
    # rolling logs: events_<n>_<app id>, in n order
    return sorted(parts, key=lambda p: int(os.path.basename(p).split("_")[1]))


def load(path: str) -> EventLog:
    jobs: dict[int, Job] = {}
    stages: dict[tuple[int, int], Stage] = {}
    for f in _files(path):
        with open(f) as fh:
            for line in fh:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    group = e.get("Properties", {}).get("spark.jobGroup.id")
                    jobs[e["Job ID"]] = Job(e["Job ID"], group, e["Submission Time"])
                elif kind == "SparkListenerJobEnd":
                    jobs[e["Job ID"]].end_ms = e["Completion Time"]
                elif kind == "SparkListenerStageSubmitted":
                    si = e["Stage Info"]
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    key = (si["Stage ID"], si["Stage Attempt ID"])
                    stages[key] = Stage(
                        si["Stage ID"], si["Stage Name"], group,
                        si.get("Submission Time", 0),
                    )
                elif kind == "SparkListenerStageCompleted":
                    si = e["Stage Info"]
                    st = stages.get((si["Stage ID"], si["Stage Attempt ID"]))
                    if st is not None:
                        st.end_ms = si.get("Completion Time", 0)
                        st.submit_ms = si.get("Submission Time", st.submit_ms)
                elif kind == "SparkListenerTaskEnd":
                    st = stages.get((e["Stage ID"], e["Stage Attempt ID"]))
                    tm = e.get("Task Metrics")
                    if st is None or not tm:
                        continue
                    sr = tm["Shuffle Read Metrics"]
                    acc = {
                        a.get("Name"): a.get("Update")
                        for a in e["Task Info"].get("Accumulables", [])
                    }
                    py = {
                        k: int(acc[k])
                        for k in (PY_START, PY_INIT, PY_RUN, PY_SENT, PY_RECV)
                        if acc.get(k) is not None
                    }
                    st.tasks.append(
                        Task(
                            run_ms=tm["Executor Run Time"],
                            gc_ms=tm["JVM GC Time"],
                            spill=tm["Memory Bytes Spilled"] + tm["Disk Bytes Spilled"],
                            shuffle_read=sr["Remote Bytes Read"] + sr["Local Bytes Read"],
                            shuffle_write=tm["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                            py=py,
                        )
                    )
    return EventLog(sorted(jobs.values(), key=lambda j: j.job_id),
                    sorted(stages.values(), key=lambda s: s.stage_id))


def summarize(jobs: list[Job], stages: list[Stage]) -> dict:
    """One report row over a set of jobs and the stages they ran."""
    tasks = [t for s in stages for t in s.tasks]
    runs = [t.run_ms for t in tasks]

    def py(k: str) -> int:
        return sum(t.py.get(k, 0) for t in tasks)

    single = [
        (s.name, (s.end_ms - s.submit_ms) / 1000)
        for s in stages
        if len(s.tasks) == 1 and s.end_ms - s.submit_ms > SINGLE_TASK_FLAG_MS
    ]
    med = statistics.median(runs) if runs else 0
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": len(tasks),
        "busy_s": sum(runs) / 1000,
        "task_max_s": max(runs, default=0) / 1000,
        "task_median_s": med / 1000,
        "task_skew": max(runs) / med if med else 0.0,
        "shuffle_read_bytes": sum(t.shuffle_read for t in tasks),
        "shuffle_write_bytes": sum(t.shuffle_write for t in tasks),
        "spill_bytes": sum(t.spill for t in tasks),
        "gc_s": sum(t.gc_ms for t in tasks) / 1000,
        "python_start_s": py(PY_START) / 1000,
        "python_init_s": py(PY_INIT) / 1000,
        "python_run_s": py(PY_RUN) / 1000,
        "python_bytes": py(PY_SENT) + py(PY_RECV),
        "checkpoint_stages": sum(s.name.startswith("localCheckpoint") for s in stages),
        "single_task_stages": single,
        "single_task_stage_s": sum(sec for _, sec in single),
        "job_cover_s": _cover_s(jobs),
    }


def _cover_s(jobs: list[Job]) -> float:
    """Wall time covered by the union of the jobs' [submit, end] intervals."""
    total, cur_lo, cur_hi = 0, None, None
    for j in sorted(jobs, key=lambda j: j.submit_ms):
        end = max(j.end_ms, j.submit_ms)
        if cur_hi is None or j.submit_ms > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = j.submit_ms, end
        else:
            cur_hi = max(cur_hi, end)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000


def report(
    log: EventLog,
    key_of: Callable[[str | None, int], str | None] = lambda g, _t: g,
) -> dict[str, dict]:
    """Rows keyed by ``key_of(job group, submit time ms)``; jobs and
    stages whose key is None are left out."""
    jobs: dict[str, list[Job]] = {}
    stages: dict[str, list[Stage]] = {}
    for j in log.jobs:
        k = key_of(j.group, j.submit_ms)
        if k is not None:
            jobs.setdefault(k, []).append(j)
    for s in log.stages:
        k = key_of(s.group, s.submit_ms)
        if k is not None:
            stages.setdefault(k, []).append(s)
    return {k: summarize(jobs.get(k, []), stages.get(k, [])) for k in sorted(set(jobs) | set(stages))}


def main(argv: list[str]) -> int:
    if len(argv) != 1:
        print(__doc__.strip().splitlines()[-1], file=sys.stderr)
        return 2
    for group, row in report(load(argv[0]), lambda g, _t: g or "(no group)").items():
        flags = "".join(f"\n    single-task {n!r}: {s:.3f}s" for n, s in row.pop("single_task_stages"))
        print(f"{group}: " + " ".join(f"{k}={v:.3f}" if isinstance(v, float) else f"{k}={v}"
                                       for k, v in row.items()) + flags)
    return 0


if __name__ == "__main__":
    raise SystemExit(main(sys.argv[1:]))
