"""Readings from Spark's own public status surfaces: the status tracker
(jobs, stages and tasks per job group), the event log (task CPU, GC,
shuffle and spill), streaming progress, and the driver JVM's peak RSS."""

from __future__ import annotations

import json
import os
import platform

EVENT_LOG_DIR = "eventlog"


def event_log_submit_args(log_dir: str) -> str:
    """``PYSPARK_SUBMIT_ARGS`` that turn the event log on at JVM launch.
    Only the traced run sets it, so untraced timings never pay for it."""
    return (
        "--conf spark.eventLog.enabled=true "
        f"--conf spark.eventLog.dir=file://{os.path.abspath(log_dir)} "
        "--conf spark.eventLog.compress=false pyspark-shell"
    )


def jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())  # noqa: SLF001


def peak_rss_mb(pid: int) -> float:
    """The process's ``VmHWM`` (peak resident set) in MiB."""
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM for pid {pid}")


def environment(spark) -> dict:
    jvm = spark.sparkContext._jvm  # noqa: SLF001
    with open("/proc/meminfo") as f:
        mem_kb = int(next(line for line in f if line.startswith("MemTotal:")).split()[1])
    return {
        "nproc": len(os.sched_getaffinity(0)),
        "ram_gb": round(mem_kb / 2**20, 1),
        "spark": spark.version,
        "java": str(jvm.java.lang.System.getProperty("java.version")),
        "python": platform.python_version(),
    }


def job_group_counts(spark, group: str) -> tuple[int, int, int]:
    """(jobs, stages, tasks) Spark ran under job group ``group``."""
    tracker = spark.sparkContext.statusTracker()
    jobs = stages = tasks = 0
    for job_id in tracker.getJobIdsForGroup(group):
        jobs += 1
        info = tracker.getJobInfo(job_id)
        for stage_id in info.stageIds if info else []:
            stage = tracker.getStageInfo(stage_id)
            if stage is not None:
                stages += 1
                tasks += stage.numTasks
    return jobs, stages, tasks


def event_log_totals(log_dir: str, groups: set[str]) -> dict[str, float]:
    """Sum task metrics over every task of the jobs run under ``groups``,
    read from the event logs in ``log_dir`` (written when the session
    stops)."""
    totals = {"task_cpu_s": 0.0, "gc_s": 0.0, "shuffle_bytes": 0.0, "spill_bytes": 0.0}
    # a rolling event log is a directory of parts beside hidden checksums
    paths = sorted(
        os.path.join(d, f) for d, _, fs in os.walk(log_dir) for f in fs if not f.startswith(".")
    )
    stage_group: dict[int, str] = {}
    for path in paths:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    group = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    for sid in ev.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif kind == "SparkListenerTaskEnd" and stage_group.get(ev.get("Stage ID")) in groups:
                    m = ev.get("Task Metrics") or {}
                    totals["task_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    totals["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    totals["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0
                    )
                    totals["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                        "Disk Bytes Spilled", 0
                    )
    return totals


def progress_means(progress: list, keys: tuple[str, ...]) -> dict[str, float]:
    """Mean of each ``durationMs`` entry, and of ``numInputRows``, over
    the given streaming progress events."""
    out = {k: 0.0 for k in keys}
    out["numInputRows"] = 0.0
    if not progress:
        return out
    for p in progress:
        for k in keys:
            out[k] += p.durationMs.get(k, 0) / len(progress)
        out["numInputRows"] += p.numInputRows / len(progress)
    return out
