"""Traced-run helpers: Spark event-log parsing, Catalyst phases, RSS.

Everything here observes the engine from outside: the per-call job
group set with ``SparkContext.setJobGroup``, the uncompressed
non-rolling event log Spark writes when ``spark.eventLog.enabled`` is
on, and ``QueryExecution.tracker().phases()``.
"""

from __future__ import annotations

import glob
import json
import os
from collections import defaultdict

MB = 1024 * 1024

#: per-group Spark execution counters, in the units the metrics report
EXEC_KEYS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s",
    "shuffle_write_mb", "shuffle_read_mb", "spill_mb", "gc_s",
)


def event_log_conf(log_dir: str) -> dict[str, str]:
    os.makedirs(log_dir, exist_ok=True)
    return {
        "spark.eventLog.enabled": "true",
        "spark.eventLog.dir": "file://" + log_dir,
        "spark.eventLog.compress": "false",
        "spark.eventLog.rolling.enabled": "false",
    }


def parse_event_logs(log_dir: str) -> dict[str, dict[str, float]]:
    """Execution counters per job group, summed over every event log
    under ``log_dir`` (one file per SparkContext)."""
    groups: dict[str, dict[str, float]] = defaultdict(lambda: dict.fromkeys(EXEC_KEYS, 0.0))
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        stage_group: dict[int, str] = {}
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    gid = (ev.get("Properties") or {}).get("spark.jobGroup.id")
                    if gid is None:
                        continue
                    groups[gid]["jobs"] += 1
                    for sid in ev.get("Stage IDs", ()):
                        stage_group.setdefault(sid, gid)
                elif kind == "SparkListenerStageCompleted":
                    info = ev["Stage Info"]
                    gid = stage_group.get(info["Stage ID"])
                    if gid is None:
                        continue
                    groups[gid]["stages"] += 1
                elif kind == "SparkListenerTaskEnd":
                    gid = stage_group.get(ev.get("Stage ID"))
                    m = ev.get("Task Metrics")
                    if gid is None or not m:
                        continue
                    g = groups[gid]
                    g["tasks"] += 1
                    g["executor_run_s"] += m.get("Executor Run Time", 0) / 1e3
                    g["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                    g["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                    g["spill_mb"] += (
                        m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                    ) / MB
                    sw = m.get("Shuffle Write Metrics") or {}
                    g["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / MB
                    sr = m.get("Shuffle Read Metrics") or {}
                    g["shuffle_read_mb"] += (
                        sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                    ) / MB
    return dict(groups)


def sum_groups(groups: dict[str, dict[str, float]], pred) -> dict[str, float]:
    out = dict.fromkeys(EXEC_KEYS, 0.0)
    for gid, g in groups.items():
        if pred(gid):
            for k in EXEC_KEYS:
                out[k] += g[k]
    return out


def catalyst_phases(df) -> dict[str, float]:
    """Force the physical plan of ``df`` and return the seconds its own
    QueryExecution spent in analysis, optimization and planning."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for name in ("analysis", "optimization", "planning"):
        opt = phases.get(name)
        out[name] = opt.get().durationMs() / 1e3 if opt.isDefined() else 0.0
    return out


def _hwm_mb(pid: int) -> float:
    with open(f"/proc/{pid}/status", encoding="ascii") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024
    raise RuntimeError(f"no VmHWM line for pid {pid}")


def peak_rss_mb(jvm_pid: int) -> float:
    """High-water RSS of this Python driver plus the driver JVM."""
    return _hwm_mb(os.getpid()) + _hwm_mb(jvm_pid)


def dir_mb(path: str) -> float:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total / MB
