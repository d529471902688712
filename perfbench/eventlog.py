"""Spark event-log parsing (stdlib json only) and per-span attribution.

The log is written uncompressed (``spark.eventLog.compress=false``);
Spark 4 writes it as a rolling directory ``eventlog_v2_<app>`` holding
``events_<n>_<app>`` files, which are read in index order.
"""

from __future__ import annotations

import glob
import json
import os
import re
from collections import defaultdict


def load_events(log_dir: str) -> list[dict]:
    """Every event of every application log under ``log_dir``."""
    files = []
    for app in sorted(glob.glob(os.path.join(log_dir, "eventlog_v2_*"))):
        parts = glob.glob(os.path.join(app, "events_*"))
        parts.sort(key=lambda p: int(re.match(r"events_(\d+)_", os.path.basename(p)).group(1)))
        files += parts
    files += sorted(
        p for p in glob.glob(os.path.join(log_dir, "*"))
        if os.path.isfile(p) and not p.endswith((".crc", ".inprogress"))
    )
    events = []
    for path in files:
        with open(path, encoding="utf-8") as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


def _acc(task_info: dict, name: str) -> int:
    return sum(
        int(a.get("Update") or 0)
        for a in task_info.get("Accumulables", ())
        if a.get("Name") == name
    )


def _zero() -> dict:
    return {
        "jobs": 0, "tasks": 0, "executor_cpu_s": 0.0, "shuffle_bytes": 0,
        "spill_bytes": 0, "python_worker_s": 0.0, "gc_s": 0.0,
        "task_retries": 0, "intervals": [],
    }


class Attribution:
    """Job and task totals keyed by (job group, call site).

    ``call site`` is Spark's short form, e.g. ``collect at
    /path/raster/cog.py:539``; most operator jobs carry none, so the
    job group (one per benchmark span) is the primary key."""

    def __init__(self, events: list[dict]):
        self.keys: dict[tuple[str, str], dict] = defaultdict(_zero)
        stage_key: dict[int, tuple[str, str]] = {}
        job_key: dict[int, tuple[str, str]] = {}
        job_start: dict[int, int] = {}
        # cached RDD blocks currently held, by (executor, block id)
        blocks: dict[tuple[str, str], int] = {}
        self.cached_bytes_peak = 0
        for e in events:
            kind = e.get("Event")
            if kind == "SparkListenerJobStart":
                props = e.get("Properties") or {}
                key = (props.get("spark.jobGroup.id", ""),
                       props.get("callSite.short", ""))
                jid = e["Job ID"]
                job_key[jid] = key
                job_start[jid] = e["Submission Time"]
                for sid in e.get("Stage IDs", ()):
                    stage_key.setdefault(sid, key)
                self.keys[key]["jobs"] += 1
            elif kind == "SparkListenerJobEnd":
                jid = e["Job ID"]
                if jid in job_key:
                    self.keys[job_key[jid]]["intervals"].append(
                        (job_start[jid] / 1000.0, e["Completion Time"] / 1000.0)
                    )
            elif kind == "SparkListenerStageSubmitted":
                props = e.get("Properties") or {}
                sid = e["Stage Info"]["Stage ID"]
                if "spark.jobGroup.id" in props or sid not in stage_key:
                    stage_key[sid] = (props.get("spark.jobGroup.id", ""),
                                      props.get("callSite.short", ""))
            elif kind == "SparkListenerTaskEnd":
                k = self.keys[stage_key.get(e["Stage ID"], ("", ""))]
                info = e.get("Task Info") or {}
                m = e.get("Task Metrics") or {}
                k["tasks"] += 1
                if info.get("Failed") or info.get("Attempt", 0) > 0:
                    k["task_retries"] += 1
                k["executor_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                k["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0)
                k["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0)
                k["gc_s"] += m.get("JVM GC Time", 0) / 1000.0
                k["python_worker_s"] += _acc(info, "time to run Python workers") / 1000.0
            elif kind == "SparkListenerBlockUpdated":
                b = e["Block Updated Info"]
                bid = b["Block ID"]
                if not bid.startswith("rdd_"):
                    continue
                slot = (b["Block Manager ID"]["Executor ID"], bid)
                size = b.get("Memory Size", 0) + b.get("Disk Size", 0)
                if size and b["Storage Level"].get("Replication", 1):
                    blocks[slot] = size
                else:
                    blocks.pop(slot, None)
                self.cached_bytes_peak = max(self.cached_bytes_peak, sum(blocks.values()))

    def total(self, group: str | None = None, site: str | None = None) -> dict:
        """Sum over keys whose group equals ``group`` (any when None)
        and whose call site contains ``site`` (any when None)."""
        out = _zero()
        for (g, s), v in self.keys.items():
            if (group is None or g == group) and (site is None or site in s):
                for name, val in v.items():
                    out[name] = out[name] + val
        return out

    def groups(self) -> set[str]:
        return {g for g, _ in self.keys}


def covered(span: tuple[float, float], intervals) -> float:
    """Length of the part of ``span`` that the union of ``intervals``
    covers (overlapping intervals count once)."""
    s0, s1 = span
    clipped = sorted((max(a, s0), min(b, s1)) for a, b in intervals)
    total, cur0, cur1 = 0.0, None, None
    for a, b in clipped:
        if b <= a:
            continue
        if cur1 is None or a > cur1:
            if cur1 is not None:
                total += cur1 - cur0
            cur0, cur1 = a, b
        else:
            cur1 = max(cur1, b)
    if cur1 is not None:
        total += cur1 - cur0
    return total


def self_time(span: tuple[float, float], intervals) -> float:
    """A span's time not covered by its jobs: driver-side work."""
    return (span[1] - span[0]) - covered(span, intervals)
