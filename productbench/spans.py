"""Spans around layer calls, and the Spark event log folded by job group.

A span names one layer call made from the benchmark. Entering it sets the
Spark job group to the span's name, so every job the call runs is tagged
with its layer; leaving it restores the enclosing span's group. Spans are
kept in memory and printed with the run's report when it ends.

The event log is read uncompressed (``spark.eventLog.compress=false``).
Jobs map to a group through ``SparkListenerJobStart`` properties; tasks map
to jobs through their stage. Streaming queries tag their jobs with the
query's run id, so ``fold_event_log`` takes an alias map from such ids to
span names.
"""

from __future__ import annotations

import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

ENGINE_KEYS = ("exec_run_s", "exec_cpu_s", "python_bytes", "shuffle_bytes", "spill_bytes")

_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "parent": parent["name"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
            **attrs,
        }
        self._stack.append(rec)
        self.sc.setJobGroup(name, name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if parent is not None:
                self.sc.setJobGroup(parent["name"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)


def self_times(spans: list[dict]) -> dict[str, float]:
    """Span duration minus the part its direct children cover, summed by name.

    Children run one after another inside their parent, so the covered part
    is the sum of the children's durations.
    """
    child_s: dict[int, float] = defaultdict(float)
    by_name = {}
    for s in spans:
        by_name.setdefault(s["name"], []).append(s)
    for s in spans:
        if s["parent"] is None:
            continue
        # the parent is the innermost enclosing span of that name
        for p in by_name[s["parent"]]:
            if p["start"] <= s["start"] and s["end"] <= p["end"]:
                child_s[id(p)] += s["end"] - s["start"]
                break
    out: dict[str, float] = defaultdict(float)
    for s in spans:
        out[s["name"]] += (s["end"] - s["start"]) - child_s[id(s)]
    return dict(out)


def find_event_log(log_dir: str) -> str:
    files = [
        os.path.join(log_dir, f)
        for f in os.listdir(log_dir)
        if not f.startswith(".") and not f.endswith(".inprogress")
    ]
    if len(files) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {files}")
    return files[0]


def fold_event_log(path: str, aliases: dict[str, str] | None = None) -> dict[str, dict]:
    """Per job group: executor run/CPU seconds, Python-worker bytes, shuffle
    bytes written and bytes spilled, summed over the group's tasks."""
    aliases = aliases or {}
    stage_group: dict[int, str] = {}
    totals: dict[str, dict] = defaultdict(lambda: dict.fromkeys(ENGINE_KEYS, 0.0))
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                group = props.get("spark.jobGroup.id") or "ungrouped"
                group = aliases.get(group, group)
                for sid in ev.get("Stage IDs", []):
                    stage_group.setdefault(sid, group)
            elif kind == "SparkListenerTaskEnd":
                group = stage_group.get(ev.get("Stage ID"), "ungrouped")
                t = totals[group]
                m = ev.get("Task Metrics") or {}
                t["exec_run_s"] += m.get("Executor Run Time", 0) / 1e3
                t["exec_cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                t["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                t["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
                for acc in (ev.get("Task Info") or {}).get("Accumulables", []):
                    if acc.get("Name") in (_PY_SENT, _PY_RETURNED):
                        t["python_bytes"] += float(acc.get("Update") or 0)
    return {g: dict(v) for g, v in totals.items()}
