"""Spans recorded around the benchmark's calls into each layer, and the
Spark event-log counters attributed to them.

Every span is timed. In a traced run each span also tags the Spark jobs it
issues with its own job group, so the event log (switched on for that
session only) can be split per span; spans stay in memory and are written
once, at exit (``run.per_layer``).
"""

from __future__ import annotations

import glob
import json
import os
import time
from collections import defaultdict
from contextlib import contextmanager

# Event-log counters kept per job group. Times arrive in ms (task metrics
# and the Python-runner SQL metrics) or ns (executor CPU time).
COUNTERS = (
    "jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
    "shuffle_write_bytes", "shuffle_read_bytes", "result_bytes",
    "python_start_s", "python_init_s", "python_run_s",
)
_PYTHON_ACCUMS = {
    "time to start Python workers": "python_start_s",
    "time to initialize Python workers": "python_init_s",
    "time to run Python workers": "python_run_s",
}


class Tracer:
    """Nested spans: name, layer, start, end, parent, job group, counts."""

    def __init__(self, sc=None):
        # ``sc`` is set only in a traced run: it is what tags job groups
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, layer: str, **counts):
        parent = self._stack[-1] if self._stack else None
        s = {"id": len(self.spans), "name": name, "layer": layer,
             "parent": parent["id"] if parent else None,
             "group": f"span-{len(self.spans)}", "counts": dict(counts)}
        self.spans.append(s)
        self._stack.append(s)
        if self.sc is not None:
            self.sc.setJobGroup(s["group"], f"{layer}:{name}")
        s["start"] = time.perf_counter()
        try:
            yield s
        finally:
            s["end"] = time.perf_counter()
            self._stack.pop()
            if self.sc is not None:
                if parent is not None:
                    self.sc.setJobGroup(parent["group"],
                                        f"{parent['layer']}:{parent['name']}")
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)
                    self.sc.setLocalProperty("spark.job.description", None)


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> duration minus the part of it its child spans cover."""
    children = defaultdict(list)
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]].append((s["start"], s["end"]))
    out = {}
    for s in spans:
        covered, cur_lo, cur_hi = 0.0, None, None
        for lo, hi in sorted(children[s["id"]]):
            lo, hi = max(lo, s["start"]), min(hi, s["end"])
            if hi <= lo:
                continue
            if cur_hi is None or lo > cur_hi:
                if cur_hi is not None:
                    covered += cur_hi - cur_lo
                cur_lo, cur_hi = lo, hi
            else:
                cur_hi = max(cur_hi, hi)
        if cur_hi is not None:
            covered += cur_hi - cur_lo
        out[s["id"]] = (s["end"] - s["start"]) - covered
    return out


def event_log_files(log_dir: str) -> list[str]:
    """The event files under ``log_dir``: one plain file per application,
    or the ``events_<n>_*`` parts of a rolling ``eventlog_v2_*`` directory,
    in write order."""
    files = []
    for entry in sorted(glob.glob(os.path.join(log_dir, "*"))):
        base = os.path.basename(entry)
        if os.path.isdir(entry):
            parts = glob.glob(os.path.join(entry, "events_*"))
            files += sorted(parts, key=lambda p: int(
                os.path.basename(p).split("_")[1]))
        elif not base.startswith(".") and not base.endswith(".inprogress"):
            files.append(entry)
    return files


def parse_event_log(paths) -> dict[str | None, dict[str, float]]:
    """Job group (None when untagged) -> COUNTERS summed over its jobs.
    Stage ids restart with each application, so the stage -> group map
    starts afresh at every application start."""
    if isinstance(paths, str):
        paths = [paths]
    stage_group: dict[int, str | None] = {}
    out: dict[str | None, dict[str, float]] = {}
    seen_stages: set[int] = set()

    def bucket(group):
        if group not in out:
            out[group] = {c: 0 for c in COUNTERS}
        return out[group]

    for path in paths:
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                ev = e.get("Event")
                if ev == "SparkListenerApplicationStart":
                    stage_group.clear()
                    seen_stages.clear()
                elif ev == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id")
                    bucket(group)["jobs"] += 1
                    for sid in e.get("Stage IDs", []):
                        stage_group.setdefault(sid, group)
                elif ev == "SparkListenerTaskEnd":
                    sid = e["Stage ID"]
                    b = bucket(stage_group.get(sid))
                    if sid not in seen_stages:
                        seen_stages.add(sid)
                        b["stages"] += 1
                    b["tasks"] += 1
                    tm = e.get("Task Metrics") or {}
                    b["executor_run_s"] += tm.get("Executor Run Time", 0) / 1e3
                    b["executor_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    b["gc_s"] += tm.get("JVM GC Time", 0) / 1e3
                    b["result_bytes"] += tm.get("Result Size", 0)
                    sw = tm.get("Shuffle Write Metrics") or {}
                    b["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
                    sr = tm.get("Shuffle Read Metrics") or {}
                    b["shuffle_read_bytes"] += (sr.get("Remote Bytes Read", 0)
                                                + sr.get("Local Bytes Read", 0))
                    for a in (e.get("Task Info") or {}).get("Accumulables", []):
                        key = _PYTHON_ACCUMS.get(a.get("Name"))
                        if key and a.get("Update") is not None:
                            b[key] += float(a["Update"]) / 1e3
    return out
