"""Tracing for the traced benchmark run: a span recorder, a reader for
the per-rank kernel logs (``runlog.timed_kernel``), and a reader for
Spark's JSON event log.

Spans are kept in memory and written once, at the end, as one JSON
file with each span's self time (its duration minus the time its
child spans cover). When a Spark session is attached, every span also
becomes the Spark job group of the jobs it submits, so the event log
can be split by span.
"""

from __future__ import annotations

import contextlib
import glob
import json
import os
import statistics
import time
from collections import defaultdict


class Tracer:
    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.spark = None
        self.run_id = ""

    @contextlib.contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": parent,
               "run": self.run_id, "start": time.perf_counter(),
               "end": None}
        self.spans.append(rec)
        self._stack.append(sid)
        sc = self.spark.sparkContext if self.spark is not None else None
        if sc is not None:
            sc.setLocalProperty("spark.jobGroup.id", f"{self.run_id}/{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            if sc is not None:
                up = self.spans[self._stack[-1]] if self._stack else None
                sc.setLocalProperty(
                    "spark.jobGroup.id",
                    f"{up['run']}/{up['name']}" if up else None)

    def wrap(self, name: str, fn):
        def traced(*a, **kw):
            with self.span(name):
                return fn(*a, **kw)
        return traced

    def self_times(self) -> dict[str, float]:
        """Summed self time per span name, in seconds."""
        child = defaultdict(float)
        for s in self.spans:
            if s["parent"] is not None:
                child[s["parent"]] += s["end"] - s["start"]
        out = defaultdict(float)
        for s in self.spans:
            out[s["name"]] += (s["end"] - s["start"]) - child[s["id"]]
        return dict(out)

    def totals(self, run: str | None = None) -> dict[str, float]:
        """Summed duration per span name (optionally for one run)."""
        out = defaultdict(float)
        for s in self.spans:
            if run is None or s["run"] == run:
                out[s["name"]] += s["end"] - s["start"]
        return dict(out)

    def dump(self, path: str, extra: dict | None = None) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [{**s, "start": round(s["start"] - t0, 6),
                  "end": round(s["end"] - t0, 6)} for s in self.spans]
        doc = {"self_time_s": {k: round(v, 6) for k, v in
                               sorted(self.self_times().items())},
               "spans": spans, **(extra or {})}
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as fh:
            json.dump(doc, fh, indent=1)


@contextlib.contextmanager
def patched(module, names: dict[str, str], tracer: Tracer):
    """Wrap ``module``'s functions ``names`` (attribute -> span name)
    in spans for the duration of the block. Callers inside the package
    look these names up at call time, so the spans sit exactly at the
    module boundary without changing package code."""
    saved = {a: getattr(module, a) for a in names}
    try:
        for a, span_name in names.items():
            setattr(module, a, tracer.wrap(span_name, saved[a]))
        yield
    finally:
        for a, fn in saved.items():
            setattr(module, a, fn)


def read_rank_logs(log_dir: str) -> dict:
    """Kernel calls from the rank logs ``runlog.timed_kernel`` writes:
    one 'blast call ends' line per work item with its elapsed seconds
    and hit count, one 'starts' line with its wall-clock start."""
    calls, starts = [], []
    for path in glob.glob(os.path.join(log_dir, "*.log")):
        with open(path) as fh:
            for line in fh:
                head, _, rest = line.rstrip("\n").partition(" ")
                f = rest.split(",")
                if f[0] == "blast call ends":
                    wall_end = int(f[2]) / 1e6
                    calls.append({"rank": head, "elapsed": float(f[5]),
                                  "end": wall_end,
                                  "hits": int(f[-1].split("=")[1])})
                elif f[0] == "blast call starts":
                    starts.append(int(f[2]) / 1e6)
    busy = defaultdict(float)
    for c in calls:
        busy[c["rank"]] += c["elapsed"]
    window = (max(c["end"] for c in calls) - min(starts)) if calls else 0.0
    return {"calls": len(calls),
            "calls_with_hits": sum(c["hits"] > 0 for c in calls),
            "busy_s": sum(busy.values()),
            "call_max_s": max((c["elapsed"] for c in calls), default=0.0),
            "rank_busy": dict(busy),
            "raw_hits": sum(c["hits"] for c in calls),
            "window_s": window}


def _roll_index(path: str) -> tuple:
    parts = os.path.basename(path).split("_")
    return (os.path.dirname(path),
            int(parts[1]) if len(parts) > 1 and parts[1].isdigit() else 0)


def read_event_log(log_dir: str) -> dict[str, dict]:
    """Per job group: jobs, tasks, shuffle write bytes, spill bytes
    (memory + disk) and task run seconds (for skew), from the JSON
    event log(s) under ``log_dir``."""
    stage_group: dict[int, str] = {}
    groups: dict[str, dict] = defaultdict(
        lambda: {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0,
                 "spill_bytes": 0, "task_s": []})
    # Spark 4 writes rolling logs: a directory of events_<n>_* files
    paths = [p for p in glob.glob(os.path.join(log_dir, "**", "*"),
                                  recursive=True)
             if os.path.isfile(p) and "appstatus" not in os.path.basename(p)]
    for path in sorted(paths, key=_roll_index):
        with open(path) as fh:
            for line in fh:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    g = (ev.get("Properties") or {}).get(
                        "spark.jobGroup.id") or "(none)"
                    groups[g]["jobs"] += 1
                    for sid in ev.get("Stage IDs", []):
                        stage_group[sid] = g
                elif kind == "SparkListenerTaskEnd":
                    g = stage_group.get(ev.get("Stage ID"), "(none)")
                    m = ev.get("Task Metrics") or {}
                    rec = groups[g]
                    rec["tasks"] += 1
                    rec["shuffle_write_bytes"] += (
                        m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0)
                    rec["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
                    rec["task_s"].append(
                        m.get("Executor Run Time", 0) / 1000.0)
    return dict(groups)


def merge_groups(groups: list[dict]) -> dict:
    """Sum several job groups' event-log records into one phase."""
    out = {"jobs": 0, "tasks": 0, "shuffle_write_bytes": 0,
           "spill_bytes": 0, "task_s": []}
    for g in groups:
        for k in ("jobs", "tasks", "shuffle_write_bytes", "spill_bytes"):
            out[k] += g[k]
        out["task_s"] += g["task_s"]
    ts = out.pop("task_s")
    p50 = statistics.median(ts) if ts else 0.0
    out["task_s_max_over_p50"] = (max(ts) / p50) if p50 > 0 else 0.0
    return out
