"""Spans around calls into the program's layers, and the Spark event-log
reader that attributes jobs, stages and task metrics to them.

Only the traced run uses this module. It never changes package code:
layer timers are installed by rebinding public functions in the
modules that imported them (the plans modules do ``from
..sources.readers import load_table``, so rebinding ``readers`` alone
would miss their calls), and every span sets the Spark job group
``<op id>|<span name>`` so the event log can say which span started
which job.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import time
from collections import Counter, defaultdict
from contextlib import contextmanager

JOB_GROUP = "spark.jobGroup.id"

# SQL metrics the Python evaluation nodes report per task, by name.
PYTHON_METRICS = {
    "time to run Python workers": ("python_worker.run_s", 1e-3),
    "time to start Python workers": ("python_worker.start_init_s", 1e-3),
    "time to initialize Python workers": ("python_worker.start_init_s", 1e-3),
    "data sent to Python workers": ("python_worker.bytes_sent", 1),
    "data returned from Python workers": ("python_worker.bytes_returned", 1),
}

COMPRESSED_SUFFIXES = (".lz4", ".lzf", ".snappy", ".zstd")


class Tracer:
    """In-memory span recorder. A span is a dict with ``id``, ``name``,
    ``op``, ``parent`` (span id or None), ``start``, ``end`` and free
    ``attrs``; spans are written out by the caller when the run ends."""

    def __init__(self, sc):
        self.sc = sc
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, op: str | None = None, **attrs):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "op": op if op is not None else (parent["op"] if parent else None),
            "parent": parent["id"] if parent else None,
            "start": time.perf_counter(),
            "end": None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setLocalProperty(JOB_GROUP, f"{rec['op']}|{name}")
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.sc.setLocalProperty(
                JOB_GROUP, f"{parent['op']}|{parent['name']}" if parent else None
            )

    def install(self, package: str, module: str, func: str, span_name: str, key=None):
        """Time every call of ``<package>.<module>.<func>`` under
        ``span_name``, in every loaded package module that bound it;
        calls made while no span is open go straight through, so the
        plain ops of a traced run carry no tracing cost. ``key(args,
        kwargs)`` names the touched source, so the first
        touch in the process is marked ``cold``. Returns an undo."""
        orig = getattr(sys.modules[f"{package}.{module}"], func)
        seen: set = set()

        @functools.wraps(orig)
        def timed(*args, **kwargs):
            if not self._stack:
                # outside a traced op (the plain ops of a traced run)
                return orig(*args, **kwargs)
            attrs = {}
            if key is not None:
                k = key(args, kwargs)
                attrs = {"key": k, "cold": k not in seen}
                seen.add(k)
            with self.span(span_name, **attrs):
                return orig(*args, **kwargs)

        bound = [
            m for name, m in list(sys.modules.items())
            if m is not None and (name == package or name.startswith(package + "."))
            and getattr(m, func, None) is orig
        ]
        for m in bound:
            setattr(m, func, timed)

        def undo():
            for m in bound:
                setattr(m, func, orig)

        return undo


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> its duration minus the time its children cover
    (children of one span run one after another on one thread)."""
    child = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child[s["parent"]] += s["end"] - s["start"]
    return {s["id"]: (s["end"] - s["start"]) - child[s["id"]] for s in spans}


def event_log_files(log_dir: str) -> list[str]:
    """Every event file under ``log_dir`` in write order: Spark 4.x
    writes rolling ``eventlog_v2_<app>/events_<n>_<app>`` directories;
    single-file logs are read as they are."""
    files = []
    for entry in sorted(os.listdir(log_dir)):
        path = os.path.join(log_dir, entry)
        if os.path.isdir(path) and entry.startswith("eventlog_v2_"):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1].split(".")[0]))
            files += [os.path.join(path, f) for f in parts]
        elif os.path.isfile(path) and not entry.startswith("."):
            files.append(path)
    for f in files:
        if f.endswith(COMPRESSED_SUFFIXES):
            raise ValueError(f"compressed event log {f}: run with spark.eventLog.compress=false")
    return files


def read_events(log_dir: str):
    for path in event_log_files(log_dir):
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                if line.strip():
                    yield json.loads(line)


def totals_by_group(events) -> dict[str, Counter]:
    """Sum jobs, stages, tasks and task metrics per job group.

    Stages are attributed by the job group in their own submission
    properties, so a stage that a later job reuses (and skips) stays
    with the job that ran it. Job intervals are kept for the busy-time
    union (``job_intervals``)."""
    tot: dict[str, Counter] = defaultdict(Counter)
    stage_group: dict[tuple, str] = {}
    job_group: dict[int, str] = {}
    job_start: dict[int, float] = {}
    intervals: dict[str, list] = defaultdict(list)
    for e in events:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            g = (e.get("Properties") or {}).get(JOB_GROUP)
            job_group[e["Job ID"]] = g
            job_start[e["Job ID"]] = e["Submission Time"]
            tot[g]["spark.jobs"] += 1
        elif kind == "SparkListenerJobEnd":
            g = job_group.get(e["Job ID"])
            if e["Job ID"] in job_start:
                intervals[g].append((job_start[e["Job ID"]] / 1e3, e["Completion Time"] / 1e3))
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            g = (e.get("Properties") or {}).get(JOB_GROUP)
            stage_group[(info["Stage ID"], info["Stage Attempt ID"])] = g
        elif kind == "SparkListenerStageCompleted":
            info = e["Stage Info"]
            g = stage_group.get((info["Stage ID"], info["Stage Attempt ID"]))
            tot[g]["spark.stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            g = stage_group.get((e["Stage ID"], e["Stage Attempt ID"]))
            t = tot[g]
            t["spark.tasks"] += 1
            m = e.get("Task Metrics") or {}
            if m:
                t["spark.executor_run_s"] += m["Executor Run Time"] / 1e3
                t["spark.executor_cpu_s"] += m["Executor CPU Time"] / 1e9
                t["spark.jvm_gc_s"] += m["JVM GC Time"] / 1e3
                r = m["Shuffle Read Metrics"]
                t["spark.shuffle_read_bytes"] += r["Remote Bytes Read"] + r["Local Bytes Read"]
                t["spark.shuffle_write_bytes"] += m["Shuffle Write Metrics"]["Shuffle Bytes Written"]
                t["spark.spill_bytes"] += m["Memory Bytes Spilled"] + m["Disk Bytes Spilled"]
            for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                spec = PYTHON_METRICS.get(acc.get("Name"))
                if spec and acc.get("Update") is not None:
                    t[spec[0]] += float(acc["Update"]) * spec[1]
    for g, iv in intervals.items():
        tot[g]["job_intervals"] = iv  # type: ignore[assignment]
    return dict(tot)


def union_seconds(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
