"""Traced-run instruments: layer spans and Spark event-log attribution.

Both measure the library from outside. `Spans` wraps the public
functions of each layer module; `parse_event_log` reads the
uncompressed, non-rolling event log a traced session writes, and
`attribute` charges its jobs, stages and task metrics to the benchmark's
op phases (tagged with one Spark job group per op phase).
"""

from __future__ import annotations

import functools
import importlib
import inspect
import json
import sys
import threading
import time

# layer name -> module; the span names are the layer names
LAYERS = {
    "session": "data_table_spark.session",
    "core": "data_table_spark.core",
    "operators.joins": "data_table_spark.operators.joins",
    "operators.grouping": "data_table_spark.operators.grouping",
    "operators.window": "data_table_spark.operators.window",
    "operators.reshape": "data_table_spark.operators.reshape",
    "operators.asof": "data_table_spark.operators.asof",
    "operators.overlaps": "data_table_spark.operators.overlaps",
    "operators.setops": "data_table_spark.operators.setops",
    "functions": "data_table_spark.functions",
    "pipeline.text": "data_table_spark.pipeline.text",
    "pipeline.dedup": "data_table_spark.pipeline.dedup",
    "pipeline.similarity": "data_table_spark.pipeline.similarity",
    "pipeline.curation": "data_table_spark.pipeline.curation",
    "sources.fread": "data_table_spark.sources.fread",
    "sources.fwrite": "data_table_spark.sources.fwrite",
    "streaming": "data_table_spark.streaming",
}

# class methods that are entry points although their names are private
_ENTRY_DUNDERS = ("__init__", "__getitem__", "__call__")


class Spans:
    """Self-time segments of layer calls made on the main thread.

    `install` replaces every public function (and public method of every
    class) defined in a layer module with a wrapper, in every
    `data_table_spark` module namespace that refers to it, so calls
    through `from .x import f` bindings are traced too. A wrapper pushes
    its layer on a stack; `segments` holds (start, end, layer) wall-clock
    intervals during which that layer was the innermost one, so a
    layer's self time is the sum of its segments and a Spark job belongs
    to the layer whose segment holds its submission time.
    """

    def __init__(self) -> None:
        self.segments: list[tuple[float, float, str]] = []
        self._stack: list[list] = []  # [layer, segment start]
        self._main = threading.main_thread()
        self._replaced: list[tuple[object, str, object]] = []

    def _enter(self, layer: str) -> None:
        now = time.time()
        if self._stack:
            top = self._stack[-1]
            self.segments.append((top[1], now, top[0]))
        self._stack.append([layer, now])

    def _exit(self) -> None:
        now = time.time()
        layer, start = self._stack.pop()
        self.segments.append((start, now, layer))
        if self._stack:
            self._stack[-1][1] = now

    def _wrap(self, fn, layer: str):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            if threading.current_thread() is not self._main:
                return fn(*args, **kwargs)
            self._enter(layer)
            try:
                return fn(*args, **kwargs)
            finally:
                self._exit()

        return traced

    def install(self) -> int:
        """Wrap every layer entry point; return how many were wrapped."""
        wrapped: dict[int, object] = {}
        for layer, modname in LAYERS.items():
            mod = importlib.import_module(modname)
            for name, obj in list(vars(mod).items()):
                if inspect.isfunction(obj) and obj.__module__ == modname \
                        and not name.startswith("_"):
                    wrapped[id(obj)] = self._wrap(obj, layer)
                elif inspect.isclass(obj) and obj.__module__ == modname:
                    for mname, meth in list(vars(obj).items()):
                        if inspect.isfunction(meth) and (
                            not mname.startswith("_") or mname in _ENTRY_DUNDERS
                        ):
                            self._replace(obj, mname, self._wrap(meth, layer))
        for modname, mod in list(sys.modules.items()):
            if modname.startswith("data_table_spark") and mod is not None:
                for name, obj in list(vars(mod).items()):
                    if id(obj) in wrapped and inspect.isfunction(obj):
                        self._replace(mod, name, wrapped[id(obj)])
        return len(wrapped)

    def _replace(self, owner, name: str, new) -> None:
        self._replaced.append((owner, name, getattr(owner, name)))
        setattr(owner, name, new)

    def uninstall(self) -> None:
        for owner, name, orig in reversed(self._replaced):
            setattr(owner, name, orig)
        self._replaced.clear()

    def self_seconds(self) -> dict[str, float]:
        out = {layer: 0.0 for layer in LAYERS}
        for start, end, layer in self.segments:
            out[layer] += end - start
        return out

    def layer_at(self, t: float) -> str | None:
        for start, end, layer in self.segments:
            if start <= t <= end:
                return layer
        return None


def parse_event_log(path: str) -> dict:
    """Jobs, stage->job map and per-stage task metric sums of one log."""
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    ran_stages: set[int] = set()
    tasks: dict[int, dict] = {}
    with open(path) as fh:
        for line in fh:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                jid = ev["Job ID"]
                props = ev.get("Properties") or {}
                jobs[jid] = {
                    "start": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "group": props.get("spark.jobGroup.id"),
                    "stages": list(ev.get("Stage IDs", [])),
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, jid)
            elif kind == "SparkListenerJobEnd":
                jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageSubmitted":
                ran_stages.add(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics") or {}
                sr = m.get("Shuffle Read Metrics") or {}
                sw = m.get("Shuffle Write Metrics") or {}
                acc = tasks.setdefault(ev["Stage ID"], {
                    "tasks": 0, "run_s": 0.0, "cpu_s": 0.0, "gc_s": 0.0,
                    "shuffle_write": 0, "shuffle_read": 0, "spill": 0,
                    "scan_read": 0, "output_write": 0,
                })
                acc["tasks"] += 1
                acc["run_s"] += m.get("Executor Run Time", 0) / 1e3
                acc["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                acc["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                acc["shuffle_write"] += sw.get("Shuffle Bytes Written", 0)
                acc["shuffle_read"] += (
                    sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
                )
                acc["spill"] += (
                    m.get("Memory Bytes Spilled", 0) + m.get("Disk Bytes Spilled", 0)
                )
                acc["scan_read"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                acc["output_write"] += (
                    (m.get("Output Metrics") or {}).get("Bytes Written", 0)
                )
    return {"jobs": jobs, "stage_job": stage_job, "ran": ran_stages, "tasks": tasks}


def _union(intervals: list[tuple[float, float]]) -> float:
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


def attribute(log: dict, phases: list[dict]) -> None:
    """Charge jobs to op phases, in place.

    Each phase dict has ``group`` (the job group it ran under), ``t0``
    and ``t1`` (wall clock). A job belongs to a phase by its job group;
    a job with no group (e.g. one a streaming query runs on its own
    thread) belongs to the phase whose window holds its submission.
    Adds jobs, stages, tasks, the task-metric sums, ``job_wall`` (union
    of the phase's job intervals clipped to the window) and
    ``job_wall_unclipped`` (the same union, unclipped: it exceeds
    job_wall only when attribution and timing disagree).
    """
    by_group = {p["group"]: p for p in phases}
    members: dict[int, list[int]] = {id(p): [] for p in phases}
    for jid, job in log["jobs"].items():
        p = by_group.get(job["group"])
        if p is None and job["group"] is None:
            p = next((q for q in phases if q["t0"] <= job["start"] <= q["t1"]), None)
        if p is not None:
            members[id(p)].append(jid)
    for p in phases:
        jids = members[id(p)]
        spans = [
            (log["jobs"][j]["start"], log["jobs"][j]["end"] or p["t1"]) for j in jids
        ]
        p["jobs"] = len(jids)
        p["job_wall_unclipped"] = _union(spans)
        p["job_wall"] = _union([
            (max(s, p["t0"]), min(e, p["t1"])) for s, e in spans
            if min(e, p["t1"]) > max(s, p["t0"])
        ])
        p["job_starts"] = [log["jobs"][j]["start"] for j in jids]
        stages = {
            s for j in jids for s in log["jobs"][j]["stages"]
            if log["stage_job"].get(s) == j and s in log["ran"]
        }
        p["stages"] = len(stages)
        sums: dict[str, float] = {}
        for s in stages:
            for k, v in log["tasks"].get(s, {}).items():
                sums[k] = sums.get(k, 0) + v
        p["task"] = sums
