"""Spans recorded by the benchmark around its calls into the engine,
and the Spark counters attributed to them.

Spans nest run -> pass -> operation -> {build, plan, exec | epoch}.
Each carries a name, a start, an end and its parent; spans are kept in
memory and written once, at exit. Spark's job, stage, task, executor
and Python-worker counters come from the event log Spark writes, read
after the session stops, so no counter is read inside a timed region.
"""

from __future__ import annotations

import json
import os
import statistics
import time
from contextlib import contextmanager

#: per-layer metrics of a traced run: name -> (unit, better). README.md
#: says which end-to-end metric each should move, on which workload.
LAYERS = {
    "session.start_s": ("s", "lower"),
    "sources.load_s": ("s", "lower"),
    "sources.input_mb": ("MB", "lower"),
    "operators.build_s": ("s", "lower"),
    "operators.build_jobs": ("count", "lower"),
    "operators.build_share": ("ratio", "lower"),
    "catalyst.plan_s": ("s", "lower"),
    "sinks.exec_s": ("s", "lower"),
    "spark.jobs": ("count", "lower"),
    "spark.stages": ("count", "lower"),
    "spark.tasks": ("count", "lower"),
    "executor.run_s": ("s", "lower"),
    "executor.cpu_s": ("s", "lower"),
    "executor.gc_s": ("s", "lower"),
    "executor.shuffle_write_mb": ("MB", "lower"),
    "executor.shuffle_read_mb": ("MB", "lower"),
    "executor.spill_mb": ("MB", "lower"),
    "functions.python_s": ("s", "lower"),
    "functions.python_boot_s": ("s", "lower"),
    "functions.python_sent_mb": ("MB", "lower"),
    "streaming.epoch_s": ("s", "lower"),
    "streaming.admit_ratio": ("ratio", "higher"),
    "sinks.write_mb": ("MB", "lower"),
    "sinks.files_written": ("count", "lower"),
    "trace.op_self_s": ("s", "lower"),
    "trace.overhead_s": ("s", "lower"),
}

_MB = 1e6
#: event-log accumulable name -> (layer metric, scale to its unit)
_STAGE_ACCUMS = {
    "internal.metrics.executorRunTime": ("executor.run_s", 1e-3),
    "internal.metrics.executorCpuTime": ("executor.cpu_s", 1e-9),
    "internal.metrics.jvmGCTime": ("executor.gc_s", 1e-3),
    "internal.metrics.shuffle.write.bytesWritten":
        ("executor.shuffle_write_mb", 1 / _MB),
    "internal.metrics.shuffle.read.remoteBytesRead":
        ("executor.shuffle_read_mb", 1 / _MB),
    "internal.metrics.shuffle.read.localBytesRead":
        ("executor.shuffle_read_mb", 1 / _MB),
    "internal.metrics.diskBytesSpilled": ("executor.spill_mb", 1 / _MB),
    "internal.metrics.input.bytesRead": ("sources.input_mb", 1 / _MB),
    # PythonSQLMetrics (display names of pythonTotalTime,
    # pythonBootTime and pythonDataSent); timings are in ms
    "time to run Python workers": ("functions.python_s", 1e-3),
    "time to start Python workers": ("functions.python_boot_s", 1e-3),
    "data sent to Python workers": ("functions.python_sent_mb", 1 / _MB),
}


class Tracer:
    """In-memory span recorder. ``enabled`` says whether the run is
    traced; the caller decides which passes record spans."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        # perf_counter -> wall clock, to line spans up with Spark's
        # millisecond submission times
        self._wall = time.time() - time.perf_counter()

    @contextmanager
    def span(self, name: str, parent: int | None, **attrs):
        sid = len(self.spans)
        rec = {"id": sid, "parent": parent, "name": name,
               "start": time.perf_counter(), "end": None, **attrs}
        self.spans.append(rec)
        try:
            yield sid
        finally:
            rec["end"] = time.perf_counter()

    def wall(self, t: float) -> float:
        return t + self._wall

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


def self_time(spans: list[dict], sid: int) -> float:
    """A span's duration minus the part its children cover (children
    of one span never overlap: the benchmark is one closed loop)."""
    s = spans[sid]
    kids = sum(c["end"] - c["start"] for c in spans if c["parent"] == sid)
    return (s["end"] - s["start"]) - kids


def read_event_log(path: str) -> tuple[list[dict], dict[int, dict]]:
    """Jobs (id, submit wall seconds, group, description, stage ids)
    and completed stages (id -> tasks, accumulable totals) of one
    Spark event log."""
    jobs: list[dict] = []
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs.append({
                    "id": ev["Job ID"],
                    "t": ev["Submission Time"] / 1e3,
                    "group": props.get("spark.jobGroup.id"),
                    "desc": props.get("spark.job.description"),
                    "stages": ev.get("Stage IDs", [])})
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Failure Reason" in info:
                    continue
                acc: dict[str, float] = {}
                for a in info.get("Accumulables", []):
                    name = a.get("Name")
                    if name in _STAGE_ACCUMS:
                        metric, scale = _STAGE_ACCUMS[name]
                        acc[metric] = (acc.get(metric, 0.0)
                                       + float(a["Value"]) * scale)
                stages[info["Stage ID"]] = {
                    "tasks": info["Number of Tasks"], "acc": acc}
    return jobs, stages


def _attribute(tracer: Tracer,
               jobs: list[dict]) -> dict[int, list[tuple[dict, str]]]:
    """Map each job to the traced operation span that launched it, and
    the phase (build, plan, exec, epoch) it ran in: by its job group
    and description when it has them, else (jobs launched from threads
    the engine starts, which do not inherit the group) by the operation
    and phase spans whose wall intervals hold its submission time."""
    spans = tracer.spans
    by_group = {s["group"]: s["id"] for s in spans if s.get("group")}

    def holding(t: float, cands) -> dict | None:
        return next((s for s in cands if tracer.wall(s["start"]) <= t
                     <= tracer.wall(s["end"])), None)

    ops = [s for s in spans if s.get("group")]
    out: dict[int, list[tuple[dict, str]]] = {}
    for j in jobs:
        sid, phase = by_group.get(j["group"]), j["desc"]
        if sid is None:
            op = holding(j["t"], ops)
            if op is None:
                continue
            sid = op["id"]
            child = holding(j["t"], (s for s in spans
                                     if s["parent"] == sid))
            phase = child["name"] if child else None
        out.setdefault(sid, []).append((j, phase))
    return out


def layer_metrics(tracer: Tracer, jobs: list[dict],
                  stages: dict[int, dict], setup: dict[str, float],
                  pass_extra: dict[int, dict[str, float]]) -> dict:
    """Per-layer metrics of the traced passes: each is the median over
    traced passes of the per-pass total (seconds, counts and MB per
    pass), except the set-up layers, which come from ``setup``."""
    spans = tracer.spans
    by_op = _attribute(tracer, jobs)
    stage_owner: dict[int, int] = {}
    for sid, js in by_op.items():
        for j, _ in js:
            for st in j["stages"]:
                stage_owner.setdefault(st, sid)
    per_pass: list[dict[str, float]] = []
    for p in (s for s in spans if s["name"] == "pass"):
        tot = {k: 0.0 for k in LAYERS}
        op_wall = 0.0
        for op in (s for s in spans if s["parent"] == p["id"]):
            op_wall += op["end"] - op["start"]
            tot["trace.op_self_s"] += self_time(spans, op["id"])
            for c in (s for s in spans if s["parent"] == op["id"]):
                layer = {"build": "operators.build_s",
                         "plan": "catalyst.plan_s",
                         "exec": "sinks.exec_s",
                         "epoch": "streaming.epoch_s"}[c["name"]]
                tot[layer] += c["end"] - c["start"]
            for _, phase in by_op.get(op["id"], []):
                tot["spark.jobs"] += 1
                tot["operators.build_jobs"] += phase == "build"
            for st, owner in stage_owner.items():
                if owner == op["id"] and st in stages:
                    tot["spark.stages"] += 1
                    tot["spark.tasks"] += stages[st]["tasks"]
                    for m, v in stages[st]["acc"].items():
                        if m != "sources.input_mb":
                            tot[m] += v
        tot["operators.build_share"] = (tot["operators.build_s"] / op_wall
                                        if op_wall else 0.0)
        tot.update(pass_extra.get(p["pass"], {}))
        per_pass.append(tot)
    out = {k: statistics.median(t[k] for t in per_pass) if per_pass
           else 0.0 for k in LAYERS}
    out.update(setup)
    return out


def input_mb(jobs: list[dict], stages: dict[int, dict],
             group: str) -> float:
    """Input MB read by the stages of the jobs in job group ``group``."""
    ids = {st for j in jobs if j["group"] == group for st in j["stages"]}
    return sum(stages[s]["acc"].get("sources.input_mb", 0.0)
               for s in ids if s in stages)


def find_event_log(log_dir: str) -> str:
    names = [n for n in os.listdir(log_dir)
             if not n.endswith(".inprogress")]
    if len(names) != 1:
        raise RuntimeError(f"expected one finished event log in "
                           f"{log_dir}, found {sorted(os.listdir(log_dir))}")
    return os.path.join(log_dir, names[0])
