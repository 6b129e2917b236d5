"""Layer tracing: timing wrappers around the library names the ingest
pipeline calls, and an offline parser for Spark's event log.

Wrappers replace names in the modules that look them up (``pipeline``
and ``operators.flatten``), so the library itself is untouched. Each
wrapped call records its duration and starts a *phase*: the phase name
is set as a Spark local property, so every job the pipeline starts
until the next wrapped call carries it in the event log, and the wall
time until the next wrapped call is charged to that phase.
"""

from __future__ import annotations

import functools
import json
import os
import time

PHASE_PROP = "perfbench.phase"

# pipeline-module name -> phase it starts
PIPELINE_WRAPPED = {
    "expand_zip": "io.expand_zip",
    "discover_new_files": "ledger.discover",
    "read_binary_files": "io.read",
    "flatten": "flatten.build",
    "schema_snapshot": "schema_diff",
    "schema_diff": "schema_diff",
    "drift_report": "schema_diff",
    "swap_directory": "io.swap_directory",
    "write_parquet": "io.write_parquet",
    "ingest_new": "ledger.update",
    "mark_stage": "ledger.update",
}


class LayerTrace:
    """Call durations, phase spans and flatten pass counts of the wrapped
    pipeline calls. Install once per session; ``restore`` puts the
    original names back."""

    def __init__(self, spark):
        self.spark = spark
        self.calls: dict[str, float] = {}  # wrapped name -> total seconds
        self.ncalls: dict[str, int] = {}
        self.spans: dict[str, float] = {}  # phase -> total seconds
        self.flatten_passes = 0
        self.flatten_calls = 0
        self._phase: tuple[str, float] | None = None
        self._saved: list[tuple[object, str, object]] = []

    # -- phases --------------------------------------------------------
    def mark(self, phase: str | None) -> None:
        now = time.perf_counter()
        if self._phase is not None:
            name, t0 = self._phase
            self.spans[name] = self.spans.get(name, 0.0) + now - t0
        self._phase = (phase, now) if phase else None
        self.spark.sparkContext.setLocalProperty(PHASE_PROP, phase)

    def _timed(self, name: str, phase: str, fn):
        @functools.wraps(fn)
        def wrapper(*a, **kw):
            self.mark(phase)
            t0 = time.perf_counter()
            try:
                out = fn(*a, **kw)
            finally:
                dt = time.perf_counter() - t0
                self.calls[name] = self.calls.get(name, 0.0) + dt
                self.ncalls[name] = self.ncalls.get(name, 0) + 1
            if name == "flatten":
                self.flatten_calls += 1
                self._time_count(out)
            return out

        return wrapper

    def _time_count(self, flat) -> None:
        """The pipeline counts the flattened frame before writing it; that
        action runs the whole flatten, so it gets a phase of its own."""
        count = flat.count

        def timed_count():
            self.mark("flatten.count")
            t0 = time.perf_counter()
            try:
                return count()
            finally:
                self.calls["count"] = self.calls.get("count", 0.0) + time.perf_counter() - t0

        flat.count = timed_count

    def _patch(self, mod, name: str, new) -> None:
        self._saved.append((mod, name, getattr(mod, name)))
        setattr(mod, name, new)

    def install(self) -> "LayerTrace":
        from etl_ipl_data_analysis_pipeline_spark import pipeline
        from etl_ipl_data_analysis_pipeline_spark.operators import flatten as flat_mod

        for name, phase in PIPELINE_WRAPPED.items():
            self._patch(pipeline, name, self._timed(name, phase, getattr(pipeline, name)))
        once = flat_mod.flatten_once

        def counted_once(*a, **kw):
            self.flatten_passes += 1
            return once(*a, **kw)

        self._patch(flat_mod, "flatten_once", counted_once)
        return self

    def restore(self) -> None:
        for mod, name, orig in reversed(self._saved):
            setattr(mod, name, orig)
        self._saved.clear()


# --- event log --------------------------------------------------------------


def find_event_log(log_dir: str) -> str:
    logs = [os.path.join(log_dir, f) for f in os.listdir(log_dir)]
    logs = [p for p in logs if os.path.isfile(p) and not p.endswith(".inprogress")]
    if len(logs) != 1:
        raise RuntimeError(f"expected one finished event log in {log_dir}, found {logs}")
    return logs[0]


_SCHEMA_INFERENCE_MARKERS = ("DataFrameReader.parquet(",)


def parse_event_log(path: str) -> dict:
    """Jobs, stages and task metrics from a Spark event log, keyed by the
    job group and phase properties the benchmark sets.

    Returns ``{"jobs": {job_id: {...}}, "stages": {stage_id: {...}}}``:
    a job has its group, phase, stage ids, submit/end time (epoch s) and
    whether it is a parquet schema-inference job; a stage (attempts
    merged) has its job's group, its task count and summed task
    metrics."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                details = " ".join(
                    (s.get("Details") or "") + " " + (s.get("Stage Name") or "")
                    for s in ev.get("Stage Infos", [])
                )
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "phase": props.get(PHASE_PROP),
                    "stages": ev.get("Stage IDs", []),
                    "submit": ev["Submission Time"] / 1000.0,
                    "end": None,
                    "schema_inference": any(m in details for m in _SCHEMA_INFERENCE_MARKERS),
                }
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
            elif kind == "SparkListenerStageCompleted":
                st = stages.setdefault(ev["Stage Info"]["Stage ID"], _new_stage())
                st["completed"] += 1
            elif kind == "SparkListenerTaskEnd":
                st = stages.setdefault(ev["Stage ID"], _new_stage())
                m = ev.get("Task Metrics") or {}
                st["tasks"] += 1
                st["cpu_s"] += m.get("Executor CPU Time", 0) / 1e9
                st["gc_s"] += m.get("JVM GC Time", 0) / 1e3
                st["scan_bytes"] += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
                st["shuffle_write_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                    "Shuffle Bytes Written", 0
                )
                st["spill_bytes"] += m.get("Memory Bytes Spilled", 0) + m.get(
                    "Disk Bytes Spilled", 0
                )
    log = {"jobs": jobs, "stages": stages}
    _stage_groups(log)
    return log


def _new_stage() -> dict:
    return {
        "group": None, "completed": 0, "tasks": 0, "cpu_s": 0.0,
        "gc_s": 0.0, "scan_bytes": 0, "shuffle_write_bytes": 0, "spill_bytes": 0,
    }


def _stage_groups(log: dict) -> None:
    """A stage belongs to the first job that lists it."""
    for jid in sorted(log["jobs"], reverse=True):
        for sid in log["jobs"][jid]["stages"]:
            if sid in log["stages"]:
                log["stages"][sid]["group"] = log["jobs"][jid]["group"]


def assign_groups(log: dict, windows: list[tuple[str, float, float]]) -> None:
    """Give every job the op it ran in and drop the rest. Jobs started
    off the labelled thread carry no group, or one of Spark's own (a
    streaming query labels its jobs with its run id); they go to the op
    whose wall window holds their submit time. Jobs outside every op
    window (the benchmark's own output checks) are dropped, with the
    stages only they list."""
    ours = {g for g, _, _ in windows}
    for jid, job in list(log["jobs"].items()):
        if job["group"] not in ours:
            job["group"] = next((g for g, t0, t1 in windows if t0 <= job["submit"] <= t1), None)
        if job["group"] is None:
            del log["jobs"][jid]
    kept = {sid for job in log["jobs"].values() for sid in job["stages"]}
    log["stages"] = {sid: st for sid, st in log["stages"].items() if sid in kept}
    _stage_groups(log)


def totals(log: dict, group_prefix: str | None = None) -> dict:
    """Summed counters over all jobs/stages (or those whose group starts
    with ``group_prefix``)."""

    def keep(g):
        return group_prefix is None or (g or "").startswith(group_prefix)

    jobs = [j for j in log["jobs"].values() if keep(j["group"])]
    sts = [s for s in log["stages"].values() if keep(s["group"])]
    return {
        "jobs": len(jobs),
        "stages": sum(1 for s in sts if s["completed"]),
        "tasks": sum(s["tasks"] for s in sts),
        "task_cpu_s": sum(s["cpu_s"] for s in sts),
        "gc_s": sum(s["gc_s"] for s in sts),
        "scan_bytes": sum(s["scan_bytes"] for s in sts),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in sts),
        "spill_bytes": sum(s["spill_bytes"] for s in sts),
        "schema_inference_jobs": sum(1 for j in jobs if j["schema_inference"]),
    }


def uncovered_s(log: dict, group: str, windows: list[tuple[str, float, float]]) -> float:
    """Wall time of the op windows labelled ``group`` during which none of
    its Spark jobs was running: driver-side work."""
    spans = sorted(
        (j["submit"], j["end"] or j["submit"])
        for j in log["jobs"].values()
        if j["group"] == group
    )
    total = 0.0
    for g, t0, t1 in windows:
        if g != group:
            continue
        covered, cur = 0.0, t0
        for s, e in spans:
            s, e = max(s, cur), min(e, t1)
            if e > s:
                covered += e - s
                cur = e
        total += (t1 - t0) - covered
    return total
