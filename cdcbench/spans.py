"""Per-layer tracing installed from outside the engine.

:class:`Tracer` wraps the public functions at each layer boundary —
``CdcPipeline.apply_batch``; ``LakeTable.append_events / merge_events /
compact_buckets / expire_snapshots / read / changes``; ``LshIndex.add_batch
/ compact``; ``refresh_agg_mv`` (on ``nifi_spark.operators.mv``, where
``job.py`` looks it up at call time); ``write_lineage_rows`` (on
``nifi_spark.streaming.job``, where it is bound); and every ``FsIO``
method — and records one span per call: name, start, end, parent span,
batch id and the Spark jobs launched under it. Jobs are attributed
through a per-span job group read back with ``statusTracker()``; jobs a
program thread launches outside any span (the txn gate's persist thread)
stay unattributed. Spans live in memory and are summarised at the end;
``overhead_s`` sums the wrappers' own time (job-group set-up and the
``statusTracker()`` read) outside every wrapped call.

:func:`event_log_totals` reads the Spark event log (on for traced runs
only) for executor run time, shuffle bytes, stage and task counts, and
the job intervals that give a batch's driver-only time.
"""

from __future__ import annotations

import functools
import glob
import itertools
import json
import os
import statistics
import threading
import time
from dataclasses import dataclass, field

FSIO_METHODS = [
    "exists", "mkdirs", "delete", "list_names", "read_text", "write_text",
    "rename_dir", "rename_no_overwrite",
]


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    batch_id: int | None
    start: float  # perf_counter
    end: float = 0.0
    jobs: list[int] = field(default_factory=list)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[Span] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._undo: list[tuple[object, str, object]] = []
        self.overhead_s = 0.0

    # -- spans --------------------------------------------------------

    def _stack(self) -> list[Span]:
        if not hasattr(self._local, "stack"):
            self._local.stack = []
        return self._local.stack

    def call(self, name: str, fn, args, kwargs, batch_id=None, jobs: bool = True):
        t_in = time.perf_counter()
        stack = self._stack()
        parent = stack[-1] if stack else None
        if batch_id is None and parent is not None:
            batch_id = parent.batch_id
        sp = Span(next(self._ids), name, parent.sid if parent else None, batch_id, 0.0)
        group = prev = None
        if jobs:
            group = f"cdcbench-{sp.sid}"
            prev = (self.sc.getLocalProperty("spark.jobGroup.id"),
                    self.sc.getLocalProperty("spark.job.description"))
            self.sc.setJobGroup(group, name)
        stack.append(sp)
        sp.start = time.perf_counter()
        try:
            return fn(*args, **kwargs)
        finally:
            sp.end = time.perf_counter()
            stack.pop()
            if jobs:
                self.sc.setLocalProperty("spark.jobGroup.id", prev[0])
                self.sc.setLocalProperty("spark.job.description", prev[1])
                sp.jobs = list(self.sc.statusTracker().getJobIdsForGroup(group))
            self.spans.append(sp)
            self.overhead_s += time.perf_counter() - t_in - sp.dur

    def run(self, name: str, fn):
        """Run ``fn()`` inside a span of its own (e.g. one query)."""
        return self.call(name, fn, (), {})

    # -- wrappers -----------------------------------------------------

    def _patch(self, owner, attr: str, name: str, jobs: bool = True, batch_arg: int | None = None):
        orig = getattr(owner, attr)

        @functools.wraps(orig)
        def wrapper(*args, **kwargs):
            bid = None
            if batch_arg is not None:
                bid = kwargs.get("batch_id", args[batch_arg] if len(args) > batch_arg else None)
            return self.call(name, orig, args, kwargs, batch_id=bid, jobs=jobs)

        setattr(owner, attr, wrapper)
        self._undo.append((owner, attr, orig))

    def install(self) -> None:
        from nifi_spark import fsio
        from nifi_spark.operators import mv
        from nifi_spark.operators.dedup_incremental import LshIndex
        from nifi_spark.sinks.laketable import LakeTable
        from nifi_spark.streaming import job

        self._patch(job.CdcPipeline, "apply_batch", "streaming.apply_batch", batch_arg=2)
        for m in ("append_events", "merge_events", "compact_buckets", "expire_snapshots",
                  "read", "changes"):
            self._patch(LakeTable, m, f"sinks.{m}")
        for m in ("add_batch", "compact"):
            self._patch(LshIndex, m, f"dedup_incremental.{m}")
        self._patch(mv, "refresh_agg_mv", "mv.refresh_agg_mv")
        self._patch(job, "write_lineage_rows", "lineage.write_lineage_rows")
        for m in FSIO_METHODS:
            # FsIO calls launch no Spark job: time and count them only
            self._patch(fsio.FsIO, m, f"fsio.{m}", jobs=False)

    def uninstall(self) -> None:
        while self._undo:
            owner, attr, orig = self._undo.pop()
            setattr(owner, attr, orig)

    # -- summaries ----------------------------------------------------

    def by_name(self, name: str) -> list[Span]:
        return [s for s in self.spans if s.name == name]

    def attributed_jobs(self) -> set[int]:
        return {j for s in self.spans for j in s.jobs}


def median(xs) -> float:
    xs = list(xs)
    return float(statistics.median(xs)) if xs else 0.0


@dataclass
class EventLog:
    jobs: dict[int, dict]   # job id -> {submit, end, stages} (epoch seconds)
    stages_done: set[int]
    tasks: list[dict]       # {stage, run_ms, shuffle_bytes}


def read_event_log(log_dir: str) -> EventLog:
    jobs: dict[int, dict] = {}
    stages_done: set[int] = set()
    tasks: list[dict] = []
    for path in glob.glob(f"{log_dir}/**/*", recursive=True):
        if os.path.isdir(path) or os.path.basename(path).startswith("appstatus"):
            continue
        with open(path, encoding="utf-8") as f:
            for line in f:
                e = json.loads(line)
                kind = e.get("Event")
                if kind == "SparkListenerJobStart":
                    jobs[e["Job ID"]] = {
                        "submit": e["Submission Time"] / 1000.0,
                        "end": None,
                        "stages": e.get("Stage IDs", []),
                    }
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in jobs:
                    jobs[e["Job ID"]]["end"] = e["Completion Time"] / 1000.0
                elif kind == "SparkListenerStageCompleted":
                    stages_done.add(e["Stage Info"]["Stage ID"])
                elif kind == "SparkListenerTaskEnd":
                    m = e.get("Task Metrics") or {}
                    tasks.append({
                        "stage": e["Stage ID"],
                        "run_ms": m.get("Executor Run Time", 0),
                        "shuffle_bytes": (m.get("Shuffle Write Metrics") or {}).get(
                            "Shuffle Bytes Written", 0),
                    })
    return EventLog(jobs, stages_done, tasks)


def window_jobs(log: EventLog, windows: list[tuple[float, float]]) -> dict[int, dict]:
    """Jobs submitted inside any of ``windows``."""
    return {j: v for j, v in log.jobs.items() if any(t0 <= v["submit"] <= t1 for t0, t1 in windows)}


def busy_seconds(log: EventLog, t0: float, t1: float) -> float:
    """Seconds of [t0, t1] during which at least one Spark job ran."""
    iv = sorted(
        (max(v["submit"], t0), min(v["end"] or t1, t1))
        for v in log.jobs.values()
        if v["submit"] < t1 and (v["end"] or t1) > t0
    )
    busy, cur_s, cur_e = 0.0, None, None
    for s, e in iv:
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                busy += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        busy += cur_e - cur_s
    return busy


def event_log_totals(log: EventLog, windows: list[tuple[float, float]]) -> dict[str, float]:
    jobs = window_jobs(log, windows)
    stages = {s for v in jobs.values() for s in v["stages"]} & log.stages_done
    tasks = [t for t in log.tasks if t["stage"] in stages]
    return {
        "spark.jobs": len(jobs),
        "spark.stages": len(stages),
        "spark.tasks": len(tasks),
        "spark.executor_run_s": sum(t["run_ms"] for t in tasks) / 1000.0,
        "spark.shuffle_write_mb": sum(t["shuffle_bytes"] for t in tasks) / 1e6,
    }
