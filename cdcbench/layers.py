"""Per-layer metrics of a traced run, from its spans and the event log.

``.s`` and ``.jobs`` sum over the traced timed phase and include the
spans' descendants; ``.self_s`` excludes child spans; ``per batch``
figures are medians over the drain's non-empty micro-batches (FsIO
counts are means, since they are exact). A metric that does not apply
to a workload reads 0.
"""

from __future__ import annotations

import os
from collections import defaultdict

import spans
from spans import median
from workloads import QUERIES

PER_LAYER: dict[str, str] = {
    "streaming.apply_batch.self_s": "s",
    "streaming.trigger_overhead_s": "s",
    "streaming.jobs_per_batch": "count",
    "streaming.driver_only_s": "s",
    "sinks.append_events.s": "s",
    "sinks.append_events.jobs": "count",
    "sinks.merge_events.s": "s",
    "sinks.merge_events.jobs": "count",
    "sinks.merge_events.buckets_rewritten_frac": "ratio",
    "sinks.compact_buckets.s": "s",
    "sinks.compact_buckets.calls": "count",
    "sinks.expire_snapshots.s": "s",
    "sinks.expire_snapshots.calls": "count",
    "sinks.read.s": "s",
    "sinks.read.mor_buckets": "count",
    "sinks.changes.s": "s",
    "fsio.calls_per_batch": "count",
    "fsio.s": "s",
    **{f"fsio.{m}.calls": "count" for m in (
        "exists", "read_text", "write_text", "list_names", "rename_no_overwrite",
        "delete", "mkdirs")},
    "lineage.write_lineage_rows.s": "s",
    "lineage.write_lineage_rows.jobs": "count",
    "dedup_incremental.add_batch.s": "s",
    "dedup_incremental.add_batch.jobs": "count",
    "dedup_incremental.compact.s": "s",
    "dedup_incremental.pairs": "count",
    "mv.refresh_agg_mv.self_s": "s",
    "mv.refresh_agg_mv.jobs": "count",
    "mv.refresh_agg_mv.calls": "count",
    "spark.executor_run_s": "s",
    "spark.shuffle_write_mb": "MB",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.unattributed_jobs": "count",
    **{f"query.{q}.{k}": u for q in QUERIES for k, u in (("s", "s"), ("jobs", "count"))},
    "host.burn_s": "s",
    "trace.overhead_frac": "ratio",
}


def per_layer(tracer, traced, work: str, host_burn: float, mor_buckets: int) -> dict[str, dict]:
    """Per-layer metrics of a traced run."""
    log = spans.read_event_log(os.path.join(work, "eventlog"))
    out = dict.fromkeys(PER_LAYER, 0.0)
    child_dur: dict[int, float] = defaultdict(float)
    children: dict[int, list] = defaultdict(list)
    for s in tracer.spans:
        if s.parent is not None:
            child_dur[s.parent] += s.dur
            children[s.parent].append(s)

    def jobs_of(sp) -> int:
        return len(sp.jobs) + sum(jobs_of(c) for c in children[sp.sid])

    def total(name: str) -> float:
        return sum(s.dur for s in tracer.by_name(name))

    def jobs(name: str) -> int:
        return sum(jobs_of(s) for s in tracer.by_name(name))

    windows = traced.batch_windows
    n_batches = max(len(windows), 1)
    applies = tracer.by_name("streaming.apply_batch")
    if applies:
        by_batch = {s.batch_id: s.dur for s in applies}
        out["streaming.apply_batch.self_s"] = median(s.dur - child_dur[s.sid] for s in applies)
        out["streaming.trigger_overhead_s"] = median(
            (w1 - w0) - by_batch[b] for b, w0, w1 in windows if b in by_batch)
        out["streaming.jobs_per_batch"] = median(
            len(spans.window_jobs(log, [(w0, w1)])) for _, w0, w1 in windows)
        out["streaming.driver_only_s"] = median(
            (w1 - w0) - spans.busy_seconds(log, w0, w1) for _, w0, w1 in windows)
    for m in ("append_events", "merge_events", "compact_buckets", "expire_snapshots",
              "read", "changes"):
        name = f"sinks.{m}"
        if f"{name}.s" in out:
            out[f"{name}.s"] = total(name)
        if f"{name}.jobs" in out:
            out[f"{name}.jobs"] = jobs(name)
        if f"{name}.calls" in out:
            out[f"{name}.calls"] = len(tracer.by_name(name))
    out["sinks.merge_events.buckets_rewritten_frac"] = traced.details.get("buckets_rewritten_frac", 0.0)
    out["sinks.read.mor_buckets"] = mor_buckets
    fs = [s for s in tracer.spans if s.name.startswith("fsio.")]
    in_batch = [s for s in fs if s.batch_id is not None]
    out["fsio.s"] = sum(s.dur for s in fs)
    if applies:
        out["fsio.calls_per_batch"] = len(in_batch) / n_batches
        for s in in_batch:
            key = f"{s.name}.calls"
            if key in out:
                out[key] += 1 / n_batches
    out["lineage.write_lineage_rows.s"] = total("lineage.write_lineage_rows")
    out["lineage.write_lineage_rows.jobs"] = jobs("lineage.write_lineage_rows")
    out["dedup_incremental.add_batch.s"] = total("dedup_incremental.add_batch")
    out["dedup_incremental.add_batch.jobs"] = jobs("dedup_incremental.add_batch")
    out["dedup_incremental.compact.s"] = total("dedup_incremental.compact")
    out["dedup_incremental.pairs"] = traced.details.get("near_dup_pairs", 0)
    refresh = tracer.by_name("mv.refresh_agg_mv")
    out["mv.refresh_agg_mv.self_s"] = sum(s.dur - child_dur[s.sid] for s in refresh)
    out["mv.refresh_agg_mv.jobs"] = jobs("mv.refresh_agg_mv")
    out["mv.refresh_agg_mv.calls"] = len(refresh)
    out.update(spans.event_log_totals(log, traced.phases))
    attributed = tracer.attributed_jobs()
    out["spark.unattributed_jobs"] = sum(
        1 for j in spans.window_jobs(log, traced.phases) if j not in attributed)
    for q in QUERIES:
        out[f"query.{q}.s"] = total(f"query.{q}")
        out[f"query.{q}.jobs"] = jobs(f"query.{q}")
    out["host.burn_s"] = host_burn
    # the wrappers' own time; the event log's writer thread is not in it
    out["trace.overhead_frac"] = tracer.overhead_s / traced.wall_s
    return {k: {"value": float(v), "unit": PER_LAYER[k]} for k, v in out.items()}
