"""Per-layer metrics of the traced pass: span self times, per-span Spark
jobs from the event log, streaming progress and catalog file counts.

Layer self times are reported as shares of the traced pass's wall time, so
a layer a workload never calls reads 0 rather than a constant duration.
Absolute seconds per span name go to the detail record.
"""

from __future__ import annotations

from . import eventlog
from .tracing import Span, by_name, self_times

# The traced pass's self times must add up to its wall time within this
# share; the rest is the harness's own bookkeeping between ops.
RECONCILE_TOLERANCE = 0.02

PER_LAYER_UNITS = {
    "session.start_s": "s",
    "trace.overhead_s": "s",
    "trace.reconcile_gap": "ratio",
    "catalog.self_share": "share",
    "catalog.files_written": "count",
    "catalog.mb_written": "MB",
    "catalog.raw_files": "count",
    "stats.self_share": "share",
    "features.self_share": "share",
    "ml.train_self_share": "share",
    "ml.train_jobs": "count",
    "ml.predict_self_share": "share",
    "ml.predict_jobs": "count",
    "registry.self_share": "share",
    "registry.load_share": "share",
    "stream.batches": "count",
    "stream.empty_batch_ratio": "ratio",
    "stream.trigger_share": "share",
    "stream.add_batch_share": "share",
    "corpus.self_share": "share",
    "corpus.kept_ratio": "ratio",
    "dedup.self_share": "share",
    "dedup.cc_jobs": "count",
    "sampling.self_share": "share",
    "chunking.self_share": "share",
    "query.self_share": "share",
    "query.build_share": "ratio",
    "query.build_jobs": "count",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.executor_run_s": "s",
    "spark.executor_cpu_s": "s",
    "spark.gc_s": "s",
    "spark.scheduler_delay_s": "s",
    "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB",
    "spark.spill_mb": "MB",
    "spark.core_busy_share": "share",
    "spark.no_job_share": "share",
    "spark.failed_task_ratio": "ratio",
}

# recentProgress durationMs keys summed over the traced pass's micro-batches
STREAM_DURATIONS = {
    "triggerExecution": "stream.trigger_ms",
    "addBatch": "stream.add_batch_ms",
    "latestOffset": "stream.latest_offset_ms",
    "queryPlanning": "stream.query_planning_ms",
    "walCommit": "stream.wal_commit_ms",
    "commitOffsets": "stream.commit_offsets_ms",
}


def jobs_under(spans: list[Span], jobs_by_group, prefix: str) -> int:
    """Spark jobs launched inside any span whose name starts with
    ``prefix`` (its own jobs and those of its descendants)."""
    by_id = {s.sid: s for s in spans}
    total = 0
    for s in spans:
        n = jobs_by_group.get(f"pb-{s.sid}", 0)
        node = s
        while n and node is not None:
            if node.name.startswith(prefix):
                total += n
                break
            node = by_id.get(node.parent)
    return total


def layer_metrics(
    spans: list[Span],
    wall_s: float,
    untraced_wall_s: float,
    session_s: float,
    log: eventlog.EventLog,
    window_ms: tuple[float, float],
    cores: int,
    detail: dict,
) -> tuple[dict, dict]:
    """Returns (per-layer metrics by name, detail record).

    ``untraced_wall_s`` is the mean wall time of the untraced passes just
    before and just after the traced one (only the one before if the run
    skipped its control pass), run with the event log detached,
    so ``trace.overhead_s`` is the whole cost of tracing: span bookkeeping,
    job-group labels and event logging."""
    names = by_name(spans)
    wall_s = max(wall_s, 1e-9)

    def self_s(prefix: str) -> float:
        return sum(v["self_s"] for k, v in names.items() if k.startswith(prefix))

    def share(prefix: str) -> float:
        return self_s(prefix) / wall_s

    groups = eventlog.jobs_per_group(log)
    stream = detail.get("stream_progress_ms", {})
    trigger_ms = stream.get("triggerExecution", 0)
    batches = detail.get("stream_batches", 0)
    builds = sum(q["build_s"] for q in detail.get("queries", {}).values())
    execs = sum(q["exec_s"] for q in detail.get("queries", {}).values())
    accounted = sum(self_times(spans).values())
    m = {
        "session.start_s": session_s,
        "trace.overhead_s": wall_s - untraced_wall_s,
        "trace.reconcile_gap": abs(wall_s - accounted) / wall_s,
        "catalog.self_share": share("catalog."),
        "catalog.files_written": detail.get("catalog_files_written", 0),
        "catalog.mb_written": detail.get("catalog_bytes_written", 0) / eventlog.MB,
        "catalog.raw_files": detail.get("raw_files", 0),
        "stats.self_share": share("stats."),
        "features.self_share": share("features."),
        "ml.train_self_share": share("ml.train"),
        "ml.train_jobs": jobs_under(spans, groups, "ml.train"),
        "ml.predict_self_share": share("ml.predict"),
        "ml.predict_jobs": jobs_under(spans, groups, "ml.predict"),
        "registry.self_share": share("registry."),
        "registry.load_share": share("registry.load"),
        "stream.batches": batches,
        "stream.empty_batch_ratio": detail.get("stream_empty_batches", 0) / batches if batches else 0.0,
        "stream.trigger_share": trigger_ms / 1e3 / wall_s,
        "stream.add_batch_share": stream.get("addBatch", 0) / trigger_ms if trigger_ms else 0.0,
        "corpus.self_share": share("op.corpus"),
        "corpus.kept_ratio": detail.get("corpus_kept_ratio", 0.0),
        "dedup.self_share": share("dedup."),
        "dedup.cc_jobs": jobs_under(spans, groups, "dedup.connected_components"),
        "sampling.self_share": share("sampling."),
        "chunking.self_share": share("chunking."),
        "query.self_share": sum(v["total_s"] for k, v in names.items() if k.startswith("op.query.")) / wall_s,
        "query.build_share": builds / (builds + execs) if builds + execs else 0.0,
        "query.build_jobs": sum(jobs_under(spans, groups, f"query.{q}.build") for q in detail.get("queries", {})),
        **eventlog.summarize(log, window_ms[0], window_ms[1], cores),
    }
    # the reported metrics plus the absolute figures behind them
    named = dict(m)
    named.update({f"{k}_s": v["self_s"] for k, v in names.items() if not k.startswith(("op.", "query."))})
    named.update({f"{k}_jobs": jobs_under(spans, groups, k) for k in ("ml.train", "ml.predict")})
    for q, d in detail.get("queries", {}).items():
        named.update({f"query.{q}.build_s": d["build_s"], f"query.{q}.exec_s": d["exec_s"]})
        named[f"query.{q}.build_jobs"] = jobs_under(spans, groups, f"query.{q}.build")
    if "op.corpus" in names:
        # the pipeline's self time: everything its operators' spans do not
        # cover, i.e. the partitioned write and the stats row
        named["corpus.write_s"] = names["op.corpus"]["self_s"]
    named.update({name: stream.get(key, 0) for key, name in STREAM_DURATIONS.items()})
    named["catalog.bytes_written"] = detail.get("catalog_bytes_written", 0)
    record = {
        "named": dict(sorted(named.items())),
        "reconcile_tolerance": RECONCILE_TOLERANCE,
        "reconciled": m["trace.reconcile_gap"] <= RECONCILE_TOLERANCE,
        "traced_wall_s": wall_s,
        "untraced_wall_s": untraced_wall_s,
        "spans": {k: {kk: round(vv, 6) for kk, vv in v.items()} for k, v in sorted(names.items())},
        "jobs_by_span": {
            k: jobs_under(spans, groups, k) for k in sorted(names) if not k.startswith("op.")
        },
        **detail,
    }
    return m, record
