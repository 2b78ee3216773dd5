"""In-memory span tracing around calls into the package's layers.

A span has a name, a start, an end, a parent and an op id shared by every
span of one op. Spans are kept in memory and written once when the run
ends. ``patched`` wraps the package's public functions from the
outside (module and class attributes are swapped for traced wrappers and
restored afterwards), so the package itself carries no tracing code.

Each span opened on the main thread also labels the Spark jobs it launches
with a job group (``pb-<span id>``), so jobs read back from the event log
attribute to the span that caused them. Spans opened on other threads
(``foreachBatch`` runs on Spark's callback thread) leave job groups alone,
because setting one there would relabel the stream's own jobs; they take
the main thread's innermost open span as their parent.
"""

from __future__ import annotations

import contextlib
import functools
import itertools
import threading
import time
from dataclasses import asdict, dataclass


@dataclass
class Span:
    sid: int
    name: str
    parent: int | None
    op: int
    start: float
    end: float | None = None
    thread: str = "main"

    @property
    def duration(self) -> float:
        return (self.end if self.end is not None else self.start) - self.start


class Tracer:
    def __init__(self, clock=time.perf_counter, set_group=None):
        """``set_group(label_or_None)`` is called on the main thread when
        the innermost open span changes (the Spark job-group hook)."""
        self.clock = clock
        self.set_group = set_group
        self.spans: list[Span] = []
        self._ids = itertools.count()
        self._main = threading.main_thread()
        self._stacks: dict[int, list[Span]] = {}

    def _stack(self) -> list[Span]:
        return self._stacks.setdefault(threading.get_ident(), [])

    @contextlib.contextmanager
    def span(self, name: str):
        on_main = threading.current_thread() is self._main
        stack = self._stack()
        if stack:
            parent = stack[-1]
        else:
            main_stack = self._stacks.get(self._main.ident) or []
            parent = None if on_main or not main_stack else main_stack[-1]
        sid = next(self._ids)
        s = Span(
            sid,
            name,
            parent.sid if parent else None,
            parent.op if parent else sid,
            self.clock(),
            thread="main" if on_main else "worker",
        )
        self.spans.append(s)
        stack.append(s)
        if on_main and self.set_group:
            self.set_group(f"pb-{sid}")
        try:
            yield s
        finally:
            s.end = self.clock()
            stack.pop()
            if on_main and self.set_group:
                self.set_group(f"pb-{stack[-1].sid}" if stack else None)

    def wrap(self, name: str, fn):
        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def to_json(self) -> list[dict]:
        return [asdict(s) for s in self.spans]


def covered(intervals) -> float:
    """Length of the union of ``intervals``."""
    total, cur_start, cur_end = 0.0, None, None
    for a, b in sorted(intervals):
        if cur_end is None or a > cur_end:
            if cur_end is not None:
                total += cur_end - cur_start
            cur_start, cur_end = a, b
        else:
            cur_end = max(cur_end, b)
    if cur_end is not None:
        total += cur_end - cur_start
    return total


def self_times(spans: list[Span]) -> dict[int, float]:
    """Self time per span id: its duration minus the part of its interval
    that its children cover (children clipped to the parent's interval,
    overlapping children counted once)."""
    children: dict[int, list[Span]] = {}
    for s in spans:
        if s.parent is not None:
            children.setdefault(s.parent, []).append(s)
    out = {}
    for s in spans:
        end = s.end if s.end is not None else s.start
        kids = [
            (max(c.start, s.start), min(c.end if c.end is not None else c.start, end))
            for c in children.get(s.sid, [])
        ]
        out[s.sid] = s.duration - covered([(a, b) for a, b in kids if b > a])
    return out


def by_name(spans: list[Span]) -> dict[str, dict[str, float]]:
    """Per span name: call count, total duration and total self time."""
    st = self_times(spans)
    out: dict[str, dict[str, float]] = {}
    for s in spans:
        agg = out.setdefault(s.name, {"calls": 0, "total_s": 0.0, "self_s": 0.0})
        agg["calls"] += 1
        agg["total_s"] += s.duration
        agg["self_s"] += st[s.sid]
    return out


@contextlib.contextmanager
def patched(targets: list[tuple[object, str, str]], tracer: Tracer):
    """Swap ``owner.attr`` for a traced wrapper named ``span_name`` for
    each target; restore the originals on exit."""
    saved = []
    try:
        for owner, attr, span_name in targets:
            original = getattr(owner, attr)
            saved.append((owner, attr, original))
            setattr(owner, attr, tracer.wrap(span_name, original))
        yield
    finally:
        for owner, attr, original in reversed(saved):
            setattr(owner, attr, original)


def package_targets(registry_cls) -> list[tuple[object, str, str]]:
    """The layer boundaries the traced run wraps: (owner, attribute, span
    name). Names are looked up where the callers resolve them (for example
    ``engine._train`` rather than ``ml.pipeline.train``)."""
    from weatherdatapipeline_spark import engine
    from weatherdatapipeline_spark.ml import pipeline as ml_pipeline
    from weatherdatapipeline_spark.operators import chunking, dedup, sampling, stats
    from weatherdatapipeline_spark.sources.catalog import TableCatalog

    targets = [
        (engine, "_train", "ml.train"),
        (engine, "_predict", "ml.predict"),
        (engine, "batch_statistics", "stats.batch_statistics"),
        (stats, "batch_statistics", "stats.batch_statistics"),
        (ml_pipeline, "engineer_features", "features.engineer_features"),
        (dedup, "jaccard_near_duplicates", "dedup.jaccard_near_duplicates"),
        (dedup, "dedup_keep_canonical", "dedup.dedup_keep_canonical"),
        (dedup, "connected_components", "dedup.connected_components"),
        (sampling, "split_assign", "sampling.split_assign"),
        (chunking, "chunk_documents", "chunking.chunk_documents"),
        (chunking, "pack_contiguous", "chunking.pack_contiguous"),
    ]
    for m in (
        "read",
        "append_raw",
        "overwrite_current",
        "append_batch_partition",
        "append_stats",
        "append_predictions",
    ):
        targets.append((TableCatalog, m, f"catalog.{m}"))
    for m in ("log", "load", "promote", "get_stage"):
        targets.append((registry_cls, m, f"registry.{m}"))
    return targets
