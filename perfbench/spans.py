"""Span tracing around the layers' public functions, from outside the package.

``Tracer.installed()`` replaces each traced function with a wrapper that
records a span (name, start, end, parent, thread) and restores the original
on exit, so untraced iterations run the package unmodified.  Functions are
wrapped where ``run_incremental`` looks them up: names ``pipeline`` imported
into its own namespace are patched there, methods on their class, and the
``ann_index`` functions that ``run_incremental`` imports at call time on that
module.  Spans stay in memory until ``dump``.
"""

from __future__ import annotations

import itertools
import json
import threading
import time
from contextlib import contextmanager
from dataclasses import asdict, dataclass


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float
    parent: int | None
    thread: str
    iteration: int
    rows: int = 0


def _targets():
    """(owner, attribute, span name) for every traced function."""
    from incremental_entity_extraction_spark import pipeline
    from incremental_entity_extraction_spark.operators import ann_index

    return [
        (pipeline, "run_batch", "pipeline.run_batch"),
        (pipeline, "cc_summarize_pdf", "clustering.kernel"),
        (pipeline, "greedy_summarize_pdf", "clustering.kernel"),
        (pipeline, "build_kb_shards", "retrieval.kb_shards"),
        (pipeline.Lake, "write_partition", "pipeline.lake_write"),
        (pipeline.BatchPersist, "finish", "pipeline.persist_wait"),
        (pipeline.BatchPersist, "rw_delta", "pipeline.rw_delta_wait"),
        (ann_index, "persist_delta", "ann_index.persist_delta"),
        (ann_index, "ensure_ann_index", "ann_index.ensure"),
    ]


class Tracer:
    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.iteration = -1
        self._ids = itertools.count()
        self._stack = threading.local()

    def _wrap(self, fn, name: str):
        tracer = self

        def traced(*args, **kwargs):
            stack = getattr(tracer._stack, "ids", None)
            if stack is None:
                stack = tracer._stack.ids = []
            sid = next(tracer._ids)
            parent = stack[-1] if stack else None
            stack.append(sid)
            t0 = time.perf_counter()
            try:
                return fn(*args, **kwargs)
            finally:
                t1 = time.perf_counter()
                stack.pop()
                # the clustering kernels take the collected NIL frame first
                rows = len(args[0]) if name == "clustering.kernel" else 0
                tracer.spans.append(
                    Span(sid, name, t0, t1, parent,
                         threading.current_thread().name, tracer.iteration,
                         rows)
                )

        traced.__wrapped__ = fn
        return traced

    @contextmanager
    def installed(self, iteration: int):
        """Trace every target for the duration of the block."""
        self.iteration = iteration
        saved = []
        try:
            for owner, attr, name in _targets():
                orig = owner.__dict__[attr]
                saved.append((owner, attr, orig))
                setattr(owner, attr, self._wrap(orig, name))
            yield self
        finally:
            for owner, attr, orig in reversed(saved):
                setattr(owner, attr, orig)

    def of(self, iteration: int, name: str) -> list[Span]:
        return [
            s for s in self.spans if s.iteration == iteration and s.name == name
        ]

    def busy_s(self, iteration: int, name: str) -> float:
        """Summed span time; concurrent spans (writer threads) add up."""
        return sum((s.end - s.start for s in self.of(iteration, name)), 0.0)

    def self_s(self, iteration: int, name: str) -> float:
        """Span time minus the part covered by its child spans."""
        total = 0.0
        for s in self.of(iteration, name):
            kids = sorted(
                (c.start, c.end) for c in self.spans if c.parent == s.id
            )
            covered, reach = 0.0, s.start
            for a, b in kids:
                a, b = max(a, reach), min(b, s.end)
                if b > a:
                    covered += b - a
                    reach = b
            total += (s.end - s.start) - covered
        return total

    def dump(self, path: str, extra: dict) -> None:
        with open(path, "w") as f:
            json.dump({**extra, "spans": [asdict(s) for s in self.spans]}, f)


def layer_metrics(tracer: Tracer, iteration: int, n_batches: int,
                  jobs: int, stats: list[dict]) -> dict[str, float]:
    """Per-layer figures of one traced ``run_incremental`` iteration."""
    return {
        "pipeline.run_batch_self_s": tracer.self_s(iteration, "pipeline.run_batch"),
        "spark.jobs_per_batch": jobs / n_batches,
        "pipeline.lake_write_s": tracer.busy_s(iteration, "pipeline.lake_write"),
        "pipeline.lake_writes": float(
            len(tracer.of(iteration, "pipeline.lake_write"))
        ),
        "pipeline.persist_wait_s": tracer.busy_s(iteration, "pipeline.persist_wait"),
        "pipeline.rw_delta_wait_s": tracer.busy_s(
            iteration, "pipeline.rw_delta_wait"
        ),
        "clustering.kernel_s": tracer.busy_s(iteration, "clustering.kernel"),
        "clustering.nil_rows": float(
            sum(s.rows for s in tracer.of(iteration, "clustering.kernel"))
        ),
        "ann_index.persist_delta_s": tracer.busy_s(
            iteration, "ann_index.persist_delta"
        ),
        "ann_index.persist_delta_calls": float(
            len(tracer.of(iteration, "ann_index.persist_delta"))
        ),
        "retrieval.kb_shards_s": tracer.busy_s(iteration, "retrieval.kb_shards"),
        "pipeline.mentions": float(sum(s["n_mentions"] for s in stats)),
        "pipeline.nil_mentions": float(sum(s["n_nil"] for s in stats)),
        "kb.new_entities": float(sum(s["n_clusters"] for s in stats)),
    }
