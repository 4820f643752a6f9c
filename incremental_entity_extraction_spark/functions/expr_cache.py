"""Per-SparkContext memo of prebuilt Column expression lists.

Driver-side plan construction is a serial per-batch floor term — profiled
at ~0.28 s/batch (nil_plan 0.10, triple
plans 0.14, new-entity plan 0.04) — dominated by the Py4J round-trips
that rebuild the SAME Column trees every batch.  Column objects are
expression TEMPLATES: unresolved attribute references bound only to the
JVM gateway, not to any DataFrame, so they are safely reusable across
batches, plans, and DataFrames within one SparkContext.

The cache is keyed WEAKLY by the SparkContext instance — entries die with
the context, so a restarted context can never be served stale JVM object
handles (the ``SparkPlan.session() is null`` INTERNAL_ERROR failure mode
that module-level DataFrame caches hit in round 3; Columns are
gateway-bound rather than session-bound, but the weak key makes the
lifetime question moot).  The secondary key carries whatever config
values the expressions embed (``PipelineConfig`` is a frozen dataclass —
hashable); an unhashable key falls back to building uncached.
"""

from __future__ import annotations

from weakref import WeakKeyDictionary

_by_sc: WeakKeyDictionary = WeakKeyDictionary()


def cached_exprs(sc, key, builder):
    """Return ``builder()``, memoized per (SparkContext, key).

    ``builder`` must construct only DataFrame-independent expressions
    (``F.col`` / ``F.lit`` trees); anything bound to a DataFrame — e.g.
    ``F.broadcast(df)`` — must stay outside the cache.

    Cached ``.alias(...)`` columns carry construction-time expression ids
    that then appear in EVERY plan built from the cache.  Joining two
    outputs of the same cached-expr operator is safe — Spark's
    DeduplicateRelations re-aliases conflicting ids and per-side
    ``df[...]`` references resolve correctly (pinned by
    test_expr_cache.test_cached_aliases_safe_across_two_frames_joined) —
    but keep that test green across Spark upgrades before trusting new
    composition patterns.
    """
    _MISS = object()
    try:
        per = _by_sc.setdefault(sc, {})
        hit = per.get(key, _MISS)
    except TypeError:  # unhashable key / non-weakrefable sc — no cache
        return builder()
    # builder() runs OUTSIDE the try: a TypeError raised by a buggy
    # builder must propagate, not silently re-run via the fallback
    if hit is _MISS:
        hit = per[key] = builder()
    return hit
