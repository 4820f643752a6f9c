"""The benchmark's workloads: world shapes and engine settings.

Both are closed-loop: every batch is present at start and processed in
``batch_id`` order by one ``run_incremental`` call, with ``cluster_mode="cc"``
and a 256-d embedding space.  Turn counts depend only on ``n_convs`` and
``base_turns`` (the generator's Zipf profile), so every seed gives the same
amount of work; the seed changes the text, the mentions and which entities
are NIL.

Sizes are set so that a run (JVM start, three set-ups, an untimed warm-up,
the timed iterations and the oracle check) takes under a minute on a 4-core
host: the full benchmark is about fifty runs and must finish within an
hour.  ``tiny`` shapes exist only for the smoke test.
"""

from __future__ import annotations

from dataclasses import dataclass, replace


@dataclass(frozen=True)
class Workload:
    name: str
    n_convs: int
    n_batches: int
    n_entities: int
    nil_frac: float
    retrieval_mode: str
    # precision and recall of the triple set vs the oracle must reach this
    triples_floor: float
    # --seconds divided by this gives the number of timed iterations (at
    # least one), the same on every commit
    iteration_s: float
    # batches in the untimed warm-up run
    warmup_batches: int
    base_turns: int = 12


WORKLOADS = {
    w.name: w
    for w in (
        # Backlog ingestion: ~1 550 turns per batch with broadcast retrieval,
        # so the fused detect -> encode -> top-k kernel does most of the work
        # and the per-batch fixed cost is amortised.  Exact retrieval makes
        # the engine reproduce the oracle.  An iteration takes ~6 s with Spark
        # on two of four cores; it counts as 3.3 s so that a 10-second run
        # reports the median of three.
        Workload(
            name="backfill",
            n_convs=3000,
            n_batches=4,
            n_entities=4000,
            nil_frac=0.05,
            retrieval_mode="broadcast",
            triples_floor=1.0,
            iteration_s=3.3,
            warmup_batches=4,
        ),
        # KB growth under IVF retrieval: 30 % of entities are NIL, so every
        # batch searches the index, clusters real NIL volume, grows the RW KB
        # and appends an index delta.  ~340 turns per batch, so the per-batch
        # floor (Spark jobs, lake writes, delta appends) dominates.  IVF is
        # approximate and its misses cascade through later batches.  An
        # iteration takes ~10 s.
        Workload(
            name="ann_growth",
            n_convs=420,
            n_batches=3,
            n_entities=2000,
            nil_frac=0.3,
            retrieval_mode="ivf",
            triples_floor=0.7,
            iteration_s=10.0,
            warmup_batches=1,
        ),
    )
}

# smoke-test shapes: same engine settings, a few hundred turns each
TINY = {"n_convs": 60, "n_entities": 200}


def shape(w: Workload, tiny: bool) -> Workload:
    return replace(w, n_batches=min(w.n_batches, 3), **TINY) if tiny else w
