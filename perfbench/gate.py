"""Correctness gate, run outside the timed window.

Each timed iteration's lake is checked against the NumPy oracle on the same
input: the (subj, pred, obj) triple set must reach the workload's precision
and recall floor, its batches must repeat the warm-up run's triples exactly
(the pipeline is deterministic), the lineage must hold every batch exactly
once, and the contexts stored with every mention must rebuild its turn's
text.
"""

from __future__ import annotations

import json
import os

import pandas as pd
import pyarrow.dataset as ds

from incremental_entity_extraction_spark.functions.featurizer import tokenize
from incremental_entity_extraction_spark.oracle import oracle_run_incremental


def _table(lake_root: str, table: str) -> pd.DataFrame:
    """Read a batch_id-partitioned lake table without Spark."""
    return ds.dataset(
        os.path.join(lake_root, table), format="parquet", partitioning="hive"
    ).to_table().to_pandas()


def triple_set(df: pd.DataFrame, cols=("subj", "pred", "obj")) -> set[tuple]:
    return set(map(tuple, df[list(cols)].itertuples(index=False)))


class Gate:
    def __init__(self, transcripts: pd.DataFrame, kb: pd.DataFrame, cfg,
                 floor: float, warmup_lake: str) -> None:
        _, _, triples, _ = oracle_run_incremental(transcripts, kb, cfg)
        self.expected = triple_set(triples)
        self.batches = sorted(int(b) for b in transcripts["batch_id"].unique())
        self.tokens = {
            (r.conv_id, int(r.turn_idx)): tokenize(r.text)
            for r in transcripts.itertuples(index=False)
        }
        self.floor = floor
        self.warm = triple_set(
            _table(warmup_lake, "triples"), ("batch_id", "subj", "pred", "obj")
        )
        self.warm_batches = {t[0] for t in self.warm}

    def check(self, lake_root: str) -> tuple[float, float, list[str]]:
        """(precision, recall, problems) for one finished lake."""
        problems: list[str] = []
        triples = _table(lake_root, "triples")
        got = triple_set(triples)
        hit = len(got & self.expected)
        precision = hit / len(got) if got else 0.0
        recall = hit / len(self.expected) if self.expected else 1.0
        if precision < self.floor or recall < self.floor:
            problems.append(
                f"triples P={precision:.4f} R={recall:.4f} < floor {self.floor}"
            )

        again = triple_set(
            triples[triples["batch_id"].isin(self.warm_batches)],
            ("batch_id", "subj", "pred", "obj"),
        )
        if again != self.warm:
            problems.append("triples differ from the warm-up run's")

        with open(os.path.join(lake_root, "lineage.jsonl")) as f:
            lineage = sorted(json.loads(line)["batch_id"] for line in f if line.strip())
        if lineage != self.batches:
            problems.append(f"lineage {lineage} != batches {self.batches}")

        m = _table(lake_root, "mentions")
        for r in m.itertuples(index=False):
            turn = self.tokens.get((r.conv_id, int(r.turn_idx)))
            rebuilt = " ".join(
                p for p in (r.context_left, r.mention, r.context_right) if p
            ).split()
            if turn != rebuilt:
                problems.append(f"text of {r.conv_id}#{r.turn_idx} changed")
                break
        return precision, recall, problems
