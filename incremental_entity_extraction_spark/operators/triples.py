"""Triple materialization — the KG output (SURVEY.md §1.4, §7.1).

Relational rendering of the reference's outputs: the enriched mention table
(linking decision per mention, eval_kbp.py:654-658) and the cluster table +
KB delta.  Triple vocabulary:

* (conv_id#turn_idx, 'mentions',        mention_id)       every mention
* (mention_id,       'linked_to',       wiki:<id>|new:<id>) not-NIL
* (mention_id,       'member_of',       new:<rw_id>)       NIL
* (new:<rw_id>,      'canonical_name',  modal title)       per cluster

Both halves are built on the driver with pyarrow from rows already there
(pipeline.run_batch): the batch's mention rows, its slice of the window's
one Arrow collect, and its cluster rows.  No Spark job, no join.
"""

from __future__ import annotations

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc

from incremental_entity_extraction_spark.config import PipelineConfig

# the ``triples`` table minus its batch_id partition, as Spark's writer gave it
TRIPLES_SCHEMA = pa.schema(
    [(c, pa.string()) for c in ("subj", "pred", "obj", "conv_id")]
)


def _triples(subj, pred: str, obj, conv_id) -> pa.Table:
    return pa.Table.from_arrays(
        [subj, pa.repeat(pred, len(subj)), obj, conv_id], schema=TRIPLES_SCHEMA
    )


def mention_triples(mentions: pa.Table, cfg: PipelineConfig) -> pa.Table:
    """'mentions' + 'linked_to' triples of one batch's mention rows (the
    ``mentions`` table's columns).  A linked row with a null id gets a null
    object, as Spark's ``concat`` gave it."""
    def text(col):
        return pc.cast(col, pa.string())

    turn_uri = pc.binary_join_element_wise(
        mentions["conv_id"], text(mentions["turn_idx"]), "#"
    )
    linked = mentions.filter(pc.invert(mentions["is_nil"]))
    target = pc.if_else(
        pc.equal(linked["top_indexer"], cfg.ro_indexer_id),
        pc.binary_join_element_wise("wiki:", text(linked["top_wikipedia_id"]), ""),
        pc.binary_join_element_wise("new:", text(linked["top_id"]), ""),
    )
    return pa.concat_tables([
        _triples(turn_uri, "mentions", mentions["mention_id"], mentions["conv_id"]),
        _triples(linked["mention_id"], "linked_to", target, linked["conv_id"]),
    ])


def cluster_triples(clusters: pd.DataFrame) -> pa.Table:
    """'member_of' + 'canonical_name' triples of one batch's cluster rows
    with ids (``mentions_id``, ``index_id``, ``title``).  A member's conv_id
    is the prefix of its composite
    ``mention_id = f"{conv_id}:{turn_idx}:{start_tok}"``
    (operators/mentions.py)."""
    rows = []
    for members, index_id, title in zip(
        clusters["mentions_id"], clusters["index_id"], clusters["title"]
    ):
        entity = f"new:{index_id}"
        rows += [(m, "member_of", entity, m.rsplit(":", 2)[0]) for m in members]
        rows.append((entity, "canonical_name", title, None))
    cols = list(zip(*rows)) if rows else [()] * len(TRIPLES_SCHEMA)
    return pa.Table.from_arrays(
        [pa.array(c, pa.string()) for c in cols], schema=TRIPLES_SCHEMA
    )
