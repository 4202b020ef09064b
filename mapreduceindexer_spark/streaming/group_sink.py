"""Streaming ingest into a MULTI-TABLE group: every microbatch lands in
the documents member AND its derived inverted-index member, then one
group pin publishes the pair — so a group reader sees index-consistent
snapshots at every point of the stream, never new docs against an old
index (the guarantee ``sources/group.py`` exists for, kept true under
continuous ingest).

Idempotence is layered exactly like the single-table sink
(``table_sink._append_batch``): each member commit records its
``batch_id`` in the manifest meta and a retried batch no-ops per
member; the group pin records it too. A writer dying anywhere in the
middle leaves a torn MEMBER state that group readers never resolve —
the next successful batch's pin set is again mutually consistent.

The index member is maintained INCREMENTALLY: postings built over the
batch only, merged into the prior index state
(``operators/index.merge_postings_colocated`` — merge ≡ rebuild
contract), so the stream never re-tokenizes committed documents.
"""

from __future__ import annotations

import uuid

from pyspark.sql import DataFrame

from mapreduceindexer_spark.operators.index import (
    build_postings,
    merge_postings_colocated,
)
from mapreduceindexer_spark.sources.group import TableGroup
from mapreduceindexer_spark.sources.transact import TransactionalTable


def _member_current_batch(table: TransactionalTable) -> int:
    cur = table.current_version()
    return table.meta_of(cur).get("batch_id", -1) if cur > 0 else -1


def _ingest_batch(
    docs_table: TransactionalTable,
    idx_table: TransactionalTable,
    grp: TableGroup,
    batch_df: DataFrame,
    batch_id: int,
) -> None:
    g = grp.current_version()
    if g > 0:
        meta = grp._manifest(g).get("meta", {})
        if meta.get("batch_id", -1) >= batch_id:
            return  # fully committed batch: pin already published
    cp = batch_df.localCheckpoint()
    if cp.isEmpty():
        return
    # Member 1: documents (append).
    if _member_current_batch(docs_table) < batch_id:
        docs_table.commit(
            cp,
            mode="append" if docs_table.current_version() > 0 else "overwrite",
            meta={"batch_id": batch_id},
        )
    # Member 2: the index, maintained incrementally (delta build + merge).
    if _member_current_batch(idx_table) < batch_id:
        delta = build_postings(cp)
        if idx_table.current_version() > 0:
            prior = idx_table.read(cp.sparkSession)
            new_idx = merge_postings_colocated(prior, delta)
        else:
            new_idx = delta
        idx_table.commit(
            new_idx.localCheckpoint(),  # materialize before overwrite
            mode="overwrite",
            meta={"batch_id": batch_id},
        )
    grp.commit(
        {
            "docs": (docs_table, docs_table.current_version()),
            "idx": (idx_table, idx_table.current_version()),
        },
        meta={"batch_id": batch_id},
    )


def run_stream_to_group(
    stream_df: DataFrame,
    docs_table: TransactionalTable,
    idx_table: TransactionalTable,
    grp: TableGroup,
    timeout_seconds: int = 300,
) -> None:
    """Drain ``stream_df`` (availableNow) through ``_ingest_batch``;
    raises on timeout — a partial replay must never read as complete
    (the table_sink discipline)."""
    q = (
        stream_df.writeStream.foreachBatch(
            lambda df, bid: _ingest_batch(docs_table, idx_table, grp, df, bid)
        )
        .queryName(f"groupsink_{uuid.uuid4().hex[:8]}")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    try:
        if not q.awaitTermination(timeout_seconds):
            raise RuntimeError(
                f"stream-to-group replay did not finish within "
                f"{timeout_seconds} s"
            )
    finally:
        q.stop()


__all__ = ["run_stream_to_group", "TableGroup"]
