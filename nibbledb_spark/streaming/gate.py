"""The micro-batch sink both crawl gates compose (``lsh_dedup_gate``,
``semdedup_gate``): the ``foreachBatch`` + idempotent-sink shape of
Structured Streaming (SIGMOD 2018, PAPERS.md), stated once.

Per batch: persist and count the batch; then, under
:class:`~nibbledb_spark.session.micro_batch_tuning` on the batch's OWN
session (inside a stream, the query's clone of the session it was
started from), build the kept rows, persist and count them, and run the
gate's index add; then, under that session's own confs, hand the kept
rows to ``on_pass(kept, batch_id)``; unpersist everything at the end,
on success or failure. A batch whose ``on_pass`` fails has grown the
index already; its replay re-adds nothing (each gate's add skips ids
the index holds) and hands ``on_pass`` the same rows, so ``on_pass``
must be idempotent by ``batch_id``.

``on_pass`` reads the kept rows' cache unless the add wrote into a
directory their plan reads: Spark then drops that cache entry and
``on_pass`` recomputes the rows against the grown index.
``semdedup_gate``'s postings append is such a write; the recomputed
rows are the same, since the survivors it added are not near one
another and the self-id guard skips each survivor's own posting.
"""

from __future__ import annotations

import logging

from pyspark.sql import DataFrame

from nibbledb_spark.session import micro_batch_tuning

_log = logging.getLogger("nibbledb_spark.gate")


def gated_sink(gate, on_pass=None):
    """``foreachBatch`` handler running ``gate`` over each micro-batch.

    ``gate(batch, hold)`` gets the persisted batch and returns
    ``(kept, add)``: the rows that pass, and a callable that adds the
    persisted kept rows to the gate's index. ``hold(df)`` persists a
    frame the gate reuses within the batch and returns it. Columns of
    ``kept`` that the batch lacks are the gate's helpers: ``add`` sees
    them, ``on_pass`` does not. Each batch logs one DEBUG line to
    ``nibbledb_spark.gate`` with ``batch_id``, rows in and survivors.
    """

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        held: list[DataFrame] = []

        def hold(df: DataFrame) -> DataFrame:
            held.append(df.persist())
            return held[-1]

        try:
            batch = hold(batch_df)
            n_in = batch.count()
            with micro_batch_tuning(batch.sparkSession, n_in):
                kept, add = gate(batch, hold)
                kept = hold(kept)
                n_kept = kept.count()
                _log.debug(
                    "batch_id=%s rows_in=%d survivors=%d", batch_id, n_in, n_kept
                )
                add(kept)
            if on_pass is not None:
                on_pass(
                    kept.select(*(c for c in kept.columns if c in batch.columns)),
                    batch_id,
                )
        finally:
            for df in held:
                df.unpersist()

    return sink
