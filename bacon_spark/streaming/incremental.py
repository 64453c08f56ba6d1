"""Streaming incremental cube maintenance: feed each micro-batch into a
CuttingBoard so cached slices stay current as data arrives.

The reference's nearest concept is batch refresh — its lazy callable
dataset re-pulled on cache invalidation
(/root/reference/bacon/cutting.py:122-135,
/root/reference/bacon/utils/cache.py:93-127). The Spark-native upgrade is
``foreachBatch``: every micro-batch is a delta DataFrame, and
``CuttingBoard.refresh`` folds it into each cached slice by merging the
delta's partial aggregates into the slice's rows (sound by the accumulator
partial/final contract) — no full rescan per batch, which is the only
viable shape when the base stream is unbounded.

A micro-batch DataFrame is only guaranteed readable during its batch, so
nothing read from it may stay lazy past the ``foreachBatch`` call: refresh
collects the batch's label values and measure inputs in one job inside
the batch, and every merged slice holds collected rows afterwards.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def refresh_on_batch(board) -> "callable":
    """A ``foreachBatch`` function maintaining *board*'s cached slices."""

    def _fn(batch_df: DataFrame, batch_id: int) -> None:
        # grow_base=False: the board's base frame should reference the
        # storage the stream lands in; a union per batch would grow the
        # plan tree without bound. refresh collects what it reads of the
        # batch and merges into rows, so nothing stays lazy past it.
        board.refresh(batch_df, grow_base=False)

    return _fn


def stream_into_board(
    stream_df: DataFrame,
    board,
    checkpoint: str,
    query_name: str = "cube_maintenance",
):
    """Attach a streaming DataFrame to a CuttingBoard: every micro-batch
    updates the board's cached slices incrementally. Returns the
    StreamingQuery (caller awaits/stops it).

    Flips the board to snapshot caching (localCheckpoint) and converts any
    existing cached slices: under maintenance, a cached slice must be a
    frozen snapshot — deltas landing in the base path would otherwise
    invalidate persisted plans and double-count on recompute. Consistency
    contract: prime cached slices only while the stream is caught up
    (``processAllAvailable``) and no other writer is appending, so a primed
    snapshot never overlaps a yet-undelivered micro-batch."""
    board._snapshot_frames()
    return (
        stream_df.writeStream.queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint)
        .foreachBatch(refresh_on_batch(board))
        .start()
    )
