"""Structured-Streaming faces. Every face is a plain batch function
``body(batch_df, batch_id, ...)`` — tests and the composed face call it
without a stream — and ``start_face`` is the one place a body meets a
stream."""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery


def start_face(
    stream: DataFrame, checkpoint_dir: str, body: Callable[..., object], *args, **kwargs
) -> StreamingQuery:
    """Start ``body(batch_df, batch_id, *args, **kwargs)`` on each
    micro-batch of ``stream``, checkpointed at ``checkpoint_dir``. The
    trigger is availableNow: the query drains the source, then stops."""

    def _trigger(batch_df: DataFrame, batch_id: int) -> None:
        body(batch_df, batch_id, *args, **kwargs)

    return (
        stream.writeStream.foreachBatch(_trigger)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
