"""Streaming sinks beyond the built-ins: foreachBatch MERGE-upsert
into a parquet target (the streaming-CDC landing pattern without
Delta/Iceberg).

Each microbatch is one ``keyed_upsert`` (operators/maintenance.py, the
contract the batch CDC query shares) written through
store_swap.swap_rewrite, with heal_store at trigger start — the first
batch too. foreachBatch replays a batch after a crash, and a replayed
upsert gives the same rows, so the sink is idempotent. A batch whose
columns differ from the target's fails the trigger and leaves the
target as it was. With a lakehouse table format this becomes a
metadata-level MERGE INTO.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from calculate_file_content_size_for_vector_db_spark.operators.maintenance import keyed_upsert
from calculate_file_content_size_for_vector_db_spark.session import cache_scope
from calculate_file_content_size_for_vector_db_spark.streaming.store_swap import (
    heal_store,
    swap_rewrite,
)
from calculate_file_content_size_for_vector_db_spark.streaming.takedown import _exists


def stream_upsert_parquet(
    stream: DataFrame,
    target_path: str,
    checkpoint_path: str,
    key: str = "event_id",
) -> StreamingQuery:
    """writeStream.foreachBatch sink merging each microbatch into a
    parquet target by ``key``. Returns the started query (availableNow
    trigger — drains the source then stops)."""

    def _merge(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        # heal inside the scope's lock, before the target is read
        with cache_scope(spark):
            heal_store(spark, target_path)
            batch = batch_df.dropDuplicates([key])
            if _exists(spark, target_path):
                target = spark.read.parquet(target_path)
                if sorted(batch.columns) != sorted(target.columns):
                    raise ValueError(f"batch columns {batch.columns} != target's {target.columns}")
                batch = keyed_upsert(target, batch.select(key), batch, key)
            swap_rewrite(spark, target_path, batch)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
