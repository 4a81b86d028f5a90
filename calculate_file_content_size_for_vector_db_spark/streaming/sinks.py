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

from calculate_file_content_size_for_vector_db_spark.operators.maintenance import keyed_upsert
from calculate_file_content_size_for_vector_db_spark.session import cache_scope
from calculate_file_content_size_for_vector_db_spark.streaming.store_swap import (
    _exists,
    heal_store,
    swap_rewrite,
)


def upsert_parquet_batch(
    batch_df: DataFrame, _batch_id: int, target_path: str, key: str = "event_id"
) -> None:
    """One trigger of the sink: merge ``batch_df`` into the parquet
    target by ``key``. Start it on a stream with
    ``start_face(stream, checkpoint_dir, upsert_parquet_batch, target_path)``."""
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
