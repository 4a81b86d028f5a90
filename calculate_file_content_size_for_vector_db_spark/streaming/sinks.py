"""Streaming sinks beyond the built-ins: foreachBatch MERGE-upsert
into a parquet target (the streaming-CDC landing pattern without
Delta/Iceberg).

Each microbatch runs the same ``merge_upsert`` used by the batch CDC
query (operators/maintenance.py): matched keys are replaced, new keys
appended. foreachBatch gives exactly-once per-batch semantics under a
checkpointed trigger — replays of a batch overwrite with the same
merged result, so the sink is idempotent by construction.

Scale notes: the anti-join inside merge_upsert shuffles on the key;
with a real lakehouse table format this becomes a metadata-level
MERGE INTO. The overwrite-while-reading pitfall (the merged frame's
lineage points at the files being overwritten) is broken with an
eager localCheckpoint before the write.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql.streaming import StreamingQuery

from calculate_file_content_size_for_vector_db_spark.operators.maintenance import merge_upsert
from calculate_file_content_size_for_vector_db_spark.session import cache_scope


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
        # the scope releases the merged checkpoint at trigger end
        with cache_scope(spark):
            batch = batch_df.dropDuplicates([key])
            try:
                target = spark.read.parquet(target_path)
                merged = merge_upsert(target, batch, key)
            except Exception:  # noqa: BLE001 — first batch: no target yet
                merged = batch
            # materialize BEFORE overwriting: the merged plan reads
            # the same files the write replaces
            merged = merged.localCheckpoint(eager=True)
            merged.write.mode("overwrite").parquet(target_path)

    return (
        stream.writeStream.foreachBatch(_merge)
        .option("checkpointLocation", checkpoint_path)
        .trigger(availableNow=True)
        .start()
    )
