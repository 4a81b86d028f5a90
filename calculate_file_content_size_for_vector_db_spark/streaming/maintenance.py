"""Streaming lake-maintenance face (VERDICT r07 item 7, stretch).

The streaming counterpart of the near-dup ingest gate, for the OPS
side of a live lake: every micro-batch of documents is (a) diffed
against the stored snapshot — the corpus_snapshot_diff operator,
restricted to the batch's keys — (b) appended to the partitioned
parquet lake with a version stamp, and (c) followed by a
compaction_plan pass over the file LISTING of exactly the partitions
the batch dirtied.

State model — the same contract as streaming/neardup.py: ZERO
executor/state-store bytes. foreachBatch holds nothing between
triggers; all cross-trigger memory is the lake itself. The "previous
snapshot" a trigger diffs against is the lake as of trigger start
(append-only rows + latest-version-wins on read), so replays of a
checkpointed batch re-derive the same diff against the same store
prefix.

Per-trigger cost model (the 100-TB shape):
- diff: one semi-join of the store on the batch's keys (store side
  reduced map-side to key + content fingerprint; content bytes never
  shuffle — the snapshot_diff plan) + a batch-sized full-outer. Keys
  untouched by the batch are by definition 'unchanged' and are never
  scanned past the semi-join filter.
- append: batch-sized write, partitioned by ``partition_col``.
- compaction planning: ONE window over the file listing (metadata,
  ~10^6x smaller than data) of ONLY the dirtied partitions — the
  listing is read through the binaryFile source with content pruned
  away (the SRC1/SRC2 free-`length` pattern), so no data bytes move.

Within one trigger, batch keys must be unique (the CDC convention:
one version of a doc per micro-batch); cross-trigger re-delivery of
an identical document diffs as 'unchanged' and emits nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from calculate_file_content_size_for_vector_db_spark.operators.maintenance import (
    compaction_plan,
)
from calculate_file_content_size_for_vector_db_spark.operators.relational import (
    snapshot_diff,
)
from calculate_file_content_size_for_vector_db_spark.session import cache_scope, cached
from calculate_file_content_size_for_vector_db_spark.streaming.store_swap import _exists


def lake_file_listing(
    spark, lake_dir: str, partition_col: str = "source"
) -> DataFrame:
    """(partition, path, size_bytes): the lake's parquet file listing,
    read distributed through the binaryFile source with the content
    column pruned (only path/length are projected, so Spark never
    materializes file bytes — the SRC2 free-size pattern). The
    partition value is recovered from the hive-style path segment."""
    return (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.parquet")
        .option("recursiveFileLookup", "true")
        .load(lake_dir)
        .select(
            F.regexp_extract(F.col("path"), f"{partition_col}=([^/]+)/", 1).alias(
                partition_col
            ),
            F.col("path"),
            F.col("length").cast("bigint").alias("size_bytes"),
        )
    )


def batch_maintenance(
    batch: DataFrame,
    store: DataFrame,
    key: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """The pure (testable, batch-callable) diff core: snapshot_diff of
    the store's latest-version rows vs ``batch``, restricted to the
    batch's keys. ``store`` carries a ``_v`` version column (higher =
    newer); an empty store diffs everything as 'added'.

    Restricting the old side to batch keys BEFORE the diff is exact:
    a key absent from the batch cannot be 'added' or 'changed' this
    trigger, and append-only stores never emit 'removed'."""
    touched = store.join(batch.select(key), key, "left_semi")
    w = Window.partitionBy(key).orderBy(F.desc("_v"))
    prev = (
        touched.withColumn("_rn", F.row_number().over(w))
        .where(F.col("_rn") == 1)
        .select(key, text_col)
    )
    return snapshot_diff(prev, batch.select(key, text_col), key, text_col)


def lake_maintenance_batch(
    batch_df: DataFrame,
    batch_id: int,
    lake_dir: str,
    diff_dir: str,
    plan_dir: str,
    target_bytes: int = 128 * 1024 * 1024,
    key: str = "doc_id",
    text_col: str = "text",
    partition_col: str = "source",
) -> None:
    """One trigger of the maintenance face: append one row per diff
    outcome (key, status, batch_id) to ``diff_dir``, the batch to the
    lake, and the compaction bins of the partitions it dirtied
    (partition, path, size_bytes, compact_bin, batch_id) to
    ``plan_dir``. Cold start needs no pre-seeded lake: a missing
    ``lake_dir`` is an empty store (everything diffs 'added'), created
    by the first append."""
    spark = batch_df.sparkSession
    with cache_scope(spark):
        batch_df = cached(batch_df)
        if _exists(spark, lake_dir):
            store = spark.read.parquet(lake_dir)
        else:
            store = batch_df.limit(0).withColumn("_v", F.lit(0).cast("long"))
        diff = batch_maintenance(batch_df, store, key, text_col)
        diff.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode(
            "append"
        ).parquet(diff_dir)
        batch_df.withColumn("_v", F.lit(batch_id).cast("long")).write.partitionBy(
            partition_col
        ).mode("append").parquet(lake_dir)
        dirty = batch_df.select(partition_col).distinct()
        plan = compaction_plan(
            lake_file_listing(spark, lake_dir, partition_col).join(
                F.broadcast(dirty), partition_col, "left_semi"
            ),
            target_bytes,
            partition_col=partition_col,
            size_col="size_bytes",
            key="path",
        )
        plan.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode(
            "append"
        ).parquet(plan_dir)
