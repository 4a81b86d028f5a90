"""Streaming-native near-duplicate ingest gate (VERDICT r06 stretch).

``dropDuplicatesWithinWatermark`` covers EXACT keys; this module is
its near-dup counterpart: a rate-limited document stream where every
micro-batch is LSH-checked against the stored corpus artifacts AND
the batch's own earlier documents, admitted survivors land in the
corpus store — bands and shingle sets included — so the very next
micro-batch already deduplicates against them.

Semantics (the greedy online gate every production ingest runs): a
document is ADMITTED iff it near-dups neither (a) any already-stored
corpus document nor (b) any smaller-id document of its own
micro-batch. First occurrence survives; later arrivals of its
near-dups are rejected. With one document per micro-batch this is
exactly sequential greedy admission in arrival order (pinned in
tests/test_streaming.py against a hand-run sequential reference).

State model — why there is NO executor state to watermark: the gate
runs inside foreachBatch, so Spark's state store holds nothing
between triggers. All cross-batch memory lives in the corpus
artifacts themselves:

- ``bands_dir``: MINHASH_BANDS rows per admitted doc (4 band hashes),
- ``shingles_dir``: one row per admitted doc with its distinct
  shingle array.

Both grow with the ADMITTED corpus, never with stream history or
trigger count — a rejected duplicate adds zero state. That is the
same bound the batch incremental path carries (PLANS.md
"dedup_incremental"), which is the point: the stream and the daily
batch job share one store and one contract. Replays of a checkpointed
batch re-derive the same admitted set against the store as of that
batch (appends are idempotent per batch id only if the sink dedupes;
availableNow + checkpoint gives effectively-once for the drain-the
-source deployments this targets).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from calculate_file_content_size_for_vector_db_spark.session import (
    _FACE_TRIGGER_LOCK,
    cache_scope,
    cached,
)
from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
    bands_from_shingle_sets,
    incremental_neardup_pairs,
    incremental_survivors,
    minhash_bands,
    minhash_lsh_pairs,
    minhash_signature,
    shingle_sets,
)
from calculate_file_content_size_for_vector_db_spark.streaming.store_swap import _exists


def admit_batch(
    batch: DataFrame,
    corpus_bands: DataFrame,
    corpus_shingles: DataFrame,
    threshold: float = 0.5,
    text_col: str = "text",
    key: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """The pure (testable, batch-callable) core of the gate: the
    subset of ``batch`` admitted against the stored corpus AND its own
    smaller-id members.

    Plan shape: one incremental corpus check (batch-side signatures
    only — the corpus side is two stored-table scans) plus one
    batch-local LSH self-join; both candidate-bounded. The batch-local
    reject rule is "pairs with ANY smaller-id batch doc" — at one doc
    per trigger it coincides with greedy admission; within larger
    batches it is the deterministic a_id<b_id convention every dedup
    op here uses."""
    vs_corpus = incremental_survivors(
        batch,
        incremental_neardup_pairs(
            batch,
            corpus_bands,
            corpus_shingles,
            threshold,
            text_col,
            key,
            max_bucket_size=max_bucket_size,
        ),
        key,
    )
    local_pairs = minhash_lsh_pairs(
        batch, threshold, text_col, key, max_bucket_size=max_bucket_size
    )
    # a_id < b_id by construction: b is the later/larger id — reject it
    return (
        batch.join(vs_corpus.select(key), key, "left_semi")
        .join(local_pairs.select(F.col("b_id").alias(key)), key, "left_anti")
    )


def gate_batch(
    batch_df: DataFrame,
    bands_dir: str,
    shingles_dir: str,
    admitted_dir: str,
    threshold: float = 0.5,
    text_col: str = "text",
    key: str = "doc_id",
    max_bucket_size: int | None = None,
) -> DataFrame:
    """One trigger's worth of the gate, as a plain batch function: admit
    ``batch_df`` against the stored corpus (`admit_batch`), append the
    admitted rows and their band/shingle artifacts to the store, and
    return the admitted frame as an eager SNAPSHOT the caller can keep
    evaluating (the solo face discards it; the composed face feeds it
    to the downstream faces). Extracting this from the foreachBatch
    closure is what lets streaming/composed.py run the IDENTICAL gate
    body, so the composed test pins the composition seam rather than a
    reimplementation.

    The snapshot is a ``localCheckpoint(eager=True)``, not a persist(),
    and the distinction is load-bearing: this trigger APPENDS to the
    very band/shingle stores the lazy admitted plan READS, so any
    re-evaluation after the append would gate the batch against a store
    that already contains the batch itself — every admitted doc would
    near-dup its own stored bands and the recomputed frame would come
    back EMPTY. A persist() does not protect against that (unpersisting
    the parent batch frame cascade-invalidates dependent cache entries,
    silently triggering exactly that re-evaluation); truncating the
    lineage before the first store write does. Batch-sized, so the
    checkpoint cost is one materialization of the admitted rows.

    Missing store dirs bootstrap as an empty corpus (admits everything);
    the first trigger's appends create them.

    Call it inside a ``cache_scope``: the snapshot it returns and the
    frames it caches die when that scope exits."""
    spark = batch_df.sparkSession
    # The bare lock, not a scope: the admitted checkpoint below is the
    # return value, so the caller's scope releases it. Holding the
    # lock while it is created keeps it out of a concurrent scope's
    # release window.
    with _FACE_TRIGGER_LOCK:
        batch_df = cached(batch_df)
        empty = batch_df.limit(0)
        bands = (
            spark.read.parquet(bands_dir)
            if _exists(spark, bands_dir)
            else minhash_bands(minhash_signature(empty, text_col=text_col, key=key), key=key)
        )
        shingles = (
            spark.read.parquet(shingles_dir)
            if _exists(spark, shingles_dir)
            else shingle_sets(empty, text_col, key)
        )
        admitted = admit_batch(
            batch_df,
            bands,
            shingles,
            threshold,
            text_col,
            key,
            max_bucket_size,
        ).localCheckpoint(eager=True)  # snapshot BEFORE the store mutates
        admitted.write.mode("append").parquet(admitted_dir)
        # band append derives from the persisted shingle sets (r16,
        # bands_from_shingle_sets — bit-identical): the admitted text
        # tokenizes+shingles once per trigger, not twice
        adm_sh = cached(shingle_sets(admitted, text_col, key))
        adm_sh.write.mode("append").parquet(shingles_dir)
        bands_from_shingle_sets(adm_sh, key=key).write.mode("append").parquet(
            bands_dir
        )
        return admitted


def gate_trigger(batch_df: DataFrame, _batch_id: int, *args, **kwargs) -> None:
    """One trigger of the solo gate: ``gate_batch(batch_df, *args,
    **kwargs)`` with its admitted snapshot discarded — the scope
    releases it with the trigger's caches. Rate-limit the source
    (``maxFilesPerTrigger`` / ``maxOffsetsPerTrigger``) so each
    trigger's signature work is bounded; the corpus side never
    recomputes regardless of batch size."""
    with cache_scope(batch_df.sparkSession):
        gate_batch(batch_df, *args, **kwargs)
