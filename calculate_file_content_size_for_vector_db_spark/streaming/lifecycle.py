"""Composed day-2 lifecycle face: TAKEDOWN + UPSERT in ONE trigger
against ONE store (VERDICT r14 item 2 — the last uncovered seam:
every store verb existed alone, never composed in a single trigger).

A production ingest's day-2 stream is not two tidy queues: one
micro-batch carries right-to-be-forgotten requests AND re-delivered
documents together, and both must land atomically with respect to
the trigger — a reader between the two halves of a split trigger
would observe a store where a forgotten doc still serves while its
neighbor's re-delivery already landed. This face runs both verbs
under ONE ``cache_scope`` (one critical section, one heal pass at
entry via the inner verbs, one persistent-RDD release at exit — the
nested scopes inside the reused verbs are pure lock reentries after
ADVICE r14 item 3).

Semantics — takedown WINS inside a trigger: a doc_id carried by both
an upsert re-delivery and a takedown request in the same trigger is
FORGOTTEN, and the takedown set is purged from the upsert leg
(keyed_takedown) so the forgotten id cannot reappear through it
(the ghost contract; the registered row's oracle-hash equality with
a rebuild on survivors ∪ re-deliveries pins exactly this — a
resurrected id would change the labels hash). Right-to-be-forgotten composed with
anything must leave the forgotten doc gone.

Ordering inside the trigger: takedown FIRST (purge + localized label
repair against the stored artifacts), then upsert against the
POST-PURGE stores — so the upsert's edge discovery semi-joins a
survivor store that no longer carries the forgotten docs' bands, and
delete-then-insert lands on one consistent snapshot. Both legs are
the pinned solo verbs VERBATIM (takedown_store_batch /
upsert_store_batch), so this module pins the COMPOSITION seam, not a
reimplementation — the suite test asserts the composed end-state
equals the solo sequence byte-for-byte.

Batch schema: (doc_id, action, text[, embedding]) where action ∈
{'takedown', 'upsert'}; takedown rows carry NULL content (there is
no content in a forgetting request), upsert rows carry the
re-delivered content — text, and an embedding when the store has an
IVF index to re-assign (the registered row's shape,
entry_queries/pipelines.py lifecycle_takedown_upsert_q).

At 100 TB: both legs stay request/batch-sized — broadcast anti-joins
against one linear scan per touched store, batch-sized signature
work, takedown-neighborhood-sized label repair (the solo faces'
measured ladders carry over unchanged because the composition adds
only the batch-sized split/anti-join).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from calculate_file_content_size_for_vector_db_spark.operators.maintenance import keyed_takedown
from calculate_file_content_size_for_vector_db_spark.session import cache_scope
from calculate_file_content_size_for_vector_db_spark.streaming.takedown import (
    takedown_store_batch,
)
from calculate_file_content_size_for_vector_db_spark.streaming.upsert import (
    upsert_store_batch,
)

_ACTIONS = ("takedown", "upsert")


def lifecycle_store_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    threshold: float = 0.5,
    text_col: str = "text",
    key: str = "doc_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
    admitted_ledger: DataFrame | None = None,
) -> None:
    """One composed trigger: split ``batch_df`` on its ``action``
    column, run the takedown verb, then the upsert verb with the
    taken-down ids anti-joined OUT (takedown wins — the ghost
    contract), all inside one ``cache_scope``. Batch-callable like
    every face body; the stream test pins THIS function against the
    solo-sequence end state.

    ``admitted_ledger``: the batch-tagged admitted rows, passed
    through to the takedown verb so right-to-be-forgotten covers the
    card/drift sum-fold stores in the SAME composed trigger
    (takedown_store_batch's documented optional contract). The upsert
    leg's refolds remain a batch maintenance job — they need the
    caller-owned ledger REWRITTEN first, which is the caller's
    transaction (the sum-fold contract, streaming/upsert.py)."""
    spark = batch_df.sparkSession
    if "action" not in batch_df.columns or key not in batch_df.columns:
        raise ValueError(
            f"lifecycle face batch must carry ({key!r}, 'action'); got "
            f"schema {batch_df.columns}"
        )
    bad = batch_df.where(~F.col("action").isin(*_ACTIONS))
    with cache_scope(spark):
        # loud on unknown actions: a silently dropped 'delete' row
        # would leave a doc serving that the producer believes gone
        if bad.limit(1).count() > 0:
            sample = [r["action"] for r in bad.select("action").limit(3).collect()]
            raise ValueError(
                f"lifecycle face: unknown action(s) {sample}; expected {_ACTIONS}"
            )
        td = (
            batch_df.where(F.col("action") == "takedown")
            .select(F.col(key).alias("doc_id"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        # takedown precedence: a doc both re-delivered and forgotten
        # in one trigger must NOT resurface through the upsert leg
        up = (
            keyed_takedown(batch_df.where(F.col("action") == "upsert"), td, key)
            .drop("action")
            .localCheckpoint(eager=True)
        )
        # the solo verbs verbatim — their inner cache_scope calls are
        # pure reentries; heal runs at each verb's entry (idempotent),
        # the outer scope releases the whole trigger's state once
        if td.count() > 0:
            takedown_store_batch(
                td,
                batch_id,
                store_dir,
                threshold,
                max_bucket_size,
                admitted_ledger=admitted_ledger,
            )
        if up.count() > 0:
            upsert_store_batch(
                up,
                batch_id,
                store_dir,
                threshold,
                text_col,
                key,
                vec_col,
                max_bucket_size,
            )


def lifecycle_face(
    stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    text_col: str = "text",
    key: str = "doc_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
    admitted_ledger: DataFrame | None = None,
) -> StreamingQuery:
    """Start the composed lifecycle face. ``stream`` rows carry
    (doc_id, action, text[, embedding]) — 'takedown' rows with NULL
    content, 'upsert' rows with the re-delivered content."""

    def _apply(batch_df: DataFrame, batch_id: int) -> None:
        lifecycle_store_batch(
            batch_df,
            batch_id,
            store_dir,
            threshold,
            text_col,
            key,
            vec_col,
            max_bucket_size,
            admitted_ledger,
        )

    return (
        stream.writeStream.foreachBatch(_apply)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
