"""Streaming upsert face: re-delivery of CHANGED documents as a
first-class streaming citizen — the write-path sibling of the
takedown face (streaming/takedown.py). A production ingest sees
re-deliveries daily (editorial fixes, re-crawls, re-embeddings); the
correct unit is the WHOLE document: its old rows, old near-dup edges
and old index entries are stale the moment new content arrives, so
every store rewrite here is delete-then-insert, never a diff.

Each micro-batch (doc_id, text[, lang, source, embedding]) drives the
batch upsert verbs against the SAME shared store the composed ingest
face maintains:

- ``admitted/``, ``bands/``, ``shingles/``: per-doc-row stores —
  whole-row replacement by ``keyed_upsert`` (operators/maintenance.py)
  with the batch's freshly derived rows as the fresh rows.
- ``labels/`` (optional): dedup_upsert — the takedown repair edges
  of the touched clusters plus batch-sized edge discovery against the
  survivor artifacts, merged into the untouched clusters by ONE
  cluster_append contraction; pinned == from-scratch clustering of
  the current corpus (tests/test_dedup.py). The batch's
  band/shingle artifacts derive ONCE per trigger and feed both the
  edge discovery and the store rewrites. With ``max_bucket_size``
  set, the labels leg is a bounded-work mode, not a pinned equality
  (the counting-universe caveat in dedup_upsert's docstring).
- ``index/assign`` (optional, when the batch carries an embedding
  column and ``index/centroids`` exists): ivf_upsert against the
  FROZEN stored centroids — upsert never retrains; staleness remains
  ivf_staleness's job.
- ``upserts/``: the audit ledger — one (batch_id, doc_id) row per
  re-delivery, appended; read with distinct() (checkpoint replays
  re-append byte-identical rows).

What this face deliberately does NOT touch (the same honest
boundaries the takedown face draws):

- ``index/bloom``: bit_or registers only ever admit MORE candidates;
  a changed doc's stale bits cost at most wasted verify probes
  against the REWRITTEN band/shingle stores — upsert-safe by the
  same semantics that make it takedown-safe. The batch's new bands
  are NOT folded in here either: the bloom store belongs to the
  ingest face's gate, and this face's batch already bypassed the
  gate by definition (a re-delivery replaces, it is not deduped).
- ``card/`` / ``drift/``: sum-fold partial stores — an upsert's
  observability refold is the takedown refold run with the UPDATED
  batch-tagged ledger (recompute the touched batches from rows that
  now carry the new text), which needs the caller-owned ledger
  updated FIRST; that ledger rewrite is the caller's transaction, so
  the refolds stay a batch maintenance job here (the documented
  sum-fold contract, PLANS.md).

Ordering inside a trigger: labels FIRST (dedup_upsert anti-joins the
changed ids out of whatever band/shingle state it reads, so it is
correct against both pre- and post-rewrite stores — but computing it
first keeps the plan reading one consistent snapshot), then the
per-doc-row rewrites, then the index upsert. Every rewrite goes
through store_swap.swap_rewrite (survivors + replacements committed
to the {path}__swap sibling before the live path is touched);
heal_store at trigger start completes anything a crash interrupted.

Idempotence (the replay contract every face carries): the keyed
store legs, ivf_upsert included, are keyed_upserts (a NULL key fails
the trigger, leaving an uncommitted swap the next heal drops);
dedup_upsert against the post-upsert stores is the pinned identity
(tests/test_dedup.py::test_dedup_upsert_replay_idempotent); the audit
append is batch_id-tagged for distinct()-fold.

State model: ZERO executor/state-store bytes — the store is the
cross-trigger memory. Per-trigger cost: one linear scan per touched
store with the request-sized batch broadcast, plus batch-sized
signature/assignment work; the corpus never shuffles. At re-delivery
sizes the trigger's wall time is mostly fixed per-job overhead, not
data, so the face keeps its Spark job count down: the labels leg runs
one connected-components solve over edges it discovers once (the
takedown repair folds into the append contraction, and the new-node
rows come from the contraction's output, not a second pass over the
edge lineage); star_components stops at the first star forest; the
store probes (takedown._exists) are file-system listings, and
swap_rewrite re-reads its swap with the written frame's schema, so
neither runs a schema-inference job. On perfbench's ingest_serve
input (800 docs, 8-doc re-delivery, local[4]) that is about 75 jobs
per trigger, down from about 133.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
    bands_from_shingle_sets,
    dedup_upsert,
    shingle_sets,
)
from calculate_file_content_size_for_vector_db_spark.operators.maintenance import keyed_upsert
from calculate_file_content_size_for_vector_db_spark.session import cache_scope
from calculate_file_content_size_for_vector_db_spark.streaming.store_swap import (
    heal_store,
    swap_rewrite,
)
from calculate_file_content_size_for_vector_db_spark.streaming.takedown import _exists


def upsert_store_batch(
    batch_df: DataFrame,
    batch_id: int,
    store_dir: str,
    threshold: float = 0.5,
    text_col: str = "text",
    key: str = "doc_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> None:
    """One trigger of the upsert face (batch-callable, like every face
    body — the stream test pins THIS function against the batch
    verbs). ``batch_df`` carries the re-delivered documents' NEW
    content: (doc_id, text, ...) plus optionally ``vec_col`` for the
    index upsert. Multiple deliveries of one doc inside a single
    trigger collapse to ONE row picked DETERMINISTICALLY (max over
    the non-key columns as a struct) — batch frames carry no row
    order, and a replayed trigger must make the same pick or the
    replay contract breaks; producers that need last-write-wins
    should carry an explicit version column and filter upstream."""
    spark = batch_df.sparkSession
    # validate the schema UP FRONT with a descriptive error: every
    # downstream leg derives from the re-delivered CONTENT, and a
    # key-only batch would otherwise pass the dedup collapse and die
    # two statements later inside minhash_signature with an
    # unresolved-column error that no longer points at the producer
    if key not in batch_df.columns or text_col not in batch_df.columns:
        raise ValueError(
            f"upsert face batch must carry ({key!r}, {text_col!r}); "
            f"got schema {batch_df.columns} — a re-delivery replaces the "
            "document's content, so content-free batches are a producer bug"
        )
    rest = [c for c in batch_df.columns if c != key]
    with cache_scope(spark):
        # self-heal INSIDE the critical section (ADVICE r13: a heal
        # that observes another face's in-flight swap_rewrite would
        # restore live from the swap concurrently with the owner's
        # step-2 overwrite, then delete the swap — the survivor-loss
        # window swap_rewrite closes) and BEFORE the empty-batch
        # return (ADVICE r12: an empty trigger must still complete a
        # crash-interrupted swap)
        for sub in ("admitted", "bands", "shingles", "labels", "index/assign"):
            heal_store(spark, f"{store_dir}/{sub}")
        batch = (
            batch_df.groupBy(key)
            .agg(F.max(F.struct(*rest)).alias("_s"))
            .select(key, "_s.*")
            .localCheckpoint(eager=True)
        )
        if batch.count() == 0:
            return
        ids = batch.select(key).withColumnRenamed(key, "doc_id")
        # the batch's artifacts derive ONCE per trigger (eager
        # snapshots): they feed both edge-discovery legs of
        # dedup_upsert AND the band/shingle store rewrites. Bands
        # derive from the checkpointed shingle sets (r16,
        # bands_from_shingle_sets — bit-identical), so the batch text
        # tokenizes+shingles once per trigger, not twice.
        fresh_shingles = shingle_sets(
            batch, text_col=text_col, key=key
        ).localCheckpoint(eager=True)
        fresh_bands = bands_from_shingle_sets(fresh_shingles, key=key).localCheckpoint(
            eager=True
        )
        # labels first: one consistent snapshot of labels+bands+shingles
        new_labels = None
        if _exists(spark, f"{store_dir}/labels"):
            new_labels = dedup_upsert(
                spark.read.parquet(f"{store_dir}/labels"),
                batch,
                spark.read.parquet(f"{store_dir}/bands"),
                spark.read.parquet(f"{store_dir}/shingles"),
                threshold=threshold,
                text_col=text_col,
                key=key,
                max_bucket_size=max_bucket_size,
                batch_bands=fresh_bands,
                batch_shingles=fresh_shingles,
            ).localCheckpoint(eager=True)
        for sub, fresh in (
            ("admitted", batch),
            ("bands", fresh_bands),
            ("shingles", fresh_shingles),
        ):
            path = f"{store_dir}/{sub}"
            if _exists(spark, path):
                swap_rewrite(
                    spark, path, keyed_upsert(spark.read.parquet(path), ids, fresh, key)
                )
        if new_labels is not None:
            swap_rewrite(spark, f"{store_dir}/labels", new_labels)
        if (
            vec_col in batch.columns
            and _exists(spark, f"{store_dir}/index/assign")
            and _exists(spark, f"{store_dir}/index/centroids")
        ):
            from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
                ivf_upsert,
            )

            # only rows that CARRY a new embedding touch the index: a
            # mixed re-delivery (text fixed, embedding unchanged and
            # absent) must not purge the doc's assign row and
            # re-append a bogus null-vector assignment (ADVICE r12 —
            # cosine coalesces null to -2.0, picking an arbitrary
            # cell). ivf_upsert purges exactly the ids in the batch
            # it is given, so filtering here scopes both legs.
            vec_batch = batch.where(F.col(vec_col).isNotNull()).localCheckpoint(
                eager=True
            )
            if vec_batch.count() > 0:
                upserted = ivf_upsert(
                    spark.read.parquet(f"{store_dir}/index/assign"),
                    vec_batch.select(
                        F.col(key).alias("vec_id"), F.col(vec_col).alias("embedding")
                    ),
                    spark.read.parquet(f"{store_dir}/index/centroids"),
                )
                swap_rewrite(spark, f"{store_dir}/index/assign", upserted)
        ids.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode(
            "append"
        ).parquet(f"{store_dir}/upserts")


def upsert_face(
    stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    text_col: str = "text",
    key: str = "doc_id",
    vec_col: str = "embedding",
    max_bucket_size: int | None = None,
) -> StreamingQuery:
    """Start the upsert face. ``stream`` rows carry the re-delivered
    documents' new content: (doc_id, text, ...[, embedding])."""

    def _upsert(batch_df: DataFrame, batch_id: int) -> None:
        upsert_store_batch(
            batch_df,
            batch_id,
            store_dir,
            threshold,
            text_col,
            key,
            vec_col,
            max_bucket_size,
        )

    return (
        stream.writeStream.foreachBatch(_upsert)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
