"""Streaming takedown face: right-to-be-forgotten as a first-class
streaming citizen (VERDICT r10 item 9). The faces family covers
ingest (gate), serving (index maintenance), storage (lake), and
observability (datacard/drift); this face is the DELETE path — a
stream of purge requests (doc ids: legal/opt-out traffic) whose every
micro-batch drives the round-10/11 batch takedown operators against
the SAME shared store the composed ingest face maintains:

- ``admitted/``, ``bands/``, ``shingles/``: per-doc-row stores where
  purge == rebuild-on-survivors exactly — one ``keyed_takedown``
  rewrite each (operators/maintenance.py; the ingest_takedown_readmit
  purge, per trigger).
- ``index/assign``: the IVF assignment store — ``keyed_takedown`` on
  vec_id (the sim_ivf_takedown_serve purge; centroids stay frozen,
  takedown never retrains).
- ``labels/`` (optional — present when a clustering job materializes
  it): repaired with dedup.cluster_takedown — untouched clusters
  verbatim, touched clusters re-paired from the PURGED band/shingle
  stores and re-CC'd, the one store where delete is a graph problem.
- ``takedowns/``: the audit ledger — one (batch_id, doc_id) row per
  request, appended. Read with distinct() (a checkpoint replay
  re-appends byte-identical rows).

What this face deliberately does NOT touch:

- ``index/bloom``: bit_or-folded registers are irreversible (the
  sum-fold limitation, PLANS.md) — but the Bloom store is takedown-
  safe BY SEMANTICS: it is a pre-filter whose positives are always
  verified against the band/shingle stores, which ARE purged, so a
  forgotten doc's stale bits cost at most one wasted verify probe and
  can never surface the doc in any result. (A bitmap rebuild from the
  purged band store is a bounded maintenance job, not a per-request
  obligation.)
- ``card/`` / ``drift/``: sum/HLL partial stores — takedown-incapable
  by construction; the honest contract is re-fold from
  admitted-minus-takedown (see PLANS.md "Sum-fold stores are
  takedown-INCAPABLE").

Idempotence (the replay contract every face carries): keyed purges
are no-ops on a second delivery (the rows are already gone),
cluster_takedown degenerates to identity when the labels store no
longer contains any takedown doc (touched-cluster set comes back
empty), and the audit append is batch_id-tagged for distinct()-fold —
so a checkpoint replay of a purge trigger changes nothing, pinned by
tests/test_streaming.py.

In-place store rewrite (crash-safe since r12 — ADVICE r11 item 2):
each rewrite goes through store_swap.swap_rewrite — survivors are
written to a committed {path}__swap sibling FIRST, the live path is
overwritten from the swap files (no lineage on the live path), and
the swap is dropped last; heal_store at trigger start completes any
rewrite a crash interrupted. Survivor rows therefore exist committed
on disk at every instant, even on plain parquet, and a checkpoint
replay self-heals instead of compounding. A production deployment
would still swap in a table format with atomic commit
(Delta/Iceberg); the per-store purge SEMANTICS — and everything the
tests pin — are format-independent.

State model: like every face, ZERO executor/state-store bytes — the
store is the cross-trigger memory. Per-trigger cost: one linear scan
per purged store (a compaction pays the same scan) with the
request-sized takedown set broadcast (keyed_takedown); the corpus
never shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from calculate_file_content_size_for_vector_db_spark.operators.dedup import cluster_takedown
from calculate_file_content_size_for_vector_db_spark.operators.maintenance import keyed_takedown
from calculate_file_content_size_for_vector_db_spark.session import cache_scope
from calculate_file_content_size_for_vector_db_spark.streaming.store_swap import (
    _fs,
    heal_store,
    swap_rewrite,
)


def _exists(spark, path: str) -> bool:
    """True iff ``path`` exists and holds a non-hidden entry (a name not
    starting with ``_`` or ``.``) — the stores spark.read.parquet can
    read. Answered from one Hadoop FS listing, so it runs no Spark job
    (a parquet read would run a schema-inference job per call)."""
    fs, hp, _ = _fs(spark, path)
    if not fs.exists(hp):
        return False
    return any(
        not st.getPath().getName().startswith(("_", "."))
        for st in fs.listStatus(hp)
    )


def takedown_store_batch(
    requests: DataFrame,
    batch_id: int,
    store_dir: str,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    admitted_ledger: DataFrame | None = None,
) -> None:
    """One trigger of the takedown face (batch-callable, like every
    face body — the stream test pins THIS function against the batch
    operators). ``requests`` carries one column ``doc_id``.

    ``admitted_ledger``: the BATCH-TAGGED admitted rows (batch_id,
    doc_id, text, lang, source) a production ingest keeps per trigger
    — optional because the shared admitted/ store is deliberately
    untagged. When provided, the face additionally drives the
    sum-fold refolds (refold_card_takedown on card/,
    refold_drift_takedown on drift/) so right-to-be-forgotten covers
    the observability stores in the SAME trigger as the serving
    stores; without it the refolds remain a batch maintenance job
    (the documented honest contract). Refolds are idempotent under
    replay: the ledger is caller-owned (never purged here), so a
    re-run recomputes byte-identical touched-batch partials."""
    spark = requests.sparkSession
    with cache_scope(spark):
        # self-heal any swap a crashed prior trigger left behind
        # INSIDE the critical section (ADVICE r13: healing another
        # face's in-flight swap loses survivors), BEFORE reading the
        # stores AND before the empty-batch return (a replayed —
        # possibly now-empty — trigger enters here first; an empty
        # trigger must still complete an interrupted swap, ADVICE r12)
        for sub in ("admitted", "bands", "shingles", "index/assign", "labels"):
            heal_store(spark, f"{store_dir}/{sub}")
        _takedown_body(
            requests, batch_id, store_dir, threshold, max_bucket_size, admitted_ledger
        )


def _takedown_body(
    requests: DataFrame,
    batch_id: int,
    store_dir: str,
    threshold: float,
    max_bucket_size: int | None,
    admitted_ledger: DataFrame | None,
) -> None:
    spark = requests.sparkSession
    td = requests.select("doc_id").distinct().localCheckpoint(eager=True)
    if td.count() == 0:
        return
    for sub, key in (
        ("admitted", "doc_id"),
        ("bands", "doc_id"),
        ("shingles", "doc_id"),
        ("index/assign", "vec_id"),
    ):
        path = f"{store_dir}/{sub}"
        if _exists(spark, path):
            swap_rewrite(spark, path, keyed_takedown(spark.read.parquet(path), td, key))
    if _exists(spark, f"{store_dir}/labels"):
        # repair AFTER the band/shingle purge: cluster_takedown
        # semi-joins survivors internally, so purged and pre-purge
        # stores give identical repairs — the purged ones are simply
        # what exists now
        repaired = cluster_takedown(
            spark.read.parquet(f"{store_dir}/labels"),
            td,
            spark.read.parquet(f"{store_dir}/bands"),
            spark.read.parquet(f"{store_dir}/shingles"),
            threshold=threshold,
            max_bucket_size=max_bucket_size,
        )
        swap_rewrite(spark, f"{store_dir}/labels", repaired)
    if admitted_ledger is not None:
        from calculate_file_content_size_for_vector_db_spark.streaming.datacard import (
            refold_card_takedown,
        )
        from calculate_file_content_size_for_vector_db_spark.streaming.drift import (
            refold_drift_takedown,
        )

        if _exists(spark, f"{store_dir}/card/scalars"):
            refold_card_takedown(admitted_ledger, td, f"{store_dir}/card")
        if _exists(spark, f"{store_dir}/drift/hist"):
            refold_drift_takedown(admitted_ledger, td, f"{store_dir}/drift")
    td.withColumn("batch_id", F.lit(batch_id).cast("long")).write.mode(
        "append"
    ).parquet(f"{store_dir}/takedowns")


def takedown_face(
    stream: DataFrame,
    store_dir: str,
    checkpoint_dir: str,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    admitted_ledger: DataFrame | None = None,
) -> StreamingQuery:
    """Start the takedown face. ``stream`` rows carry (doc_id)."""

    def _purge(batch_df: DataFrame, batch_id: int) -> None:
        takedown_store_batch(
            batch_df, batch_id, store_dir, threshold, max_bucket_size,
            admitted_ledger=admitted_ledger,
        )

    return (
        stream.writeStream.foreachBatch(_purge)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )
