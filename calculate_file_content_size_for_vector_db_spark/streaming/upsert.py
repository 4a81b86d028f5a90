"""The store-lifecycle faces: takedown (right-to-be-forgotten),
upsert (re-delivery of changed documents) and lifecycle (both in one
trigger), over the SAME shared store the composed ingest face builds.

A takedown is an upsert with no fresh rows, so the three faces are
three thin callers of one trigger body, ``_purge_and_insert``. It
takes the ids to forget and the fresh rows (either may be absent);
every id in either set is purged, the fresh rows are inserted. The
unit is the WHOLE document: its old rows, near-dup edges and index
entries are stale once it is forgotten or re-delivered, so every
store rewrite is delete-then-insert, never a diff. One trigger heals
and rewrites each present store once:

- ``admitted/``, ``bands/``, ``shingles/`` (key ``doc_id``):
  ``keyed_upsert`` (operators/maintenance.py) with the fresh rows and
  their band/shingle artifacts, derived once per trigger.
- ``labels/`` (optional): ONE ``dedup_upsert`` — the repair edges of
  the touched clusters plus batch-sized edge discovery against the
  survivor artifacts, merged by one cluster_append contraction. It
  equals a from-scratch clustering of the current corpus, so a mixed
  trigger equals the takedown-then-upsert sequence (tests/
  test_lifecycle_face.py). With ``max_bucket_size`` set it is the
  bounded-work mode, not a pinned equality (dedup_upsert's caveat).
- ``index/assign`` (key ``vec_id``, optional): forgotten ids purged;
  fresh rows that CARRY an embedding re-assigned against the FROZEN
  ``index/centroids`` — never retrained (staleness is ivf_staleness's
  job). A re-delivery without an embedding keeps its index row.
- ``card/`` / ``drift/``: sum-fold stores, refolded for the forgotten
  ids only when the caller passes the batch-tagged ``admitted_ledger``;
  otherwise, and for every re-delivery, the refold stays a batch
  maintenance job (it needs the caller-owned ledger rewritten first).
- ``takedowns/`` and ``upserts/``: audit ledgers, one
  (doc_id, batch_id) row per forgotten / re-delivered id, appended;
  read them with distinct().

What no face touches: ``index/bloom`` — its bit_or registers only
ever admit MORE candidates, and every positive is verified against the
rewritten band/shingle stores, so a forgotten or changed doc's stale
bits cost at most a wasted probe and never surface the doc.

Takedown wins: a doc_id both forgotten and re-delivered in one
lifecycle trigger is forgotten, and its re-delivery is dropped.

Idempotence: a replayed trigger purges exactly what its first run
inserted and inserts the same rows (a NULL key fails the trigger,
leaving an uncommitted swap the next heal drops); dedup_upsert against
the post-trigger stores is the identity; audit rows re-append
byte-identically.

Crash safety: every rewrite goes through store_swap.swap_rewrite, and
heal_store runs first in every trigger — inside the face lock, before
the empty-trigger return — so an interrupted trigger completes instead
of compounding. The labels are computed (and checkpointed) before any
store is rewritten, so the trigger reads one consistent snapshot.

State and cost: zero executor/state-store bytes — the store is the
cross-trigger memory. Each present store is read and written once per
trigger, with the request-sized id set broadcast; the corpus never
shuffles. At re-delivery sizes wall time is per-job overhead, so the
body keeps the job count down: one connected-components solve, store
probes from file listings, swap re-reads with a known schema.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
    bands_from_shingle_sets,
    dedup_upsert,
    shingle_sets,
)
from calculate_file_content_size_for_vector_db_spark.operators.maintenance import (
    keyed_takedown,
    keyed_upsert,
)
from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
    ivf_append_assign,
)
from calculate_file_content_size_for_vector_db_spark.session import cache_scope
from calculate_file_content_size_for_vector_db_spark.streaming.datacard import (
    refold_card_takedown,
)
from calculate_file_content_size_for_vector_db_spark.streaming.drift import (
    refold_drift_takedown,
)
from calculate_file_content_size_for_vector_db_spark.streaming.store_swap import (
    _exists,
    heal_store,
    swap_rewrite,
)

_ACTIONS = ("takedown", "upsert")


def _nonempty(df: DataFrame) -> DataFrame | None:
    """``df`` as an eager snapshot, or None when it has no rows."""
    df = df.localCheckpoint(eager=True)
    return df if df.count() > 0 else None


def _collapse(batch_df: DataFrame, key: str) -> DataFrame | None:
    """One row per ``key``, picked DETERMINISTICALLY (max over the
    non-key columns as a struct): batch frames carry no row order, and
    a replayed trigger must make the same pick. Producers that need
    last-write-wins carry a version column and filter upstream."""
    rest = [c for c in batch_df.columns if c != key]
    return _nonempty(
        batch_df.groupBy(key).agg(F.max(F.struct(*rest)).alias("_s")).select(key, "_s.*")
    )


def _purge_and_insert(
    spark: SparkSession,
    batch_id: int,
    store_dir: str,
    gone: DataFrame | None,
    fresh: DataFrame | None,
    *,
    threshold: float,
    max_bucket_size: int | None,
    text_col: str = "text",
    key: str = "doc_id",
    vec_col: str = "embedding",
    admitted_ledger: DataFrame | None = None,
) -> None:
    """The one trigger body: purge ``gone`` (one column ``key``) and the
    ids of ``fresh`` (collapsed re-delivered rows) from every present
    store, insert ``fresh``. Call it inside a ``cache_scope``."""
    paths = {
        sub: f"{store_dir}/{sub}"
        for sub in ("admitted", "bands", "shingles", "labels", "index/assign")
    }
    for path in paths.values():
        heal_store(spark, path)
    if gone is None and fresh is None:
        return
    stores = {sub: spark.read.parquet(p) for sub, p in paths.items() if _exists(spark, p)}
    if fresh is None:
        purge = gone
    else:
        purge = fresh.select(key) if gone is None else gone.unionByName(fresh.select(key))
    # the fresh rows per store; a takedown inserts none (an empty frame
    # of the store's own schema, which the optimizer drops)
    new = {sub: stores[sub].limit(0) for sub in ("admitted", "bands", "shingles") if sub in stores}
    if fresh is not None:
        new["admitted"] = fresh
        if stores.keys() & {"bands", "shingles", "labels"}:
            # derived ONCE per trigger: they feed both dedup_upsert's
            # edge discovery and the band/shingle rewrites. Bands derive
            # from the checkpointed shingle sets, so the text is
            # shingled once.
            new["shingles"] = shingle_sets(fresh, text_col=text_col, key=key).localCheckpoint(
                eager=True
            )
            new["bands"] = bands_from_shingle_sets(new["shingles"], key=key).localCheckpoint(
                eager=True
            )
    labels = None
    if "labels" in stores:
        labels = dedup_upsert(
            stores["labels"],
            purge,
            stores["bands"],
            stores["shingles"],
            threshold=threshold,
            text_col=text_col,
            key=key,
            max_bucket_size=max_bucket_size,
            batch_bands=new["bands"],
            batch_shingles=new["shingles"],
        ).localCheckpoint(eager=True)
    for sub in ("admitted", "bands", "shingles"):
        if sub in stores:
            swap_rewrite(spark, paths[sub], keyed_upsert(stores[sub], purge, new[sub], key))
    if labels is not None:
        # the labels come out of a shuffle, so a part file's row order
        # would follow fetch order; a narrow sort in the write stage
        # fixes it without another job
        swap_rewrite(spark, paths["labels"], labels.sortWithinPartitions(key))
    if "index/assign" in stores:
        assign = stores["index/assign"]
        index_purge, assigned = gone, assign.limit(0)
        centroids = f"{store_dir}/index/centroids"
        if fresh is not None and vec_col in fresh.columns and _exists(spark, centroids):
            vecs = fresh.where(F.col(vec_col).isNotNull()).select(
                F.col(key).alias("vec_id"), F.col(vec_col).alias("embedding")
            )
            if vecs.count() > 0:
                assigned = ivf_append_assign(vecs, spark.read.parquet(centroids))
                ids = vecs.select("vec_id")
                index_purge = ids if gone is None else gone.union(ids)
        if index_purge is not None:
            swap_rewrite(
                spark, paths["index/assign"], keyed_upsert(assign, index_purge, assigned, "vec_id")
            )
    if gone is not None and admitted_ledger is not None:
        if _exists(spark, f"{store_dir}/card/scalars"):
            refold_card_takedown(admitted_ledger, gone, f"{store_dir}/card")
        if _exists(spark, f"{store_dir}/drift/hist"):
            refold_drift_takedown(admitted_ledger, gone, f"{store_dir}/drift")
    for rows, audit in ((gone, "takedowns"), (fresh, "upserts")):
        if rows is not None:
            rows.select(
                F.col(key).alias("doc_id"), F.lit(batch_id).cast("long").alias("batch_id")
            ).write.mode("append").parquet(f"{store_dir}/{audit}")


def _require_content(batch_df: DataFrame, key: str, text_col: str) -> None:
    # every leg derives from the re-delivered CONTENT: a key-only batch
    # would otherwise die inside shingle_sets with an unresolved-column
    # error that no longer points at the producer
    if key not in batch_df.columns or text_col not in batch_df.columns:
        raise ValueError(
            f"upsert face batch must carry ({key!r}, {text_col!r}); "
            f"got schema {batch_df.columns} — a re-delivery replaces the "
            "document's content, so content-free batches are a producer bug"
        )


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
    """One upsert trigger. ``batch_df`` carries the re-delivered
    documents' NEW content: (doc_id, text, ...) plus optionally
    ``vec_col`` for the index. Several deliveries of one doc in a
    trigger collapse to one row (``_collapse``)."""
    _require_content(batch_df, key, text_col)
    spark = batch_df.sparkSession
    with cache_scope(spark):
        _purge_and_insert(
            spark, batch_id, store_dir, None, _collapse(batch_df, key),
            threshold=threshold, max_bucket_size=max_bucket_size,
            text_col=text_col, key=key, vec_col=vec_col,
        )


def takedown_store_batch(
    requests: DataFrame,
    batch_id: int,
    store_dir: str,
    threshold: float = 0.5,
    max_bucket_size: int | None = None,
    admitted_ledger: DataFrame | None = None,
) -> None:
    """One takedown trigger. ``requests`` carries one column ``doc_id``.
    ``admitted_ledger``: the batch-tagged admitted rows (batch_id,
    doc_id, text, lang, source); when given, the card/drift stores are
    refolded without the forgotten docs in the same trigger. The ledger
    is caller-owned (never purged here), so a replay refolds the same
    partials."""
    spark = requests.sparkSession
    with cache_scope(spark):
        _purge_and_insert(
            spark, batch_id, store_dir, _nonempty(requests.select("doc_id").distinct()),
            None, threshold=threshold, max_bucket_size=max_bucket_size,
            admitted_ledger=admitted_ledger,
        )


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
    """One mixed trigger: ``batch_df`` rows are (doc_id, action, text[,
    embedding]) with action 'takedown' (NULL content) or 'upsert' (the
    re-delivered content). Both land in one pass, so no reader sees a
    half-applied trigger; a doc carried by both actions is forgotten.
    ``admitted_ledger`` as in takedown_store_batch."""
    if "action" not in batch_df.columns or key not in batch_df.columns:
        raise ValueError(
            f"lifecycle face batch must carry ({key!r}, 'action'); got "
            f"schema {batch_df.columns}"
        )
    _require_content(batch_df, key, text_col)
    spark = batch_df.sparkSession
    bad = batch_df.where(~F.col("action").isin(*_ACTIONS))
    with cache_scope(spark):
        # loud on unknown actions: a silently dropped 'delete' row
        # would leave a doc serving that the producer believes gone
        if bad.limit(1).count() > 0:
            sample = [r["action"] for r in bad.select("action").limit(3).collect()]
            raise ValueError(
                f"lifecycle face: unknown action(s) {sample}; expected {_ACTIONS}"
            )
        gone = _nonempty(
            batch_df.where(F.col("action") == "takedown").select(key).distinct()
        )
        up = batch_df.where(F.col("action") == "upsert").drop("action")
        if gone is not None:
            up = keyed_takedown(up, gone, key)  # takedown wins
        _purge_and_insert(
            spark, batch_id, store_dir, gone, _collapse(up, key),
            threshold=threshold, max_bucket_size=max_bucket_size,
            text_col=text_col, key=key, vec_col=vec_col, admitted_ledger=admitted_ledger,
        )
