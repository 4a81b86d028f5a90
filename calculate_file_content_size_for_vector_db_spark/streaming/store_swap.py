"""Crash-safe rewrite of a live parquet store (ADVICE r11 item 2).

A purge/refold rewrites a store FROM A PLAN THAT READS IT, so the
naive snapshot-then-overwrite (eager localCheckpoint, then
mode('overwrite') over the same path) holds the only durable copy of
the survivors nowhere during the overwrite: a crash mid-write — or
between the per-store rewrites of one trigger — leaves the shared
store partially purged or truncated, and a checkpoint replay cannot
restore lost survivor rows.

The fix is the versioned-sibling pattern the registered graph
takedown row already uses (edges_v2), made self-healing for a store
whose PATH must stay stable for its other readers (the ingest face
appends to ``bands/``/``admitted/`` by name):

    swap_rewrite(path, df):
      1. write df -> {path}__swap           (survivors durable; Spark
                                             commits with _SUCCESS)
      2. overwrite path FROM the swap files (no lineage on live path)
      3. delete the swap

    heal_store(path):   run at trigger start, before any purge
      - committed swap present (_SUCCESS)  -> a prior rewrite died in
        step 2: restore live from swap, then drop the swap
      - uncommitted swap present           -> a prior rewrite died in
        step 1: live was never touched; drop the garbage swap

Crash matrix: at every instant the survivor rows exist COMMITTED in
at least one of {live, swap} — step 1 leaves live intact, step 2 runs
only after the swap carries _SUCCESS, step 3 runs only after the live
rewrite committed. A foreachBatch checkpoint replay re-enters through
heal_store, so an interrupted trigger completes instead of compounding.
The anti-join purges themselves are idempotent, so the replayed
trigger's re-purge of an already-healed store is a no-op.

A production deployment still wants a table format with atomic commit
(Delta/Iceberg) — this module buys the same never-lose-survivors
guarantee on plain parquet at the cost of one extra store-sized write
per rewrite (the price localCheckpoint paid in executor memory
instead).
"""

from __future__ import annotations

import threading
from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession

_SWAP_SUFFIX = "__swap"


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hp = jvm.org.apache.hadoop.fs.Path(path)
    return hp.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), hp, jvm


def heal_store(spark: SparkSession, path: str) -> bool:
    """Complete or discard an interrupted swap_rewrite at ``path``.
    Returns True when a restore-from-swap happened."""
    swap = path + _SWAP_SUFFIX
    fs, sp, jvm = _fs(spark, swap)
    if not fs.exists(sp):
        return False
    committed = fs.exists(jvm.org.apache.hadoop.fs.Path(swap + "/_SUCCESS"))
    if committed:
        spark.read.parquet(swap).write.mode("overwrite").parquet(path)
    fs.delete(sp, True)
    return committed


def swap_rewrite(spark: SparkSession, path: str, df: DataFrame) -> None:
    """Rewrite the live store at ``path`` to the rows of ``df`` (a
    plan that may read ``path``) without ever holding the only copy
    of the survivors in volatile state. See module docstring."""
    swap = path + _SWAP_SUFFIX
    df.write.mode("overwrite").parquet(swap)
    # df.schema: the swap holds df's rows, so re-reading it with the
    # known schema skips parquet's schema-inference job
    spark.read.schema(df.schema).parquet(swap).write.mode("overwrite").parquet(path)
    fs, sp, _ = _fs(spark, swap)
    fs.delete(sp, True)


# Serializes face trigger bodies WITHIN one driver process: the
# release below diffs the JVM-GLOBAL persistent-RDD set, so without
# mutual exclusion one face's end-of-trigger release could sweep a
# concurrent face's in-flight localCheckpoints (unrecoverable —
# checkpoints truncate lineage). With the lock, the diff window of
# one trigger never overlaps another face's trigger, so everything
# in the diff belongs to the releasing trigger. EVERY face trigger
# body — upsert, takedown, gate/ingest, composed, index-maintenance,
# datacard, drift, lake, the parquet-merge sink — runs under this
# lock (ADVICE r13: the gate face localCheckpoints too, so a
# lock-free ingest trigger could still be swept by a concurrent
# upsert/takedown release). heal_store calls also belong INSIDE the
# critical section: a heal that observes another face's in-flight
# swap_rewrite would "restore" the live path concurrently with the
# owner's step-2 overwrite and then delete the swap — the exact
# survivor-loss window swap_rewrite exists to close (ADVICE r13).
# Remaining caveat (documented, not enforced): NON-face session
# activity that localCheckpoints frames concurrently with a running
# trigger shares the same risk — run the faces on their own
# SparkSession in deployments that also checkpoint elsewhere (plain
# persist() frames are safe either way: their lineage survives an
# unpersist and they recompute).
_FACE_TRIGGER_LOCK = threading.RLock()


# face_scope reentry depth, per thread: a nested scope (a composed
# face's sub-body that itself calls face_scope) must NOT run its own
# release diff — only the outermost scope releases, exactly once, so
# a sub-body may hand a localCheckpoint back to the outer trigger
# without it being swept at inner exit (ADVICE r14 item 3).
_SCOPE_DEPTH = threading.local()


@contextmanager
def face_scope(spark: SparkSession):
    """The per-trigger critical section every face body runs in:
    acquire _FACE_TRIGGER_LOCK, snapshot the persistent-RDD set, and
    on exit release everything the trigger persisted (then the lock).
    Reentrant (RLock), so a composed face can hold the scope around
    sub-bodies that also acquire the lock; the OUTERMOST scope's diff
    then releases the whole trigger's state exactly once — inner
    scopes are pure lock reentries with no snapshot/release of their
    own (per-thread depth counter), so a sub-body can hand a
    localCheckpoint back to the outer trigger safely. Bodies that
    must hand a localCheckpoint back past the OUTERMOST scope
    (gate_batch's admitted snapshot in the composed face) take the
    bare lock instead and leave the release to the enclosing trigger
    scope."""
    _FACE_TRIGGER_LOCK.acquire()
    depth = getattr(_SCOPE_DEPTH, "d", 0)
    _SCOPE_DEPTH.d = depth + 1
    before = persistent_rdd_ids(spark) if depth == 0 else None
    try:
        yield
    finally:
        _SCOPE_DEPTH.d = depth
        try:
            if depth == 0:
                release_rdds_since(spark, before)
        finally:
            _FACE_TRIGGER_LOCK.release()


def persistent_rdd_ids(spark: SparkSession) -> set[int]:
    """Snapshot of the JVM's persistent-RDD id set. Both persist()
    and localCheckpoint() register here; DataFrame.unpersist() does
    NOT release a localCheckpoint (it only uncaches cacheManager
    entries), so the faces release per-trigger state by diffing this
    snapshot instead (ADVICE r12: a long-running stream otherwise
    leaks one checkpointed batch + artifact set per trigger until
    driver GC happens to collect them). Callers must hold
    _FACE_TRIGGER_LOCK from this snapshot through the matching
    release_rdds_since (see the lock's comment)."""
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        return {int(i) for i in jmap.keySet().toArray()}
    except Exception:  # pragma: no cover - non-JVM backends
        return set()


def release_rdds_since(spark: SparkSession, before: set[int]) -> None:
    """Unpersist every RDD persisted since ``before`` was snapshotted
    (non-blocking). Run in a finally block at the end of a face
    trigger, under _FACE_TRIGGER_LOCK: the lock guarantees no other
    face's trigger ran inside the diff window, so the diff contains
    only this trigger's localCheckpoints and the batch verbs'
    internal persists — all dead once the trigger's store writes
    committed."""
    try:
        jmap = spark.sparkContext._jsc.getPersistentRDDs()
        for jid in jmap.keySet().toArray():
            if int(jid) not in before:
                jmap.get(jid).unpersist(False)
    except Exception:  # pragma: no cover - non-JVM backends
        pass
