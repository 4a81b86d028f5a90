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

``_exists`` is the one store probe every face uses ("is there a store
to read here?"): a Hadoop listing, so a missing or empty store costs
no Spark job and raises nothing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

_SWAP_SUFFIX = "__swap"


def _fs(spark: SparkSession, path: str):
    jvm = spark.sparkContext._jvm
    hp = jvm.org.apache.hadoop.fs.Path(path)
    return hp.getFileSystem(spark.sparkContext._jsc.hadoopConfiguration()), hp, jvm


def _exists(spark: SparkSession, path: str) -> bool:
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
