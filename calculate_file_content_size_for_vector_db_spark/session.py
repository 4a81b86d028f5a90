"""SparkSession builder tuned for the engine.

The reference's only parallelism knob is a process-pool size
(pdf_reader.py:278,543 — "number_of_threads", actually processes). In
Spark, parallelism comes from partitions; this builder pins the configs
every pipeline in this package assumes:

- UTC session timezone (oracle comparisons against DuckDB are UTC-naive),
- Arrow-accelerated Python UDF exchange (the pdf-extract and recursive
  splitter paths are Pandas UDFs),
- AQE on (runtime shuffle-partition coalescing + skew-join splitting —
  the 1,652-page-file-among-15-page-files skew of README.md:20 at scale),
- shuffle partitions sized to local cores for tests; a real cluster
  deployment overrides via spark-submit conf.

It also owns the one lifetime rule for cached frames (``cache_scope``,
``cached``, ``release_cache``).

Importing this module inside a Python task (every package function a
worker unpickles imports the package, and with it this module) makes
``zipimport.zipimporter.invalidate_caches`` a no-op for the rest of
that worker process (``_skip_zip_rescans``). PySpark's worker calls
``importlib.invalidate_caches()`` before every task, and each
zipimporter then re-reads its archive's whole central directory:
pyspark.zip, the py4j zip and the spark-core jar are on a worker's
path, and those re-reads were most of the 0.25-0.47 s each task
waited before its function ran. Skipping them is safe because the
archives on a worker's path do not change while the application
runs, and a zip added to the path later gets a fresh importer, whose
constructor reads its directory. The driver never installs the guard
(it runs no task). The first task of each worker process still pays
one rescan: the guard installs while that task unpickles its
function, after the worker's call.
"""

from __future__ import annotations

import os
import threading
import zipimport
from contextlib import contextmanager

from pyspark import StorageLevel, TaskContext
from pyspark.sql import DataFrame, SparkSession


def get_spark(
    app_name: str = "content-sizer",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
) -> SparkSession:
    cpus = cpus if cpus is not None else os.environ.get("SPARK_GRAFT_CPUS", "32")
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions or cpus))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark-warehouse")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "16g"))
    )
    return builder.getOrCreate()


# Serializes scopes within one driver process. The release below
# diffs the JVM-global persistent-RDD set, so without mutual exclusion
# one scope's release could sweep a concurrent scope's in-flight
# localCheckpoint (unrecoverable: checkpoints truncate lineage). Under
# the lock, a diff window never overlaps another scope, so everything
# in it belongs to the releasing scope. Store heals belong inside too:
# a heal that observes another trigger's in-flight swap_rewrite would
# restore the live path under the owner's overwrite, then delete the
# swap. Remaining caveat: session activity OUTSIDE any scope that
# localCheckpoints concurrently with a running scope shares the risk;
# run long-lived streams on their own SparkSession in that case.
_FACE_TRIGGER_LOCK = threading.RLock()

# frames cached in the current thread's outermost open scope; None
# when no scope is open
_SCOPE = threading.local()


@contextmanager
def cache_scope(spark: SparkSession):
    """The lifetime of everything cached for one unit of work: a face
    trigger, a batch verb, one CLI folder.

    The rule, stated once for the package: a frame passed to
    ``cached`` inside a scope, and every persistent RDD created after
    the scope's entry (``localCheckpoint`` included), is released when
    the thread's OUTERMOST scope exits, normally or by an exception.
    Nested scopes only re-enter the lock, so a sub-body can hand a
    checkpoint back to its enclosing scope. Nothing cached in a scope
    may be read after the outermost exit unless it was written out.
    Outside any scope ``cached`` is a plain persist, and such frames
    (the query registry's lazy results) live until the next
    ``release_cache``. A body that returns a checkpoint past its own
    end (``gate_batch``) takes ``_FACE_TRIGGER_LOCK`` alone and leaves
    the release to its caller's scope.

    Scopes hold ``_FACE_TRIGGER_LOCK`` (see its comment) throughout."""
    with _FACE_TRIGGER_LOCK:
        if getattr(_SCOPE, "frames", None) is not None:
            yield
            return
        before = _persistent_rdd_ids(spark)
        _SCOPE.frames = []
        try:
            yield
        finally:
            frames, _SCOPE.frames = _SCOPE.frames, None
            _release(spark, frames, before)


def cached(df: DataFrame, level: StorageLevel = StorageLevel.MEMORY_AND_DISK_DESER) -> DataFrame:
    """``df`` persisted at ``level`` (default: DataFrame.persist's),
    released with the current thread's outermost ``cache_scope`` (see
    its lifetime rule)."""
    frames = getattr(_SCOPE, "frames", None)
    if frames is not None:
        frames.append(df)
    return df.persist(level)


def release_cache(spark: SparkSession) -> None:
    """Release every cached frame and persistent RDD of the session.
    The query registry runs this at each entry: a query returns a lazy
    frame, so its caches can only die once the next query starts."""
    with _FACE_TRIGGER_LOCK:
        spark.catalog.clearCache()
        _release(spark, [], set())


def _persistent_rdd_ids(spark: SparkSession) -> set[int]:
    return {int(i) for i in spark.sparkContext._jsc.getPersistentRDDs().keySet().toArray()}


def _release(spark: SparkSession, frames: list[DataFrame], before: set[int]) -> None:
    # unpersist() drops a frame's cache entry; it does not release a
    # localCheckpoint, so every RDD persisted since ``before`` goes too
    for df in frames:
        df.unpersist()
    jmap = spark.sparkContext._jsc.getPersistentRDDs()
    for jid in jmap.keySet().toArray():
        if int(jid) not in before:
            jmap.get(jid).unpersist(False)


def _skip_zip_rescans() -> None:
    """In a Python worker, stop zipimporters re-reading their archives
    on every ``importlib.invalidate_caches()`` (see module docstring).
    Outside a task it does nothing."""
    if TaskContext.get() is not None:
        zipimport.zipimporter.invalidate_caches = lambda self: None


_skip_zip_rescans()
