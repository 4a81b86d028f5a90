"""The worker import-cache guard (session._skip_zip_rescans): inside a
Python task that runs a package function, ``importlib.invalidate_caches()``
re-reads no zip archive, and modules not yet loaded still import from
the archives on the worker's path. The driver keeps the stdlib
behaviour."""

from __future__ import annotations

import zipimport

from calculate_file_content_size_for_vector_db_spark import session

# pyspark modules no package code imports; the task imports the first
# one its worker has not loaded yet
_UNLOADED = ("pyspark.ml.linalg", "pyspark.mllib.linalg", "pyspark.ml.stat", "pyspark.ml.fpm")


def test_python_task_skips_zip_rescans_and_still_imports_from_zips(spark):
    def probe(_):
        """One task's view: archives re-read by an explicit
        invalidate_caches, the zip archives its importers cover, and the
        module it imported with the loader that found it."""
        import importlib
        import sys
        import zipimport

        session  # unpickling this function imports the package on the worker
        importers = sys.path_importer_cache.values()
        archives = sorted({f.archive for f in importers if isinstance(f, zipimport.zipimporter)})
        reads = []
        real = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return real(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = real
        name = next((m for m in _UNLOADED if m not in sys.modules), None)
        loader = None
        if name is not None:
            loader = type(importlib.import_module(name).__loader__).__name__
        yield reads, archives, name, loader

    # a nested function ships by value, so its reference to the
    # package is what imports it on the worker
    [(reads, archives, name, loader)] = (
        spark.sparkContext.parallelize([0], 1).mapPartitions(probe).collect()
    )
    # the worker imports pyspark from a zip, so there is something to skip
    assert any(a.endswith("pyspark.zip") for a in archives), archives
    assert reads == []
    assert name is not None, "every candidate module is already loaded on this worker"
    assert loader == "zipimporter"


def test_driver_keeps_the_stdlib_invalidate_caches():
    method = zipimport.zipimporter.invalidate_caches
    assert method.__module__ == "zipimport"
    assert method.__qualname__ == "zipimporter.invalidate_caches"
