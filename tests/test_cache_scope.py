"""Cache residency: what a face trigger, a batch verb or a registry
query caches is released by its owner (session.cache_scope for the
first two, the next registry entry for a query), including
localCheckpoints and including when a write inside the body raises.

Residency is read two ways: the JVM's persistent-RDD ids (persist and
localCheckpoint both register there) and the CacheManager's entry
count (one per cached plan; releasing an RDD alone leaves its entry).
RDD ids are compared as sets, since Spark's cleaner may drop RDDs an
earlier test left behind while a body runs.
"""

import math

import pytest
from pyspark.sql import DataFrameWriter

from tests.conftest import SF_DIR, cached_plan_count, persistent_rdd_ids


def _residency(spark):
    return persistent_rdd_ids(spark), cached_plan_count(spark)


def _assert_unchanged(spark, before):
    ids, entries = before
    assert persistent_rdd_ids(spark) <= ids
    assert cached_plan_count(spark) == entries


def _docs(spark):
    rows = [
        (1, "the quick brown fox jumps over the lazy dog near the river bank"),
        (2, "the quick brown fox jumps over the lazy dog near the river bend"),
        (3, "a completely different sentence about spark jobs and stages"),
        (4, "a completely different sentence about spark jobs and tasks"),
        (5, "nothing in common with any other document in this tiny corpus"),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def test_upsert_store_batch_leaves_residency_unchanged(spark, tmp_path):
    """One upsert trigger releases everything it cached, CacheManager
    entries included, and so does its replay."""
    from calculate_file_content_size_for_vector_db_spark.operators.dedup import (
        bands_from_shingle_sets,
        neardup_clusters,
        shingle_sets,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming.upsert import upsert_store_batch

    store = str(tmp_path / "store")
    docs = _docs(spark)
    docs.write.parquet(f"{store}/admitted")
    shingle_sets(docs).write.parquet(f"{store}/shingles")
    bands_from_shingle_sets(spark.read.parquet(f"{store}/shingles")).write.parquet(
        f"{store}/bands"
    )
    neardup_clusters(
        docs,
        bands_df=spark.read.parquet(f"{store}/bands"),
        shingles_df=spark.read.parquet(f"{store}/shingles"),
    ).write.parquet(f"{store}/labels")
    batch = spark.createDataFrame(
        [(5, "a completely different sentence about spark jobs and tasks too")],
        "doc_id long, text string",
    )
    for cycle in range(2):
        before = _residency(spark)
        upsert_store_batch(batch, cycle, store)
        _assert_unchanged(spark, before)
    labels = {r.doc_id: r.cluster_id for r in spark.read.parquet(f"{store}/labels").collect()}
    assert labels[5] == labels[3] == labels[4] == 3  # the upsert took effect


def test_registry_entry_releases_the_previous_querys_rdds(spark):
    """The next registry entry releases every RDD the previous query
    left persisted, localCheckpoints included (dedup_clusters' star
    contraction checkpoints its edge sets, which clearCache() misses)."""
    from calculate_file_content_size_for_vector_db_spark.entry_queries import REGISTRY

    before = persistent_rdd_ids(spark)
    REGISTRY["dedup_clusters"].fn(spark, SF_DIR).collect()
    first = persistent_rdd_ids(spark) - before
    assert first, "dedup_clusters persisted nothing, so this test shows nothing"
    REGISTRY["corpus_totals"].fn(spark, SF_DIR).collect()
    assert first & persistent_rdd_ids(spark) == set()


def _index_batch(spark):
    rows = [
        (i, f"doc {i} body word{i % 3} tail", [float(math.sin(0.1 * i * (d + 1)) % 1.0) for d in range(64)])
        for i in range(12)
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, embedding array<float>")


def _card_batch(spark):
    rows = [(i, f"doc {i} words here {i % 4}", "en" if i % 2 else "de", f"s{i % 3}") for i in range(12)]
    return spark.createDataFrame(rows, "doc_id long, text string, lang string, source string")


def _index(spark, out):
    from calculate_file_content_size_for_vector_db_spark.streaming.index_maintenance import (
        maintain_index_batch,
    )

    maintain_index_batch(_index_batch(spark), 0, out)


def _card(spark, out):
    from calculate_file_content_size_for_vector_db_spark.streaming.datacard import (
        append_card_partials,
    )

    append_card_partials(_card_batch(spark), 0, out)


def _drift(spark, out):
    from calculate_file_content_size_for_vector_db_spark.streaming.drift import (
        append_drift_marginals,
    )

    append_drift_marginals(_card_batch(spark), 0, out)


def _lake(spark, out):
    from calculate_file_content_size_for_vector_db_spark.streaming import start_face
    from calculate_file_content_size_for_vector_db_spark.streaming.maintenance import (
        lake_maintenance_batch,
    )

    src = f"{out}/in"
    spark.createDataFrame(
        [(1, "alpha", "s1"), (2, "beta", "s2")], "doc_id long, text string, source string"
    ).write.parquet(src)
    stream = spark.readStream.schema("doc_id long, text string, source string").parquet(src)
    q = start_face(
        stream, f"{out}/ckpt", lake_maintenance_batch, f"{out}/lake", f"{out}/diff", f"{out}/plan"
    )
    q.awaitTermination()


@pytest.mark.parametrize(
    "body, failing_write",
    [(_index, "/bloom"), (_card, "/hll"), (_drift, "/langs"), (_lake, "/plan")],
    ids=["maintain_index_batch", "append_card_partials", "append_drift_marginals", "lake_face"],
)
def test_failed_write_still_releases(spark, tmp_path, monkeypatch, body, failing_write):
    """A write that raises between a body's first cache and its end
    leaves residency as the body found it: the scope releases in
    ``finally``."""
    real_parquet = DataFrameWriter.parquet

    def failing_parquet(self, path, *args, **kwargs):
        if path.endswith(failing_write):
            raise OSError(f"injected write failure at {path}")
        return real_parquet(self, path, *args, **kwargs)

    before = _residency(spark)
    monkeypatch.setattr(DataFrameWriter, "parquet", failing_parquet)
    with pytest.raises(Exception, match="injected write failure"):
        body(spark, str(tmp_path))
    monkeypatch.undo()
    _assert_unchanged(spark, before)


def test_cache_scope_releases_frames_and_checkpoints_on_error(spark):
    from calculate_file_content_size_for_vector_db_spark.session import cache_scope, cached

    before = _residency(spark)
    with pytest.raises(RuntimeError):
        with cache_scope(spark):
            df = cached(spark.range(50).selectExpr("id", "id * 2 AS y"))
            assert df.count() == 50
            spark.range(20).localCheckpoint(eager=True)
            assert cached_plan_count(spark) == before[1] + 1
            raise RuntimeError("body failed")
    _assert_unchanged(spark, before)
