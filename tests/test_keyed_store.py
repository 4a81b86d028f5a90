"""The keyed verb pair (operators/maintenance.py: keyed_takedown /
keyed_upsert) and the stores rewritten through it: the broadcast
policy pinned once at the verb, the NULL-key guard that keeps a
replayed upsert equal to one run, the job counts of one upsert and one
takedown trigger, the labels store's key order, and the parquet upsert
sink's crash-safe rewrite."""

from __future__ import annotations

import os

import pytest
from pyspark.errors import StreamingQueryException

from calculate_file_content_size_for_vector_db_spark.operators import dedup


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_keyed_takedown_broadcasts_ids_and_never_shuffles_the_store(spark, tmp_path):
    """The ids side is broadcast even when its size estimate is above
    the broadcast threshold (16 MB for this range), so the LEFT ANTI
    join is a BroadcastHashJoin and the store scan meets it without
    an exchange."""
    from calculate_file_content_size_for_vector_db_spark.operators.maintenance import (
        keyed_takedown,
    )

    path = str(tmp_path / "store")
    spark.range(1000).selectExpr("id AS doc_id", "id % 7 AS v").write.parquet(path)
    ids = spark.range(0, 2_000_000).where("id IN (3, 5)")
    out = keyed_takedown(spark.read.parquet(path), ids, "doc_id")
    assert sorted(r.doc_id for r in out.collect()) == [
        i for i in range(1000) if i not in (3, 5)
    ]

    plan = out._jdf.queryExecution().executedPlan().toString()
    anti = [line for line in plan.splitlines() if "LeftAnti" in line]
    assert anti and all("BroadcastHashJoin" in line for line in anti), plan
    exchanges = [line for line in plan.splitlines() if "Exchange" in line]
    assert exchanges and all("BroadcastExchange" in line for line in exchanges), plan


def test_keyed_upsert_replaces_by_ids_and_replays_to_the_same_rows(spark):
    """The purge set is ``ids``, not the keys of ``fresh``: a key with
    no fresh rows still loses its old rows. Fresh rows are matched to
    the store's columns by name, extra columns dropped, and a replay
    gives the same rows as one run."""
    from calculate_file_content_size_for_vector_db_spark.operators.maintenance import (
        keyed_upsert,
    )

    store = spark.createDataFrame(
        [(1, "a", 10), (1, "b", 11), (2, "c", 20), (3, "d", 30)],
        "doc_id long, term string, tf long",
    )
    ids = spark.createDataFrame([(1,), (2,), (4,)], "id long")
    fresh = spark.createDataFrame(
        [(9, "x", 1, "extra"), (11, "y", 4, "extra")],
        "tf long, term string, doc_id long, note string",
    )
    once = keyed_upsert(store, ids, fresh, "doc_id")
    want = [(1, "x", 9), (3, "d", 30), (4, "y", 11)]
    assert _rows(once.select("doc_id", "term", "tf")) == want
    twice = keyed_upsert(once, ids, fresh, "doc_id")
    assert _rows(twice.select("doc_id", "term", "tf")) == want


def _doc_store(spark, store: str):
    docs = spark.createDataFrame(
        [(i, f"doc number {i} alpha beta gamma") for i in range(6)],
        "doc_id long, text string",
    )
    docs.write.parquet(f"{store}/admitted")
    dedup.shingle_sets(docs).write.parquet(f"{store}/shingles")
    dedup.bands_from_shingle_sets(spark.read.parquet(f"{store}/shingles")).write.parquet(
        f"{store}/bands"
    )
    return docs


def test_upsert_replay_with_a_null_key_fails_and_keeps_the_store(spark, tmp_path):
    """A re-delivery holding a NULL doc_id fails the trigger, on every
    replay, instead of appending one more NULL row per run (an
    anti-join never matches NULL). The failed write leaves at most an
    uncommitted swap, which the next trigger's heal drops; the store
    keeps its rows."""
    from calculate_file_content_size_for_vector_db_spark.streaming.upsert import (
        upsert_store_batch,
    )

    store = str(tmp_path / "store")
    docs = _doc_store(spark, store)
    bad = spark.createDataFrame(
        [(None, "null keyed text here"), (5, "doc five rewritten")],
        "doc_id long, text string",
    )
    for replay in range(2):
        with pytest.raises(Exception, match="NULL 'doc_id'"):
            upsert_store_batch(bad, replay, store)
        assert _rows(spark.read.parquet(f"{store}/admitted")) == _rows(docs)
        assert not os.path.exists(f"{store}/admitted__swap/_SUCCESS")

    good = bad.where("doc_id IS NOT NULL")
    upsert_store_batch(good, 2, store)
    want = _rows(docs.where("doc_id <> 5").unionByName(good))
    assert _rows(spark.read.parquet(f"{store}/admitted")) == want
    assert not [p for p in os.listdir(store) if p.endswith("__swap")]


def _all_legs_store(spark, store: str):
    """Per-doc rows, near-dup labels and an IVF index: every leg a
    store trigger rewrites. Returns the admitted docs."""
    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        ivf_append_assign,
        ivf_centroids,
    )

    rows = [(g * 10 + m, _GROUPS[g]) for g in range(2) for m in range(3)]
    rows.append((30, "lonely words with no duplicate here"))
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    vecs = spark.createDataFrame(
        [(i, _emb(i)) for i, _ in rows], "vec_id long, embedding array<double>"
    )
    docs.write.parquet(f"{store}/admitted")
    dedup.shingle_sets(docs).write.parquet(f"{store}/shingles")
    dedup.bands_from_shingle_sets(spark.read.parquet(f"{store}/shingles")).write.parquet(
        f"{store}/bands"
    )
    dedup.neardup_clusters(docs).write.parquet(f"{store}/labels")
    ivf_centroids(vecs).write.parquet(f"{store}/index/centroids")
    cents = spark.read.parquet(f"{store}/index/centroids")
    ivf_append_assign(vecs, cents).write.parquet(f"{store}/index/assign")
    return docs


_GROUPS = ["alpha beta gamma delta epsilon", "omega psi chi phi upsilon"]


def _emb(i):
    return [float((i * 7 + d * 3) % 11) for d in range(8)]


def _assert_labels_files_in_key_order(store: str) -> None:
    """Every part file of ``labels/`` holds its rows sorted by doc_id,
    so their order does not depend on shuffle fetch order."""
    import pyarrow.parquet as pq

    parts = [f for f in os.listdir(f"{store}/labels") if f.endswith(".parquet")]
    assert parts
    for part in parts:
        ids = pq.read_table(f"{store}/labels/{part}").column("doc_id").to_pylist()
        assert ids == sorted(ids), part


def test_upsert_and_takedown_triggers_run_no_more_jobs_than_before(
    spark, spark_jobs, tmp_path, monkeypatch
):
    """One upsert trigger and one takedown trigger against a store
    carrying every leg (per-doc rows, near-dup labels, IVF index) run
    no more Spark jobs than before the keyed verbs replaced the
    per-family purges: 74 and 52 jobs on the test session's local[8]
    before, the bounds here. A mixed lifecycle trigger (the same
    takedown and re-delivery, on a fresh copy of the store) is one
    pass: it rewrites each of the five stores once, and measured 77
    jobs, where running the takedown and then the upsert ran 134 and
    rewrote every store twice. After the upsert the labels equal a
    from-scratch clustering of the current corpus, and after every
    trigger each ``labels/`` part file is in doc_id order."""
    from pyspark.sql import DataFrameWriter

    from calculate_file_content_size_for_vector_db_spark.streaming.upsert import (
        lifecycle_store_batch,
        takedown_store_batch,
        upsert_store_batch,
    )

    store, mixed = str(tmp_path / "store"), str(tmp_path / "mixed")
    docs = _all_legs_store(spark, store)
    _all_legs_store(spark, mixed)
    redelivered = [(0, _GROUPS[1], _emb(100)), (99, _GROUPS[0], _emb(99))]
    batch = spark.createDataFrame(
        redelivered, "doc_id long, text string, embedding array<double>"
    )
    takedown = spark.createDataFrame([(1,), (20,)], "doc_id long")
    upsert_jobs = spark_jobs(lambda: upsert_store_batch(batch, 0, store))
    # doc 0 (its cluster's minimum) moved to group 1, doc 99 is new: the
    # labels equal a from-scratch clustering of the current corpus
    current = docs.where("doc_id <> 0").unionByName(batch.drop("embedding"))
    assert _rows(spark.read.parquet(f"{store}/labels")) == _rows(dedup.neardup_clusters(current))
    _assert_labels_files_in_key_order(store)
    takedown_jobs = spark_jobs(lambda: takedown_store_batch(takedown, 1, store))
    _assert_labels_files_in_key_order(store)
    assert upsert_jobs <= 74, upsert_jobs
    assert takedown_jobs <= 52, takedown_jobs
    assert _rows(spark.read.parquet(f"{store}/admitted").select("doc_id")) == [
        (i,) for i in (0, 2, 10, 11, 12, 30, 99)
    ]

    swaps = []
    real_parquet = DataFrameWriter.parquet

    def counting_parquet(self, path, *args, **kwargs):
        if path.endswith("__swap"):
            swaps.append(path)
        return real_parquet(self, path, *args, **kwargs)

    monkeypatch.setattr(DataFrameWriter, "parquet", counting_parquet)
    lifecycle = spark.createDataFrame(
        [(i, "takedown", None, None) for i in (1, 20)]
        + [(i, "upsert", t, e) for i, t, e in redelivered],
        "doc_id long, action string, text string, embedding array<double>",
    )
    lifecycle_jobs = spark_jobs(lambda: lifecycle_store_batch(lifecycle, 2, mixed))
    assert lifecycle_jobs <= 77, lifecycle_jobs
    _assert_labels_files_in_key_order(mixed)
    assert sorted(swaps) == sorted(
        f"{mixed}/{sub}__swap"
        for sub in ("admitted", "bands", "shingles", "labels", "index/assign")
    )
    for sub in ("admitted", "bands", "shingles", "labels", "index/assign"):
        assert _rows(spark.read.parquet(f"{mixed}/{sub}")) == _rows(
            spark.read.parquet(f"{store}/{sub}")
        ), sub


def _events(spark, ids, payload: str):
    return spark.createDataFrame(
        [(i, f"{payload}{i}") for i in ids], "event_id long, payload string"
    )


def test_stream_upsert_sink_rejects_a_schema_mismatch_and_keeps_the_target(
    spark, tmp_path
):
    """A micro-batch lacking one of the target's columns fails the
    stream; the target keeps every row (it is not overwritten by the
    batch alone)."""
    from calculate_file_content_size_for_vector_db_spark.streaming import start_face
    from calculate_file_content_size_for_vector_db_spark.streaming.sinks import (
        upsert_parquet_batch,
    )

    target = str(tmp_path / "target")
    _events(spark, range(100), "old").write.parquet(target)
    src = str(tmp_path / "src")
    spark.createDataFrame([(7,)], "event_id long").write.parquet(src)
    q = start_face(
        spark.readStream.schema("event_id long").parquet(src),
        str(tmp_path / "ckpt"),
        upsert_parquet_batch,
        target,
    )
    with pytest.raises(StreamingQueryException):
        q.awaitTermination(120)
    assert _rows(spark.read.parquet(target)) == _rows(_events(spark, range(100), "old"))


def test_stream_upsert_sink_heals_a_rewrite_interrupted_after_the_swap_commit(
    spark, tmp_path
):
    """A crash after the swap committed but before the live overwrite
    finished leaves the truth in ``{target}__swap`` and a partial live
    target. The next trigger heals first (live restored from the swap,
    swap dropped), then upserts its batch into the restored rows."""
    from calculate_file_content_size_for_vector_db_spark.streaming import start_face
    from calculate_file_content_size_for_vector_db_spark.streaming.sinks import (
        upsert_parquet_batch,
    )

    target = str(tmp_path / "target")
    _events(spark, range(100), "old").write.parquet(target + "__swap")
    _events(spark, range(10), "old").write.parquet(target)
    src = str(tmp_path / "src")
    _events(spark, (5, 100), "new").write.parquet(src)
    q = start_face(
        spark.readStream.schema("event_id long, payload string").parquet(src),
        str(tmp_path / "ckpt"),
        upsert_parquet_batch,
        target,
    )
    q.awaitTermination(120)
    want = _rows(
        _events(spark, [i for i in range(100) if i != 5], "old").unionByName(
            _events(spark, (5, 100), "new")
        )
    )
    assert _rows(spark.read.parquet(target)) == want
    assert not os.path.exists(target + "__swap")
