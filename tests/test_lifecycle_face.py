"""Composed day-2 lifecycle face (streaming/upsert.py,
lifecycle_store_batch): takedown + upsert in ONE trigger against ONE
store.

Pins the composition seam the solo-face tests cannot see:
(a) the mixed trigger — one purge-and-insert pass over every store —
    equals the solo takedown-then-upsert sequence byte-for-byte on
    every store (both equal a from-scratch clustering, dedup_upsert's
    argument; test_keyed_store.py pins that the pass rewrites each
    store once),
(b) the ghost contract — a doc_id carried by BOTH a takedown request
    and an upsert re-delivery in the same trigger is forgotten and
    does NOT resurface through the upsert leg, on any store,
(c) labels equal a from-scratch clustering of the current corpus
    (survivors with re-delivered edits applied),
(d) a replayed trigger is a no-op on every store,
(e) unknown actions fail loud.
"""

import pytest
from pyspark.sql import functions as F

from calculate_file_content_size_for_vector_db_spark.operators import dedup
from calculate_file_content_size_for_vector_db_spark.streaming import start_face
from calculate_file_content_size_for_vector_db_spark.streaming.upsert import (
    lifecycle_store_batch,
    takedown_store_batch,
    upsert_store_batch,
)

ROWS = [
    (10, "alpha beta gamma delta epsilon"),
    (11, "alpha beta gamma delta epsilon"),
    (12, "alpha beta gamma delta epsilon"),
    (20, "omega psi chi phi upsilon"),
    (21, "omega psi chi phi upsilon"),
    (30, "lonely words with no duplicate here"),
    (40, "another singleton of entirely distinct content"),
]

# one trigger: forget 12 and 40; re-deliver 11 (cluster move into
# group 2) and 40 (GHOST: also taken down — takedown must win)
TD_IDS = [12, 40]
UP_ROWS = [
    (11, "omega psi chi phi upsilon"),
    (40, "resurrection attempt that must not land"),
]
CURRENT = [
    (10, "alpha beta gamma delta epsilon"),
    (11, "omega psi chi phi upsilon"),
    (20, "omega psi chi phi upsilon"),
    (21, "omega psi chi phi upsilon"),
    (30, "lonely words with no duplicate here"),
]


def _seed(spark, store):
    docs = spark.createDataFrame(ROWS, "doc_id long, text string")
    docs.write.parquet(f"{store}/admitted")
    dedup.minhash_bands(dedup.minhash_signature(docs)).write.parquet(f"{store}/bands")
    dedup.shingle_sets(docs).write.parquet(f"{store}/shingles")
    dedup.neardup_clusters(docs).write.parquet(f"{store}/labels")


def _rows_of(spark, path):
    return {
        tuple(tuple(sorted(x)) if isinstance(x, list) else x for x in r)
        for r in spark.read.parquet(path).collect()
    }


def _snapshot(spark, store):
    return {
        sub: _rows_of(spark, f"{store}/{sub}")
        for sub in ("admitted", "bands", "shingles", "labels")
    }


def _lifecycle_batch(spark):
    rows = [(i, "takedown", None) for i in TD_IDS] + [
        (i, "upsert", t) for i, t in UP_ROWS
    ]
    return spark.createDataFrame(rows, "doc_id long, action string, text string")


@pytest.mark.slow
def test_lifecycle_face_composes_solo_verbs_and_keeps_ghosts_out(spark, tmp_path):
    s_face, s_solo = str(tmp_path / "face"), str(tmp_path / "solo")
    _seed(spark, s_face)
    _seed(spark, s_solo)

    # composed store: one REAL trigger through writeStream
    batch_dir = tmp_path / "batch"
    _lifecycle_batch(spark).coalesce(1).write.parquet(str(batch_dir))
    stream = spark.readStream.schema("doc_id long, action string, text string").parquet(
        str(batch_dir)
    )
    q = start_face(stream, str(tmp_path / "ckpt"), lifecycle_store_batch, s_face)
    assert q.awaitTermination(300)

    # twin store: the solo verbs in the face's documented order, with
    # the ghost id pre-filtered exactly as the face's contract states
    takedown_store_batch(
        spark.createDataFrame([(i,) for i in TD_IDS], "doc_id long"), 0, s_solo
    )
    upsert_store_batch(
        spark.createDataFrame(
            [r for r in UP_ROWS if r[0] not in TD_IDS], "doc_id long, text string"
        ),
        0,
        s_solo,
    )

    # (a) composed == solo sequence, every store byte-for-byte
    face_snap, solo_snap = _snapshot(spark, s_face), _snapshot(spark, s_solo)
    for sub in face_snap:
        assert face_snap[sub] == solo_snap[sub], f"composed != solo on {sub}"

    # (b) ghost contract: 40 (takedown ∩ upsert) and 12 are GONE
    for sub in ("admitted", "bands", "shingles", "labels"):
        ids = {r[0] for r in face_snap[sub]}
        assert 40 not in ids, f"ghost 40 resurfaced in {sub}"
        assert 12 not in ids, f"taken-down 12 still in {sub}"

    # (c) labels == from-scratch clustering of the current corpus
    current = spark.createDataFrame(CURRENT, "doc_id long, text string")
    want = {
        (r.doc_id, r.cluster_id)
        for r in dedup.neardup_clusters(current).collect()
    }
    assert face_snap["labels"] == want

    # audit ledgers carry both verbs' rows
    td_audit = {r.doc_id for r in spark.read.parquet(f"{s_face}/takedowns").collect()}
    up_audit = {r.doc_id for r in spark.read.parquet(f"{s_face}/upserts").collect()}
    assert td_audit == set(TD_IDS)
    assert up_audit == {11}  # the ghost never reached the upsert leg

    # (d) replaying the SAME composed trigger is a no-op on every store
    lifecycle_store_batch(_lifecycle_batch(spark), 0, s_face)
    assert _snapshot(spark, s_face) == face_snap


@pytest.mark.slow
def test_lifecycle_face_drives_index_store_both_verbs(spark, tmp_path):
    """The composed trigger against a store WITH an IVF index: the
    takedown leg must purge the forgotten ids' assign rows, and the
    upsert leg must re-assign re-embedded survivors against the FROZEN
    stored centroids — end state == frozen-centroid assignment of the
    current vector set. The ghost id's re-delivery carries an
    embedding too, and must still not land."""
    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        ivf_append_assign,
        ivf_centroids,
    )

    def emb(i):
        return [float((i * 7 + d * 3) % 11) for d in range(8)]

    store = str(tmp_path / "store")
    _seed(spark, store)
    vecs = spark.createDataFrame(
        [(i, emb(i)) for i, _ in ROWS], "vec_id long, embedding array<double>"
    )
    ivf_centroids(vecs).write.parquet(f"{store}/index/centroids")
    cents = spark.read.parquet(f"{store}/index/centroids")
    ivf_append_assign(vecs, cents).write.parquet(f"{store}/index/assign")

    rows = [(i, "takedown", None, None) for i in TD_IDS] + [
        (i, "upsert", t, emb(i * 100)) for i, t in UP_ROWS
    ]
    batch = spark.createDataFrame(
        rows, "doc_id long, action string, text string, embedding array<double>"
    )
    lifecycle_store_batch(batch, 0, store)

    cur_vecs = spark.createDataFrame(
        [(i, emb(i)) for i, _ in CURRENT if i != 11] + [(11, emb(1100))],
        "vec_id long, embedding array<double>",
    )
    want = {
        (r.vec_id, r.cell, r.cell_cosine)
        for r in ivf_append_assign(cur_vecs, cents).collect()
    }
    got = {
        (r.vec_id, r.cell, r.cell_cosine)
        for r in spark.read.parquet(f"{store}/index/assign").collect()
    }
    assert got == want
    assert 40 not in {v for v, _, _ in got} and 12 not in {v for v, _, _ in got}


@pytest.mark.slow
def test_lifecycle_face_passes_ledger_to_takedown_refolds(spark, tmp_path):
    """The admitted_ledger pass-through: ONE composed trigger with the
    batch-tagged ledger provided must drive the takedown leg's card/
    drift sum-fold refolds (right-to-be-forgotten covers the
    observability stores in the same trigger), folding exactly the
    takedown ids out — the upsert leg's refolds remain a batch
    maintenance job by the documented contract, so the expected fold
    is the UNREWRITTEN ledger minus the forgotten ids."""
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        corpus_datacard_merge,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming.datacard import (
        append_card_partials,
        read_datacard,
    )

    ledger = spark.createDataFrame(
        [
            (i, f"doc {i} body {'pad ' * (i % 4)}", ["en", "fr"][i % 2], f"s{i % 3}", i % 2)
            for i in range(12)
        ],
        "doc_id long, text string, lang string, source string, batch_id long",
    )
    store = str(tmp_path / "store")
    docs = ledger.select("doc_id", "text")
    docs.write.parquet(f"{store}/admitted")
    for b in range(2):
        append_card_partials(
            ledger.where(F.col("batch_id") == b).drop("batch_id"), b, f"{store}/card"
        )

    batch = spark.createDataFrame(
        [(0, "takedown", None), (4, "takedown", None), (5, "upsert", "rewritten body five")],
        "doc_id long, action string, text string",
    )
    lifecycle_store_batch(batch, 0, store, admitted_ledger=ledger)

    surv = ledger.where(~F.col("doc_id").isin(0, 4)).drop("batch_id")
    got = {r.metric: r.value for r in read_datacard(spark, f"{store}/card").collect()}
    want = {r.metric: r.value for r in corpus_datacard_merge(surv).collect()}
    assert got == want
    # and the serving store saw BOTH verbs in the same trigger
    adm = {r.doc_id: r.text for r in spark.read.parquet(f"{store}/admitted").collect()}
    assert 0 not in adm and 4 not in adm
    assert adm[5] == "rewritten body five"


@pytest.mark.slow
def test_lifecycle_face_rejects_unknown_action(spark, tmp_path):
    store = str(tmp_path / "store")
    _seed(spark, store)
    bad = spark.createDataFrame(
        [(10, "delete", None)], "doc_id long, action string, text string"
    )
    import pytest

    with pytest.raises(ValueError, match="unknown action"):
        lifecycle_store_batch(bad, 0, store)
    # and the store is untouched
    assert {r.doc_id for r in spark.read.parquet(f"{store}/admitted").collect()} == {
        r[0] for r in ROWS
    }
