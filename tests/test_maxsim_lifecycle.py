"""Lifecycle verbs for the MaxSim (multi-vector) token index —
maxsim_token_index / maxsim_upsert / topk_maxsim_from_index
(operators/similarity.py), with the takedown as
operators/maintenance.keyed_takedown on doc_id.

The token index (cell-assigned doc tokens) is a store like any other
in the lifecycle matrix (PLANS.md round-13 candidates): these tests
pin the same contracts the IVF-assignment and postings stores carry —
index+serve == the inline train+serve row, upsert == rebuild on the
current corpus, replay idempotence, takedown leaves no ghosts and
equals a survivor rebuild, and the whole-bag replacement semantics
(a shorter re-embedded bag must not keep stale tail tokens).

Registration of the corresponding queries()/oracle rows is deferred
to the round-13 budget; these tests are the correctness evidence the
registrations will lean on.
"""

from __future__ import annotations

import random

import pytest
from pyspark.sql import functions as F

import calculate_file_content_size_for_vector_db_spark.operators.similarity as sim
from calculate_file_content_size_for_vector_db_spark.operators.maintenance import keyed_takedown
from calculate_file_content_size_for_vector_db_spark.sources.io import read_table
from tests.conftest import SF_DIR


def _token_bags(spark, n_docs: int = 60):
    """Deterministic 4x16-dim token bags from the embeddings fixture —
    the same derivation the registered MaxSim rows use."""
    emb = read_table(spark, SF_DIR, "embeddings").limit(n_docs)
    return emb.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[
                    F.slice(F.col("embedding").cast("array<double>"), 16 * t + 1, 16)
                    for t in range(4)
                ]
            )
        ).alias("tok", "tv"),
    ).select(F.col("vec_id").alias("doc_id"), "tok", "tv")


def _frozen_cents(doc_tokens, n_cells: int = 8):
    """Train the token quantizer exactly as topk_maxsim_ivf does
    internally (same synthetic _tid key, same k-means)."""
    dt = doc_tokens.select(
        (F.col("doc_id") * 4 + F.col("tok")).alias("_tid"),
        sim.as_double("tv").alias("v"),
    )
    return sim.ivf_centroids(dt, k=n_cells, id_col="_tid", vec_col="v")


def _rows(df):
    return sorted(
        (r.doc_id, r.tok, tuple(r.tv), r.cell) for r in df.collect()
    )


def _served(df):
    return {(r.query_id, r.doc_id): (r.maxsim, r.rank) for r in df.collect()}


@pytest.mark.slow
def test_maxsim_index_serve_composition_matches_inline_ivf(spark):
    """Splitting train+index+serve (maxsim_token_index +
    topk_maxsim_from_index) must reproduce the inline topk_maxsim_ivf
    row exactly — the stored-path == inline-path identity the
    sim_topk_ivf_stored family pins for single vectors."""
    toks = _token_bags(spark).persist()
    qt = toks.where("doc_id < 5").withColumnRenamed("doc_id", "query_id")
    cents = _frozen_cents(toks).persist()
    cents.count()

    inline = _served(sim.topk_maxsim_ivf(toks, qt, k=5, probes=2, n_cells=8))
    index = sim.maxsim_token_index(toks, cents)
    stored = _served(sim.topk_maxsim_from_index(index, qt, cents, k=5, probes=2))
    assert stored == inline
    toks.unpersist()
    cents.unpersist()


def test_maxsim_upsert_equals_rebuild_on_current_corpus(spark):
    """Re-embedding 1-in-10 docs (reversed token vectors) and
    upserting their bags == indexing the mutated corpus from scratch
    against the same frozen centroids — assignment depends only on
    the centroids, so the equivalence is exact, row for row."""
    toks = _token_bags(spark).persist()
    cents = _frozen_cents(toks).persist()
    cents.count()
    store = sim.maxsim_token_index(toks, cents).persist()
    store.count()

    changed = toks.where(F.col("doc_id") % 10 == 0).select(
        "doc_id", "tok", F.reverse("tv").alias("tv")
    )
    current = toks.where(F.col("doc_id") % 10 != 0).unionByName(changed)

    upserted = sim.maxsim_upsert(store, changed, cents)
    rebuilt = sim.maxsim_token_index(current, cents)
    assert _rows(upserted) == _rows(rebuilt)
    toks.unpersist()
    cents.unpersist()
    store.unpersist()


def test_maxsim_upsert_replay_idempotent(spark):
    """Upserting the same batch twice == once: the second purge
    removes exactly the rows the first append wrote and the second
    append rewrites them verbatim."""
    toks = _token_bags(spark, n_docs=40).persist()
    cents = _frozen_cents(toks).persist()
    cents.count()
    store = sim.maxsim_token_index(toks, cents).persist()
    store.count()

    batch = toks.where(F.col("doc_id") % 7 == 0).select(
        "doc_id", "tok", F.reverse("tv").alias("tv")
    )
    once = sim.maxsim_upsert(store, batch, cents).persist()
    once.count()
    twice = sim.maxsim_upsert(once, batch, cents)
    assert _rows(twice) == _rows(once)
    toks.unpersist()
    cents.unpersist()
    store.unpersist()
    once.unpersist()


@pytest.mark.slow
def test_maxsim_takedown_no_ghosts_and_equals_survivor_rebuild(spark):
    """Purging forgotten docs from the token index (a) removes every
    one of their token rows, (b) equals an index rebuilt over the
    survivors (token rows are keyed by their own doc only — one
    anti-join IS the complete purge), and (c) the serve path over the
    purged index never returns a forgotten doc and equals serving a
    survivor rebuild."""
    toks = _token_bags(spark).persist()
    cents = _frozen_cents(toks).persist()
    cents.count()
    store = sim.maxsim_token_index(toks, cents).persist()
    store.count()

    forgotten = toks.select("doc_id").distinct().where(F.col("doc_id") % 9 == 0)
    fids = {r.doc_id for r in forgotten.collect()}
    assert fids, "fixture must yield a non-empty takedown set"

    purged = keyed_takedown(store, forgotten, "doc_id").persist()
    survivors = toks.join(forgotten, "doc_id", "left_anti")
    rebuilt = sim.maxsim_token_index(survivors, cents)
    assert _rows(purged) == _rows(rebuilt)

    qt = toks.where("doc_id in (1, 2, 3)").withColumnRenamed("doc_id", "query_id")
    served_purged = _served(sim.topk_maxsim_from_index(purged, qt, cents, k=5, probes=2))
    assert all(d not in fids for (_, d) in served_purged)
    served_rebuilt = _served(
        sim.topk_maxsim_from_index(rebuilt, qt, cents, k=5, probes=2)
    )
    assert served_purged == served_rebuilt
    toks.unpersist()
    cents.unpersist()
    store.unpersist()
    purged.unpersist()


def test_maxsim_upsert_shorter_bag_drops_stale_tail(spark):
    """Whole-bag replacement semantics: a doc re-embedded with a
    SHORTER token bag keeps exactly the new bag's rows — the anti-join
    on doc_id cannot leave stale tail tokens behind (the failure mode
    a per-(doc, tok) merge would hit)."""
    toks = _token_bags(spark, n_docs=30).persist()
    cents = _frozen_cents(toks).persist()
    cents.count()
    store = sim.maxsim_token_index(toks, cents).persist()
    store.count()

    short = toks.where((F.col("doc_id") == 3) & (F.col("tok") < 2)).select(
        "doc_id", "tok", F.reverse("tv").alias("tv")
    )
    upserted = sim.maxsim_upsert(store, short, cents)
    doc3 = [(r.tok,) for r in upserted.where("doc_id = 3").collect()]
    assert sorted(doc3) == [(0,), (1,)]
    toks.unpersist()
    cents.unpersist()
    store.unpersist()


def test_maxsim_upsert_empty_batch_is_identity(spark):
    """Edge input: an empty upsert batch leaves the store verbatim
    (the anti-join drops nothing, the append adds nothing) — the
    edge-input contract every lifecycle verb in the package carries."""
    toks = _token_bags(spark, n_docs=25).persist()
    cents = _frozen_cents(toks).persist()
    cents.count()
    store = sim.maxsim_token_index(toks, cents).persist()
    store.count()

    empty = toks.where("doc_id < 0").select("doc_id", "tok", "tv")
    assert _rows(sim.maxsim_upsert(store, empty, cents)) == _rows(store)
    assert _rows(keyed_takedown(store, empty.select("doc_id"), "doc_id")) == _rows(store)
    toks.unpersist()
    cents.unpersist()
    store.unpersist()

@pytest.mark.parametrize("seed", [11, 29])
def test_maxsim_upsert_randomized_sequence_equals_rebuild(spark, seed):
    """Randomized multi-step sweep (the test_ivf_upsert_randomized
    pattern on token bags): two upsert rounds against the stored token
    index — round 1 re-embeds a random sample of EXISTING docs and
    ingests NEW doc ids in the same batch (upsert subsumes append),
    round 2 re-embeds another random sample including a doc already
    changed in round 1 (the last write must win). After the sequence
    the store must equal a from-scratch index of the final corpus
    against the same frozen centroids — the sequence-of-writes ==
    one-rebuild contract the refold multibatch sweep pins for sum-fold
    stores, here for the multi-vector index."""
    toks = _token_bags(spark, n_docs=50).persist()
    base = toks.where(F.col("doc_id") < 40)
    cents = _frozen_cents(toks).persist()
    cents.count()
    store = sim.maxsim_token_index(base, cents).persist()
    store.count()

    rng = random.Random(seed)
    existing = list(range(40))
    r1_changed = rng.sample(existing, 6)
    r1_new = rng.sample(range(40, 50), 3)
    batch1 = toks.where(F.col("doc_id").isin(*(r1_changed + r1_new))).select(
        "doc_id", "tok", F.reverse("tv").alias("tv")
    )
    after1 = sim.maxsim_upsert(store, batch1, cents).persist()
    after1.count()

    r2_changed = rng.sample(existing, 4) + [r1_changed[0]]
    batch2 = toks.where(F.col("doc_id").isin(*r2_changed)).select(
        "doc_id",
        "tok",
        F.transform("tv", lambda x: -x).alias("tv"),
    )
    after2 = sim.maxsim_upsert(after1, batch2, cents)

    r2_set = set(r2_changed)
    r1_set = (set(r1_changed) | set(r1_new)) - r2_set
    final_corpus = (
        toks.where(F.col("doc_id") < 40)
        .where(~F.col("doc_id").isin(*(r1_set | r2_set)))
        .unionByName(
            toks.where(F.col("doc_id").isin(*r1_set)).select(
                "doc_id", "tok", F.reverse("tv").alias("tv")
            )
        )
        .unionByName(batch2)
    )
    rebuilt = sim.maxsim_token_index(final_corpus, cents)
    assert _rows(after2) == _rows(rebuilt)
    toks.unpersist()
    cents.unpersist()
    store.unpersist()
    after1.unpersist()

@pytest.mark.slow
def test_maxsim_filtered_prefilter_semantics(spark):
    """candidate_filter on the multi-vector tier: crafted corpus where
    the query's nearest docs all FAIL the predicate, so post-filtering
    an unfiltered top-k would starve while the pre-filter serves the
    true top-k of the filtered corpus. Pins (a) brute filtered MaxSim
    == MaxSim over the manually filtered corpus, (b) the full-probe
    filtered serve from the stored index == the brute filtered
    ranking, (c) only matching docs are served."""
    A, B, C = [1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]
    AB = [0.707107, 0.707107, 0.0]
    # query doc 0 = {A, B}; docs 1-3 match it perfectly but are
    # EXCLUDED by the predicate (doc_id >= 10); docs 10-12 match
    # partially and pass
    toks = spark.createDataFrame(
        [
            (0, 0, A), (0, 1, B),
            (1, 0, A), (1, 1, B),
            (2, 0, A), (2, 1, B),
            (3, 0, A), (3, 1, B),
            (10, 0, A), (10, 1, C),
            (11, 0, AB), (11, 1, AB),
            (12, 0, C), (12, 1, C),
        ],
        "doc_id long, tok int, tv array<double>",
    )
    q = toks.where("doc_id = 0").withColumnRenamed("doc_id", "query_id")
    flt = F.col("doc_id") >= 10

    brute = {
        r.doc_id: (r.maxsim, r.rank)
        for r in sim.topk_maxsim(toks, q, k=3, candidate_filter=flt).collect()
    }
    manual = {
        r.doc_id: (r.maxsim, r.rank)
        for r in sim.topk_maxsim(toks.where(flt), q, k=3).collect()
    }
    assert brute == manual
    assert set(brute) == {10, 11, 12}  # pre-filter never starves
    # 10: max(A.A, A.C)=1 + max(B.A, B.C)=0 -> 1.0
    # 11: 0.707107 + 0.707107 -> 1.414214; 12: 0.0
    assert brute[11] == (1.414214, 1)
    assert brute[10] == (1.0, 2)
    assert brute[12] == (0.0, 3)

    cents = _frozen_cents(toks, n_cells=4).persist()
    cents.count()
    index = sim.maxsim_token_index(toks, cents)
    served = {
        r.doc_id: (r.maxsim, r.rank)
        for r in sim.topk_maxsim_from_index(
            index, q, cents, k=3, probes=4, candidate_filter=flt
        ).collect()
    }
    assert served == brute  # full probes: filtered serve == filtered brute
    cents.unpersist()


@pytest.mark.slow
def test_maxsim_filtered_empty_match_serves_nothing(spark):
    """Edge input: a predicate matching no doc serves zero rows on
    both the brute and stored paths (the honest empty result, not an
    unfiltered fallback)."""
    toks = _token_bags(spark, n_docs=20).persist()
    qt = toks.where("doc_id < 3").withColumnRenamed("doc_id", "query_id")
    flt = F.col("doc_id") < 0
    assert sim.topk_maxsim(toks, qt, k=5, candidate_filter=flt).count() == 0
    cents = _frozen_cents(toks).persist()
    cents.count()
    index = sim.maxsim_token_index(toks, cents)
    assert (
        sim.topk_maxsim_from_index(
            index, qt, cents, k=5, probes=2, candidate_filter=flt
        ).count()
        == 0
    )
    toks.unpersist()
    cents.unpersist()
