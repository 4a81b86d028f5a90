"""Crafted-corpus tests for the r11 takedown seams (VERDICT r10 items
3-4): graph-edge takedown where the purged node is a BRIDGE between
two regions (the fixture corpus can't guarantee a bridge, so the
geometry is hand-built), and posting-store takedown where every
global statistic (idf via n_docs, avgdl via dl) must shift.

The graph geometry: 2-d unit vectors on angles, so cosine(a, b) =
cos(angle_a - angle_b) exactly and the kNN graph is readable by eye.

    id 1 @ 0     id 2 @ 4    id 3 @ 30    | cluster A
    id 0 @ 45                             | the BRIDGE (forgotten)
    id 5 @ 80    id 6 @ 84   id 7 @ 88    | cluster B

k_graph=2 edges: 1->{2,3}, 2->{1,3}, 3->{0,2}, 0->{3,5}, 5->{6,7},
6->{5,7}, 7->{5,6} — every A<->B path runs through node 0, and node 0
is also the GLOBAL MIN id, so it doubles as the entry-point leak
probe (an unrestricted entry frame would start every beam AT the
forgotten node)."""

import math

import pytest
from pyspark.sql import functions as F

from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
    graph_takedown,
    graph_upsert,
    topk_graph,
    topk_grid,
)
from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
    bm25_postings,
    bm25_search,
    postings_takedown,
)


def _vec(deg: float) -> list[float]:
    r = math.radians(deg)
    return [math.cos(r), math.sin(r)]


_ANGLES = {1: 0.0, 2: 4.0, 3: 30.0, 0: 45.0, 5: 80.0, 6: 84.0, 7: 88.0}


@pytest.fixture(scope="module")
def bridge_emb(spark):
    return spark.createDataFrame(
        [(i, _vec(a)) for i, a in sorted(_ANGLES.items())],
        "vec_id long, embedding array<double>",
    ).cache()


@pytest.fixture(scope="module")
def bridge_edges(spark, bridge_emb):
    return (
        topk_grid(bridge_emb, bridge_emb, k=2)
        .select("query_id", "neighbor_id")
        .cache()
    )


def _serve(emb, edges, query_id, entry_ids):
    out = topk_graph(
        emb,
        emb.where(F.col("vec_id") == query_id),
        k=10,
        edges=edges,
        entry_ids=entry_ids,
    )
    return {r.neighbor_id for r in out.collect()}


@pytest.mark.slow
def test_graph_takedown_removes_both_endpoint_directions(bridge_edges, spark):
    forgotten = spark.createDataFrame([(0,)], "vec_id long")
    purged = graph_takedown(bridge_edges, forgotten).collect()
    assert purged, "purge emptied the store"
    touched = [r for r in purged if r.query_id == 0 or r.neighbor_id == 0]
    assert touched == []
    # untouched edges survive verbatim
    assert {(r.query_id, r.neighbor_id) for r in purged} == {
        (q, n)
        for q, n in (
            (r.query_id, r.neighbor_id) for r in bridge_edges.collect()
        )
        if q != 0 and n != 0
    }


@pytest.mark.slow
def test_purged_bridge_never_served_and_region_b_honestly_unreachable(
    spark, bridge_emb, bridge_edges
):
    forgotten = spark.createDataFrame([(0,)], "vec_id long")
    survivors = bridge_emb.where(F.col("vec_id") != 0)
    got = _serve(
        bridge_emb, graph_takedown(bridge_edges, forgotten), 7, survivors
    )
    # the forgotten bridge never appears, AND the beam honestly cannot
    # cross into cluster B (no backfill is claimed): query 7 (itself a
    # B node) is served only cluster A, reached from the survivor
    # entry point 1
    assert 0 not in got
    assert got == {1, 2, 3}


@pytest.mark.slow
def test_src_only_purge_leaks_forgotten_node_as_neighbor(
    spark, bridge_emb, bridge_edges
):
    """The falsifier that makes both-direction deletion load-bearing:
    purging only the forgotten node's OWN out-edges (the naive
    takedown) leaves 3 -> 0 in the store, the beam walks that ghost
    edge, and node 0 is served as a top neighbor of query 7."""
    naive = bridge_edges.join(
        spark.createDataFrame([(0,)], "query_id long"), "query_id", "left_anti"
    )
    survivors = bridge_emb.where(F.col("vec_id") != 0)
    got = _serve(bridge_emb, naive, 7, survivors)
    assert 0 in got  # the ghost-edge leak this family of rows exists to catch


@pytest.mark.slow
def test_unrestricted_entry_would_start_at_forgotten_node(
    spark, bridge_emb, bridge_edges
):
    """Edge deletion alone cannot close the entry-point path: node 0
    is the global min id, so without the entry_ids hook every beam
    STARTS at the forgotten node and g0 already contains it."""
    forgotten = spark.createDataFrame([(0,)], "vec_id long")
    purged = graph_takedown(bridge_edges, forgotten)
    leaked = _serve(bridge_emb, purged, 7, entry_ids=None)  # default: full corpus
    assert 0 in leaked
    survivors = bridge_emb.where(F.col("vec_id") != 0)
    assert 0 not in _serve(bridge_emb, purged, 7, survivors)


# ---------------------------------------------------------------------------
# posting-store takedown
# ---------------------------------------------------------------------------

_DOCS = [
    (1, "spark join join join"),  # the doc takedown must make unretrievable
    (2, "spark scan"),
    (3, "sort merge batch"),
    (4, "spark hash probe build side"),  # long doc: moves avgdl when purged
]
_QUERIES = [(0, "join"), (1, "spark scan")]


def _search_from(parts, spark):
    tf, dl, meta = parts
    return {
        (r.query_id, r.doc_id): (r.score, r.rank)
        for r in bm25_search(
            None, _QUERIES, tf_df=tf, dl_df=dl, meta_df=meta
        ).collect()
    }


@pytest.mark.slow
def test_postings_takedown_equals_rebuild_on_survivors(spark):
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    forgotten = spark.createDataFrame([(1,), (4,)], "doc_id long")
    tf, dl, meta = bm25_postings(docs)
    tf2, dl2, meta_delta = postings_takedown(tf, dl, forgotten, admitted=docs)
    merged_meta = meta.unionByName(meta_delta).agg(
        F.sum("n_docs").cast("long").alias("n_docs")
    )
    purged = _search_from((tf2, dl2, merged_meta), spark)
    rebuilt = _search_from(
        bm25_postings(docs.where(~F.col("doc_id").isin(1, 4))), spark
    )
    assert purged == rebuilt  # the true equivalence the oracle pins
    assert not any(d in (1, 4) for _, d in purged)  # direct leak closed
    # query 'join' still answers (docs 2/3 contain no 'join': BM25
    # returns no rows for it — the honest empty posting list)
    assert {q for q, _ in purged} == {1}


@pytest.mark.slow
def test_stale_meta_shifts_every_idf(spark):
    """The easiest takedown bug — purge tf/dl but forget n_docs — must
    be visible: with the stale 4-doc meta every surviving score
    differs from the rebuilt store's."""
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    forgotten = spark.createDataFrame([(1,), (4,)], "doc_id long")
    tf, dl, meta = bm25_postings(docs)
    tf2, dl2, _ = postings_takedown(tf, dl, forgotten)
    stale = _search_from((tf2, dl2, meta), spark)  # meta NOT compensated
    rebuilt = _search_from(
        bm25_postings(docs.where(~F.col("doc_id").isin(1, 4))), spark
    )
    assert set(stale) == set(rebuilt)  # same rows ...
    assert all(stale[k][0] != rebuilt[k][0] for k in rebuilt)  # ... all scores wrong


def test_meta_delta_counts_only_docs_present_in_store(spark):
    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    tf, dl, _ = bm25_postings(docs)
    ghost_request = spark.createDataFrame(
        [(1,), (999,), (1000,)], "doc_id long"
    )  # 999/1000 were never ingested: must contribute 0
    _, _, meta_delta = postings_takedown(tf, dl, ghost_request)
    assert meta_delta.collect()[0].n_docs == -1


# ---------------------------------------------------------------------------
# sum-fold card store takedown (re-fold the touched batch)
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_refold_card_takedown_equals_rebuild_and_naive_drop_does_not(spark, tmp_path):
    """PLANS.md "Sum-fold stores are takedown-INCAPABLE": the honest
    takedown is a re-fold of the TOUCHED batch from its survivors —
    untouched batches' partial rows come back byte-verbatim — and the
    folded card equals the survivor rebuild. The naive purge (drop the
    touched batch's partials without recomputing) loses that batch's
    survivors and must NOT equal the rebuild."""
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        corpus_datacard_merge,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming.datacard import (
        append_card_partials,
        read_datacard,
        refold_card_takedown,
    )

    rows = [
        (b * 10 + i, f"doc {b} {i} " + "tok " * (3 + i), ["en", "fr"][i % 2], f"s{b}", b)
        for b in range(3)
        for i in range(4)
    ]
    schema = "doc_id long, text string, lang string, source string, batch_id long"
    admitted = spark.createDataFrame(rows, schema)
    store = str(tmp_path / "card")
    for b in range(3):
        append_card_partials(
            admitted.where(F.col("batch_id") == b).drop("batch_id"), b, store
        )
    pre = {
        sub: {tuple(r) for r in spark.read.parquet(f"{store}/{sub}").collect()}
        for sub in ("scalars", "langs", "sources", "hll")
    }

    td = spark.createDataFrame([(11,), (12,)], "doc_id long")  # batch 1 only
    refold_card_takedown(admitted, td, store)

    # untouched batches' partial rows byte-verbatim; batch 1 recomputed
    for sub in ("scalars", "langs", "sources", "hll"):
        got = {tuple(r) for r in spark.read.parquet(f"{store}/{sub}").collect()}
        assert {t for t in got if t[0] != 1} == {t for t in pre[sub] if t[0] != 1}, sub
        assert {t for t in got if t[0] == 1} != {t for t in pre[sub] if t[0] == 1}, sub

    survivors = admitted.where(~F.col("doc_id").isin(11, 12)).drop("batch_id")
    want = {r.metric: r.value for r in corpus_datacard_merge(survivors).collect()}
    got = {r.metric: r.value for r in read_datacard(spark, store).collect()}
    assert got == want
    assert got["n_docs"] == 10.0

    # the naive purge: drop batch 1's partials entirely — the fold now
    # reports 8 docs (batch 1's two SURVIVORS vanished with it)
    naive = str(tmp_path / "naive")
    for sub in ("scalars", "langs", "sources", "hll"):
        spark.read.parquet(f"{store}/{sub}").where(
            F.col("batch_id") != 1
        ).write.parquet(f"{naive}/{sub}")
    naive_card = {r.metric: r.value for r in read_datacard(spark, naive).collect()}
    assert naive_card != want
    assert naive_card["n_docs"] == 8.0


@pytest.mark.slow
def test_graph_takedown_repair_equals_survivor_rebuild(spark, bridge_emb, bridge_edges):
    """The localization theorem behind sim_graph_takedown_repair: only
    node 3 holds an edge into the forgotten bridge 0, so repair must
    recompute EXACTLY node 3's list (backfilling 3 -> {2, 1} over the
    survivors) and keep every other node's stored list verbatim — and
    the result must equal a from-scratch kNN rebuild on survivors."""
    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        graph_takedown_repair,
    )

    forgotten = spark.createDataFrame([(0,)], "vec_id long")
    repaired = {
        (r.query_id, r.neighbor_id)
        for r in graph_takedown_repair(bridge_edges, forgotten, bridge_emb, k_graph=2).collect()
    }
    survivors = bridge_emb.where(F.col("vec_id") != 0)
    rebuilt = {
        (r.query_id, r.neighbor_id)
        for r in topk_grid(survivors, survivors, k=2)
        .select("query_id", "neighbor_id")
        .collect()
    }
    assert repaired == rebuilt
    # the backfill itself: 3 lost 3->0 and gained 3->1 next to 3->2
    assert {(3, 2), (3, 1)} <= repaired
    # untouched lists verbatim (e.g. cluster B never saw the bridge)
    stored = {(r.query_id, r.neighbor_id) for r in bridge_edges.collect()}
    for u in (1, 2, 5, 6, 7):
        assert {p for p in repaired if p[0] == u} == {p for p in stored if p[0] == u}


@pytest.mark.slow
def test_graph_takedown_repair_edge_cases(spark, bridge_emb, bridge_edges):
    """Identity and degenerate shapes, mirroring cluster_takedown's
    edge tests: empty takedown = byte-identical store; forgetting a
    node NO list points at (every node's edges survive untouched and
    nothing is recomputed); forgetting everything = empty graph."""
    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        graph_takedown_repair,
    )

    stored = {(r.query_id, r.neighbor_id) for r in bridge_edges.collect()}

    # empty takedown -> identity
    td_empty = spark.createDataFrame([], "vec_id long")
    got = {
        (r.query_id, r.neighbor_id)
        for r in graph_takedown_repair(bridge_edges, td_empty, bridge_emb, k_graph=2).collect()
    }
    assert got == stored

    # unknown id (no node, no edges) -> identity
    td_miss = spark.createDataFrame([(999,)], "vec_id long")
    got = {
        (r.query_id, r.neighbor_id)
        for r in graph_takedown_repair(bridge_edges, td_miss, bridge_emb, k_graph=2).collect()
    }
    assert got == stored

    # node 6: in-edges exist (5->6, 7->6), so 5 and 7 are touched and
    # recompute over survivors; clusters stay internally consistent
    td6 = spark.createDataFrame([(6,)], "vec_id long")
    got = {
        (r.query_id, r.neighbor_id)
        for r in graph_takedown_repair(bridge_edges, td6, bridge_emb, k_graph=2).collect()
    }
    surv = bridge_emb.where(F.col("vec_id") != 6)
    want = {
        (r.query_id, r.neighbor_id)
        for r in topk_grid(surv, surv, k=2).select("query_id", "neighbor_id").collect()
    }
    assert got == want and not any(6 in p for p in got)

    # forget the whole corpus -> empty edge table
    td_all = bridge_emb.select("vec_id")
    assert graph_takedown_repair(bridge_edges, td_all, bridge_emb, k_graph=2).count() == 0


# ---------------------------------------------------------------------------
# randomized equivalence sweeps — the crafted geometries above pin the
# named failure modes; these pin the same contracts on seeded random
# corpora (tie patterns, hub tokens, empty-survivor slices the hand
# geometry can't reach)
# ---------------------------------------------------------------------------


@pytest.mark.slow
@pytest.mark.parametrize("seed", [7, 19, 43])
def test_postings_takedown_randomized_equals_rebuild(spark, seed):
    import random

    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(12)]  # small vocab -> heavy term overlap
    docs = spark.createDataFrame(
        [
            (i, " ".join(rng.choices(vocab, k=rng.randint(0, 9))))
            for i in range(30)
        ],
        "doc_id long, text string",
    )
    td_ids = rng.sample(range(30), 11)
    forgotten = spark.createDataFrame([(i,) for i in td_ids], "doc_id long")
    tf, dl, meta = bm25_postings(docs)
    tf2, dl2, meta_delta = postings_takedown(tf, dl, forgotten, admitted=docs)
    merged = meta.unionByName(meta_delta).agg(
        F.sum("n_docs").cast("long").alias("n_docs")
    )
    queries = [(0, "t0 t3"), (1, "t7"), (2, "t1 t2 t11")]
    purged = {
        (r.query_id, r.doc_id, r.score, r.rank)
        for r in bm25_search(None, queries, tf_df=tf2, dl_df=dl2, meta_df=merged).collect()
    }
    surv = docs.where(~F.col("doc_id").isin(*td_ids))
    rebuilt = {
        (r.query_id, r.doc_id, r.score, r.rank)
        for r in bm25_search(surv, queries).collect()
    }
    assert purged == rebuilt


@pytest.mark.slow
@pytest.mark.parametrize("seed", [5, 23])
def test_graph_takedown_repair_randomized_equals_rebuild(spark, seed):
    import random

    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        graph_takedown_repair,
    )

    rng = random.Random(seed)
    emb = spark.createDataFrame(
        [
            (i, [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(25)
        ],
        "vec_id long, embedding array<double>",
    )
    td_ids = rng.sample(range(25), 4)
    forgotten = spark.createDataFrame([(i,) for i in td_ids], "vec_id long")
    edges = topk_grid(emb, emb, k=4).select("query_id", "neighbor_id")
    repaired = {
        (r.query_id, r.neighbor_id)
        for r in graph_takedown_repair(edges, forgotten, emb, k_graph=4).collect()
    }
    surv = emb.where(~F.col("vec_id").isin(*td_ids))
    rebuilt = {
        (r.query_id, r.neighbor_id)
        for r in topk_grid(surv, surv, k=4).select("query_id", "neighbor_id").collect()
    }
    assert repaired == rebuilt
    assert not any(a in td_ids or b in td_ids for a, b in repaired)


def test_postings_takedown_empty_doc_counts_in_meta(spark):
    """The bug the randomized sweep caught: a forgotten ZERO-TOKEN doc
    has no dl row, but it IS in n_docs — with the admitted universe it
    must contribute -1; the dl fallback (documented as requiring
    no-empty-docs) silently counts 0 for it."""
    docs = spark.createDataFrame(
        [(1, "spark join"), (2, ""), (3, "sort merge")], "doc_id long, text string"
    )
    tf, dl, _ = bm25_postings(docs)
    forgotten = spark.createDataFrame([(2,)], "doc_id long")
    _, _, delta_exact = postings_takedown(tf, dl, forgotten, admitted=docs)
    assert delta_exact.collect()[0].n_docs == -1
    _, _, delta_fallback = postings_takedown(tf, dl, forgotten)
    assert delta_fallback.collect()[0].n_docs == 0  # the documented caveat


@pytest.mark.slow
@pytest.mark.parametrize("seed", [11, 31])
def test_refold_card_takedown_randomized_multibatch(spark, tmp_path, seed):
    """The registered refold row confines the takedown to one batch;
    this sweeps a random takedown spanning SEVERAL batches (including
    zero-token docs) and pins refold == rebuild-on-survivors."""
    import random

    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        corpus_datacard_merge,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming.datacard import (
        append_card_partials,
        read_datacard,
        refold_card_takedown,
    )

    rng = random.Random(seed)
    vocab = [f"v{i}" for i in range(15)]
    rows = [
        (
            i,
            " ".join(rng.choices(vocab, k=rng.randint(0, 6))),  # some empty
            rng.choice(["en", "fr", "de"]),
            rng.choice(["s0", "s1"]),
            i % 4,
        )
        for i in range(24)
    ]
    schema = "doc_id long, text string, lang string, source string, batch_id long"
    admitted = spark.createDataFrame(rows, schema)
    store = str(tmp_path / f"card{seed}")
    for b in range(4):
        append_card_partials(
            admitted.where(F.col("batch_id") == b).drop("batch_id"), b, store
        )
    td_ids = rng.sample(range(24), 7)  # spans multiple batches w.h.p.
    refold_card_takedown(
        admitted, spark.createDataFrame([(i,) for i in td_ids], "doc_id long"), store
    )
    got = {r.metric: r.value for r in read_datacard(spark, store).collect()}
    want = {
        r.metric: r.value
        for r in corpus_datacard_merge(
            admitted.where(~F.col("doc_id").isin(*td_ids)).drop("batch_id")
        ).collect()
    }
    assert got == want


def test_swap_rewrite_and_heal_crash_safety(spark, tmp_path):
    """store_swap (ADVICE r11 item 2): the survivor rows exist
    committed on disk at every instant of a rewrite. Three crash
    points simulated: (a) normal swap_rewrite leaves live = new rows
    and no swap dir; (b) a crash AFTER the swap committed but before
    the live overwrite (committed swap present) heals by restoring
    live from swap; (c) a crash DURING the swap write (no _SUCCESS)
    heals by discarding the garbage swap and leaving live untouched."""
    from calculate_file_content_size_for_vector_db_spark.streaming.store_swap import (
        heal_store,
        swap_rewrite,
    )

    live = str(tmp_path / "store")
    spark.createDataFrame([(1,), (2,), (3,)], "id long").write.parquet(live)

    # (a) normal rewrite: plan reads the live path it rewrites
    purged = spark.read.parquet(live).where("id <> 2")
    swap_rewrite(spark, live, purged)
    assert sorted(r.id for r in spark.read.parquet(live).collect()) == [1, 3]
    import os

    assert not os.path.exists(live + "__swap")

    # (b) crash between swap commit and live overwrite: committed swap
    # holds the TRUTH ({1}); live still holds the pre-crash rows
    spark.createDataFrame([(1,)], "id long").write.parquet(live + "__swap")
    assert heal_store(spark, live)  # restore happened
    assert sorted(r.id for r in spark.read.parquet(live).collect()) == [1]
    assert not os.path.exists(live + "__swap")

    # (c) crash during the swap write: an UNCOMMITTED swap (_SUCCESS
    # missing) is garbage; live is intact and must stay untouched
    os.makedirs(live + "__swap")
    with open(live + "__swap/part-00000.parquet", "w") as f:
        f.write("garbage")
    assert not heal_store(spark, live)
    assert sorted(r.id for r in spark.read.parquet(live).collect()) == [1]
    assert not os.path.exists(live + "__swap")
    # idempotent: healing with no swap present is a no-op
    assert not heal_store(spark, live)


def test_exists_answers_from_a_listing_without_spark_jobs(spark, spark_jobs, tmp_path):
    """The faces' store probe: True iff the path exists and holds a
    non-hidden entry (what spark.read.parquet can read), answered from
    a file-system listing, so probing runs no Spark job."""
    from calculate_file_content_size_for_vector_db_spark.streaming.store_swap import (
        _exists,
    )

    missing = str(tmp_path / "missing")
    empty = tmp_path / "empty"
    empty.mkdir()
    marker_only = tmp_path / "marker_only"
    marker_only.mkdir()
    (marker_only / "_SUCCESS").write_text("")
    (marker_only / "._SUCCESS.crc").write_text("")
    store = str(tmp_path / "store")
    spark.createDataFrame([(1,)], "id long").write.parquet(store)

    paths = (missing, str(empty), str(marker_only), store)
    got = {}
    jobs = spark_jobs(lambda: got.update({p: _exists(spark, p) for p in paths}))
    assert got == {missing: False, str(empty): False, str(marker_only): False, store: True}
    assert jobs == 0


@pytest.mark.slow
def test_postings_upsert_equals_rebuild_and_replay(spark):
    """postings_upsert (the lexical upsert verb, twin of ivf_upsert):
    re-ingest CHANGED docs 1 and 4 with new text, plus a brand-NEW doc
    5 in the same batch (upsert subsumes append). The merged store
    must serve exactly what a from-scratch index over the CURRENT
    corpus serves, the changed doc must be retrievable by its NEW
    terms and unretrievable by its old ones, and applying the same
    upsert twice must equal once (replay safety)."""
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        postings_upsert,
    )

    docs = spark.createDataFrame(_DOCS, "doc_id long, text string")
    batch = spark.createDataFrame(
        [
            (1, "shuffle exchange partition"),  # 'join' terms gone
            (4, "spark broadcast"),
            (5, "entirely new ingest doc"),
        ],
        "doc_id long, text string",
    )
    current = docs.where(~F.col("doc_id").isin(1, 4)).unionByName(batch)
    tf, dl, meta = bm25_postings(docs)
    admitted = docs.select("doc_id")

    def apply_upsert(tf_in, dl_in, meta_in, adm):
        tf2, dl2, mdelta = postings_upsert(tf_in, dl_in, batch, admitted=adm)
        merged_meta = meta_in.unionByName(mdelta).agg(
            F.sum("n_docs").cast("long").alias("n_docs")
        )
        return tf2, dl2, merged_meta

    once = apply_upsert(tf, dl, meta, admitted)
    got = _search_from(once, spark)
    rebuilt = _search_from(bm25_postings(current), spark)
    assert got == rebuilt  # upsert == rebuild-on-current-corpus
    # old terms of doc 1 no longer retrieve it ('join' now matches
    # nothing); its replacement text never contains a query term
    assert not any(d == 1 for _, d in got)
    # replay: the second upsert's admitted universe is the CURRENT one
    # (docs 1/4/5 all present in the store now)
    twice = apply_upsert(*once, current.select("doc_id"))
    assert _search_from(twice, spark) == got


@pytest.mark.slow
@pytest.mark.parametrize("seed", [3, 17])
def test_postings_upsert_randomized_equals_rebuild(spark, seed):
    """Randomized upsert sweep (the takedown sweep's re-ingest twin):
    a random batch mixing CHANGED existing docs (new random text,
    possibly empty — the zero-token edge the takedown sweep caught)
    and brand-new ids must leave the store serving exactly what a
    from-scratch index over the current corpus serves."""
    import random

    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        postings_upsert,
    )

    rng = random.Random(seed)
    vocab = [f"t{i}" for i in range(12)]

    def text():
        return " ".join(rng.choices(vocab, k=rng.randint(0, 9)))

    docs = spark.createDataFrame(
        [(i, text()) for i in range(30)], "doc_id long, text string"
    )
    changed_ids = rng.sample(range(30), 7)
    new_ids = [100, 101]
    batch = spark.createDataFrame(
        [(i, text()) for i in changed_ids + new_ids], "doc_id long, text string"
    )
    tf, dl, meta = bm25_postings(docs)
    tf2, dl2, mdelta = postings_upsert(tf, dl, batch, admitted=docs.select("doc_id"))
    merged = meta.unionByName(mdelta).agg(
        F.sum("n_docs").cast("long").alias("n_docs")
    )
    queries = [(0, "t0 t3"), (1, "t7"), (2, "t1 t2 t11")]
    got = {
        (r.query_id, r.doc_id, r.score, r.rank)
        for r in bm25_search(None, queries, tf_df=tf2, dl_df=dl2, meta_df=merged).collect()
    }
    current = docs.where(~F.col("doc_id").isin(*changed_ids)).unionByName(batch)
    rebuilt = {
        (r.query_id, r.doc_id, r.score, r.rank)
        for r in bm25_search(current, queries).collect()
    }
    assert got == rebuilt


@pytest.mark.parametrize("seed", [9, 31])
def test_ivf_upsert_randomized_equals_rebuild(spark, seed):
    """Randomized ivf_upsert sweep: a random batch of changed vectors
    (re-embedded as deterministic element permutations) plus new ids;
    the upserted assignment table must equal a from-scratch assignment
    of the current corpus against the same frozen centroids, and a
    replay of the same batch must change nothing."""
    import random

    from calculate_file_content_size_for_vector_db_spark.operators import similarity as sim
    from calculate_file_content_size_for_vector_db_spark.sources.io import read_table
    from tests.conftest import SF_DIR

    rng = random.Random(seed)
    emb = read_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    ids = [r.vec_id for r in emb.select("vec_id").orderBy("vec_id").limit(60).collect()]
    changed_ids = rng.sample(ids, 9)
    batch = (
        emb.where(F.col("vec_id").isin(*changed_ids))
        .select("vec_id", F.reverse("embedding").alias("embedding"))
    )
    cents = sim.ivf_centroids(emb).persist()
    store = sim.ivf_assign(emb)
    up1 = sim.ivf_upsert(store, batch, cents).persist()
    got = {(r.vec_id, r.cell, r.cell_cosine) for r in up1.collect()}
    current = emb.where(~F.col("vec_id").isin(*changed_ids)).unionByName(batch)
    rebuilt = {
        (r.vec_id, r.cell, r.cell_cosine)
        for r in sim.ivf_append_assign(current, cents).collect()
    }
    assert got == rebuilt  # upsert == rebuild-on-current-corpus
    replay = {
        (r.vec_id, r.cell, r.cell_cosine)
        for r in sim.ivf_upsert(up1, batch, cents).collect()
    }
    assert replay == got  # idempotent
    cents.unpersist()
    up1.unpersist()


@pytest.mark.slow
def test_takedown_face_drives_sum_fold_refolds(spark, tmp_path):
    """The takedown face's optional admitted_ledger hook (round 12):
    when the batch-tagged ledger is provided, ONE purge trigger also
    refolds the card/ and drift/ sum-fold stores — right-to-be-
    forgotten covers the observability stores in the same trigger as
    the serving stores. Pinned: both folds equal rebuilds on the
    survivor corpus, and replaying the trigger changes nothing."""
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        corpus_datacard_merge,
        drift_psi,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming.datacard import (
        append_card_partials,
        read_datacard,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming.drift import (
        append_drift_marginals,
        read_drift,
    )
    from calculate_file_content_size_for_vector_db_spark.streaming.upsert import (
        takedown_store_batch,
    )

    ledger = spark.createDataFrame(
        [
            (i, f"doc {i} body {'pad ' * (i % 4)}", ["en", "fr"][i % 2], f"s{i % 3}", i % 3)
            for i in range(18)
        ],
        "doc_id long, text string, lang string, source string, batch_id long",
    )
    store = str(tmp_path / "store")
    for b in range(3):
        batch = ledger.where(F.col("batch_id") == b).drop("batch_id")
        append_card_partials(batch, b, f"{store}/card")
        append_drift_marginals(batch, b, f"{store}/drift")
    base = ledger.drop("batch_id")  # frozen drift reference

    td_ids = [0, 4, 7]  # spans batches 0 and 1; batch 2 untouched
    reqs = spark.createDataFrame([(i,) for i in td_ids], "doc_id long")
    takedown_store_batch(reqs, 0, store, admitted_ledger=ledger)

    surv = ledger.where(~F.col("doc_id").isin(*td_ids)).drop("batch_id")
    got_card = {r.metric: r.value for r in read_datacard(spark, f"{store}/card").collect()}
    want_card = {r.metric: r.value for r in corpus_datacard_merge(surv).collect()}
    assert got_card == want_card
    got_drift = {tuple(r) for r in read_drift(spark, base, f"{store}/drift").collect()}
    want_drift = {tuple(r) for r in drift_psi(base, surv).collect()}
    assert got_drift == want_drift

    # replay the identical trigger: nothing changes
    takedown_store_batch(reqs, 0, store, admitted_ledger=ledger)
    assert {r.metric: r.value for r in read_datacard(spark, f"{store}/card").collect()} == want_card
    assert {tuple(r) for r in read_drift(spark, base, f"{store}/drift").collect()} == want_drift

# ---------------------------------------------------------------------------
# graph_upsert — the re-ingest verb for the graph store (round 12,
# late session; registration deferred to the round-13 budget). The
# bridge geometry makes the interesting motion readable: re-embedding
# the bridge node ACROSS the gap must rewire both clusters' lists
# exactly as a from-scratch rebuild would.
# ---------------------------------------------------------------------------


def _pairs(df):
    return {(r.query_id, r.neighbor_id) for r in df.collect()}


@pytest.mark.slow
def test_graph_upsert_equals_rebuild_bridge_motion(spark, bridge_emb, bridge_edges):
    """Move the bridge node 0 from 45deg into cluster B (86deg) and
    ingest a NEW node 8 inside cluster A (2deg), one batch. The upsert
    must equal the exact rebuild on the current corpus: node 0's own
    list re-anchors in B, node 3 (which held 3->0) backfills toward A,
    node 8's list materializes inside A, and A-side lists absorb 8."""
    batch = spark.createDataFrame(
        [(0, _vec(86.0)), (8, _vec(2.0))], "vec_id long, embedding array<double>"
    )
    up = graph_upsert(bridge_edges, batch, bridge_emb, k_graph=2)
    current = bridge_emb.where(~F.col("vec_id").isin(0)).unionByName(batch)
    rebuilt = topk_grid(current, current, k=2).select("query_id", "neighbor_id")
    got = _pairs(up)
    assert got == _pairs(rebuilt)
    # the readable motions: 0 now lives between 6@84 and 7@88;
    # 8@2 slots between 1@0 and 2@4; 1 prefers {8@2, 2@4} over 3@30
    assert {p for p in got if p[0] == 0} == {(0, 6), (0, 7)}
    assert {p for p in got if p[0] == 8} == {(8, 1), (8, 2)}
    assert {p for p in got if p[0] == 1} == {(1, 8), (1, 2)}


def test_graph_upsert_empty_batch_is_identity(spark, bridge_emb, bridge_edges):
    """Edge input: an empty batch leaves the stored lists verbatim
    (purge and insertion drop nothing, batch lists are empty) — valid
    because the store is an exact k_graph-list per node, which the
    re-truncation window reproduces unchanged."""
    empty = spark.createDataFrame([], "vec_id long, embedding array<double>")
    up = graph_upsert(bridge_edges, empty, bridge_emb, k_graph=2)
    assert _pairs(up) == _pairs(bridge_edges)


@pytest.mark.slow
def test_graph_upsert_replay_idempotent(spark, bridge_emb, bridge_edges):
    """Upserting the same batch twice == once. The second pass runs
    against the CURRENT corpus (survivors + the batch's new vectors) —
    the store and corpus a production re-delivery would see."""
    batch = spark.createDataFrame(
        [(0, _vec(86.0))], "vec_id long, embedding array<double>"
    )
    once = graph_upsert(bridge_edges, batch, bridge_emb, k_graph=2)
    current = bridge_emb.where(F.col("vec_id") != 0).unionByName(batch)
    twice = graph_upsert(once, batch, current, k_graph=2)
    assert _pairs(twice) == _pairs(once)


@pytest.mark.parametrize("seed", [13, 37])
def test_graph_upsert_randomized_equals_rebuild(spark, seed):
    """Randomized sweep on fixture embeddings: a random batch of
    re-embedded existing nodes PLUS brand-new ids (upsert subsumes
    append) must equal the exact kNN rebuild on the current corpus —
    including the survivor lists the batch merely brushes past."""
    import random

    from calculate_file_content_size_for_vector_db_spark.sources.io import read_table
    from tests.conftest import SF_DIR

    rng = random.Random(seed)
    emb60 = read_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    ids = sorted(r.vec_id for r in emb60.select("vec_id").limit(60).collect())
    base_ids, new_ids = ids[:50], rng.sample(ids[50:], 3)
    base = emb60.where(F.col("vec_id").isin(*base_ids))
    changed_ids = rng.sample(base_ids, 5)
    batch = emb60.where(F.col("vec_id").isin(*(changed_ids + new_ids))).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    store = topk_grid(base, base, k=4).select("query_id", "neighbor_id")
    up = graph_upsert(store, batch, base, k_graph=4)
    current = base.where(~F.col("vec_id").isin(*changed_ids)).unionByName(batch)
    rebuilt = topk_grid(current, current, k=4).select("query_id", "neighbor_id")
    assert _pairs(up) == _pairs(rebuilt)

def test_graph_upsert_whole_corpus_reembedding_equals_fresh_build(spark, bridge_emb, bridge_edges):
    """The batch == corpus limit (a model upgrade re-embeds
    EVERYTHING): upsert must degrade gracefully to a fresh build —
    the survivor graph is empty, every list comes from the batch
    legs, and the output equals topk_grid over the new vectors alone."""
    rotated = bridge_emb.select(
        "vec_id",
        F.array(F.element_at("embedding", 2) * -1.0, F.element_at("embedding", 1)).alias(
            "embedding"
        ),
    )
    up = graph_upsert(bridge_edges, rotated, bridge_emb, k_graph=2)
    rebuilt = topk_grid(rotated, rotated, k=2).select("query_id", "neighbor_id")
    assert _pairs(up) == _pairs(rebuilt)
    # a global rotation preserves all pairwise angles: the fresh build
    # equals the original stored graph, making the check readable
    assert _pairs(up) == _pairs(bridge_edges)


# ---------------------------------------------------------------------------
# graph_upsert_ivf — the 100-TB form of the graph upsert (round 13):
# cell-pruned candidate generation end-to-end, pinned == knn_graph_ivf
# rebuilt over the current corpus against the frozen quantizer.
# ---------------------------------------------------------------------------


def _ivf_store(spark, base):
    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        ivf_assign,
        ivf_centroids,
        knn_graph_ivf,
    )

    cents = ivf_centroids(base).persist()
    assign = ivf_assign(base).persist()
    edges = knn_graph_ivf(base, k_graph=4, assign=assign, centroids=cents).persist()
    return cents, assign, edges


def _ivf_rebuild(current, batch, assign, cents):
    """The from-scratch IVF graph over the current corpus: stored
    survivor assignment + the batch's frozen-centroid re-assignment,
    self-graph candidates — the declarative truth the upsert must hit."""
    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        ivf_append_assign,
        knn_graph_ivf,
    )

    cur_assign = (
        assign.select("vec_id", "cell")
        .join(batch.select("vec_id"), "vec_id", "left_anti")
        .unionByName(ivf_append_assign(batch, cents).select("vec_id", "cell"))
    )
    return knn_graph_ivf(current, k_graph=4, assign=cur_assign, centroids=cents)


@pytest.mark.slow
@pytest.mark.parametrize("seed", [13, 37])
def test_graph_upsert_ivf_randomized_equals_ivf_rebuild(spark, seed):
    """Random re-embedded nodes + brand-new ids against a stored
    IVF-built graph: graph_upsert_ivf's localized recompute (edge-
    touched survivors + probe-cells-gaining-a-member survivors) must
    equal the full knn_graph_ivf rebuild on the current corpus —
    including survivors kept verbatim, whose probe-cell membership
    the batch did not touch."""
    import random

    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        graph_upsert_ivf,
    )
    from calculate_file_content_size_for_vector_db_spark.sources.io import read_table
    from tests.conftest import SF_DIR

    rng = random.Random(seed)
    emb60 = read_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding")
    ids = sorted(r.vec_id for r in emb60.select("vec_id").limit(60).collect())
    base_ids, new_ids = ids[:50], rng.sample(ids[50:], 3)
    base = emb60.where(F.col("vec_id").isin(*base_ids))
    changed_ids = rng.sample(base_ids, 5)
    batch = emb60.where(F.col("vec_id").isin(*(changed_ids + new_ids))).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    cents, assign, edges = _ivf_store(spark, base)
    up = graph_upsert_ivf(edges, batch, base, assign, cents, k_graph=4)
    current = base.where(~F.col("vec_id").isin(*changed_ids)).unionByName(batch)
    rebuilt = _ivf_rebuild(current, batch, assign, cents)
    assert {tuple(r) for r in up.collect()} == {tuple(r) for r in rebuilt.collect()}


@pytest.mark.slow
def test_graph_upsert_ivf_empty_batch_is_identity(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        graph_upsert_ivf,
    )
    from calculate_file_content_size_for_vector_db_spark.sources.io import read_table
    from tests.conftest import SF_DIR

    base = read_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding").limit(40)
    cents, assign, edges = _ivf_store(spark, base)
    empty = spark.createDataFrame([], "vec_id long, embedding array<float>")
    up = graph_upsert_ivf(edges, empty, base, assign, cents, k_graph=4)
    assert {tuple(r) for r in up.collect()} == {tuple(r) for r in edges.collect()}


@pytest.mark.slow
def test_graph_upsert_ivf_replay_idempotent(spark):
    """The same batch twice == once; the second pass sees the upserted
    edge store (and, as in production, unchanged survivor stores — the
    anti-joins make the stale batch rows invisible either way)."""
    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        graph_upsert_ivf,
    )
    from calculate_file_content_size_for_vector_db_spark.sources.io import read_table
    from tests.conftest import SF_DIR

    base = read_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding").limit(40)
    ids = sorted(r.vec_id for r in base.select("vec_id").collect())
    batch = base.where(F.col("vec_id").isin(*ids[:4])).select(
        "vec_id", F.reverse("embedding").alias("embedding")
    )
    cents, assign, edges = _ivf_store(spark, base)
    once = graph_upsert_ivf(edges, batch, base, assign, cents, k_graph=4).persist()
    twice = graph_upsert_ivf(once, batch, base, assign, cents, k_graph=4)
    assert {tuple(r) for r in twice.collect()} == {tuple(r) for r in once.collect()}


def test_graph_upsert_ivf_rejects_two_column_edge_store(spark):
    """ADVICE r13 (low): a caller migrating graph_upsert's documented
    2-column (src, dst) store must get a descriptive entry-time error
    naming the missing cosine column, not an unresolved-column failure
    deep in leg 2's re-truncation plan."""
    import pytest as _pytest

    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        graph_upsert_ivf,
    )
    from calculate_file_content_size_for_vector_db_spark.sources.io import read_table
    from tests.conftest import SF_DIR

    base = read_table(spark, SF_DIR, "embeddings").select("vec_id", "embedding").limit(40)
    cents, assign, edges = _ivf_store(spark, base)
    batch = base.limit(2)
    two_col = edges.select("query_id", "neighbor_id")
    with _pytest.raises(ValueError, match="cosine"):
        graph_upsert_ivf(two_col, batch, base, assign, cents, k_graph=4)
