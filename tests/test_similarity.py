"""Unit tests for similarity operators on crafted vectors."""

import math

import pytest

from calculate_file_content_size_for_vector_db_spark.operators import similarity as sim


def _emb(spark, rows):
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def _pad(v, dim=64):
    return v + [0.0] * (dim - len(v))


def test_topk_exact_ordering(spark):
    rows = [
        (0, _pad([1.0, 0.0])),       # query
        (1, _pad([1.0, 0.0])),       # identical -> cosine 1
        (2, _pad([1.0, 1.0])),       # 45 degrees -> ~0.7071
        (3, _pad([0.0, 1.0])),       # orthogonal -> 0
        (4, _pad([-1.0, 0.0])),      # opposite -> -1
    ]
    df = _emb(spark, rows)
    got = sim.topk_bruteforce(df, df.where("vec_id = 0"), k=3).collect()
    assert [(r.neighbor_id, r.rank) for r in got] == [(1, 1), (2, 2), (3, 3)]
    assert got[0].cosine == 1.0
    assert abs(got[1].cosine - round(1 / math.sqrt(2), 6)) < 1e-9


def test_nearest_neighbor_symmetric_pair(spark):
    rows = [(0, _pad([1.0, 0.1])), (1, _pad([1.0, 0.11])), (2, _pad([0.0, 1.0]))]
    df = _emb(spark, rows)
    nn = {r.query_id: r.neighbor_id for r in sim.nearest_neighbor(df).collect()}
    assert nn[0] == 1 and nn[1] == 0


def test_lsh_same_vector_same_bucket(spark):
    rows = [(0, _pad([0.5, -0.25, 0.125])), (1, _pad([0.5, -0.25, 0.125])), (2, _pad([-3.0, 2.0, -1.0]))]
    df = _emb(spark, rows)
    b = {r.vec_id: r.bucket for r in sim.lsh_buckets(df).collect()}
    assert b[0] == b[1]
    assert 0 <= b[0] < 2**sim.N_PLANES


def test_topk_lsh_subset_of_exact(spark):
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(50)]
    df = _emb(spark, rows)
    q = df.where("vec_id < 3")
    exact = {(r.query_id, r.neighbor_id) for r in sim.topk_bruteforce(df, q, k=5).collect()}
    ann = {(r.query_id, r.neighbor_id) for r in sim.topk_lsh(df, q, k=5).collect()}
    # ANN returns same-bucket candidates ranked exactly; every ANN hit
    # must be a real vector pair and bucket-consistent (subset not
    # guaranteed vs exact top-5, but each query returns <= 5)
    assert all(qid < 3 for qid, _ in ann)
    per_q = {}
    for qid, nid in ann:
        per_q.setdefault(qid, set()).add(nid)
    assert all(len(v) <= 5 for v in per_q.values())
    assert len(exact) == 15


def test_kmeans_ivf_separates_obvious_clusters(spark):
    # two tight direction-clusters, ids interleaved so the first-k init
    # seeds both; Lloyd rounds must keep them in disjoint cells
    rows = []
    for i in range(10):
        rows.append((2 * i, _pad([10.0 + i * 0.01, 0.1])))      # even ids: ~x-axis
        rows.append((2 * i + 1, _pad([0.1, 10.0 + i * 0.01])))  # odd ids: ~y-axis
    df = _emb(spark, rows)
    assign = {r.vec_id: r.cell for r in sim.ivf_assign(df, k=2, iters=3).collect()}
    cells_a = {assign[2 * i] for i in range(10)}
    cells_b = {assign[2 * i + 1] for i in range(10)}
    assert len(cells_a) == 1 and len(cells_b) == 1
    assert cells_a.isdisjoint(cells_b)


def test_kmeans_ivf_deterministic(spark):
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(40)]
    df = _emb(spark, rows)
    a = sorted((r.cell, tuple(r.centroid)) for r in sim.ivf_centroids(df, k=4, iters=2).collect())
    b = sorted((r.cell, tuple(r.centroid)) for r in sim.ivf_centroids(df, k=4, iters=2).collect())
    assert a == b


def test_topk_grid_matches_bruteforce(spark):
    import random

    rng = random.Random(3)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(60)]
    df = _emb(spark, rows)
    q = df.where("vec_id < 5")
    exact = {(r.query_id, r.neighbor_id, r.rank) for r in sim.topk_bruteforce(df, q, k=3).collect()}
    grid = {(r.query_id, r.neighbor_id, r.rank) for r in sim.topk_grid(df, q, k=3).collect()}
    assert grid == exact


def test_multiprobe_recall_superset_of_single_probe(spark):
    import random

    rng = random.Random(5)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(80)]
    df = _emb(spark, rows)
    q = df.where("vec_id < 4")
    single = {(r.query_id, r.neighbor_id) for r in sim.topk_lsh(df, q, k=5).collect()}
    multi = {(r.query_id, r.neighbor_id) for r in sim.topk_lsh_multiprobe(df, q, k=5).collect()}
    # multi-probe candidates strictly contain single-probe candidates,
    # so per-query hit counts can only grow
    def per_q(s):
        d = {}
        for qid, nid in s:
            d.setdefault(qid, set()).add(nid)
        return d
    ps, pm = per_q(single), per_q(multi)
    for qid, hits in ps.items():
        assert len(pm.get(qid, set())) >= len(hits)


def test_pq_codes_shape_and_range(spark):
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(24)]
    df = _emb(spark, rows)
    got = sim.pq_encode(df).collect()
    assert len(got) == 24
    for r in got:
        assert len(r.codes) == sim.PQ_SUBS
        assert all(0 <= c < sim.PQ_CODES for c in r.codes)


def test_pq_identical_vectors_collide_and_rank_first(spark):
    import random

    rng = random.Random(13)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(2, 22)]
    twin = [rng.uniform(-1, 1) for _ in range(64)]
    rows += [(0, list(twin)), (1, list(twin))]
    df = _emb(spark, rows)
    codes = {r.vec_id: tuple(r.codes) for r in sim.pq_encode(df).collect()}
    # identical inputs quantize to identical codes
    assert codes[0] == codes[1]
    # ADC distance to the twin = the query's own quantization error
    # (per-sub distance to its NEAREST codeword) — the minimum any
    # neighbor can achieve, so the twin ranks first
    top = sim.pq_topk(df, df.where("vec_id = 0"), topk=1).collect()
    assert [(r.query_id, r.neighbor_id, r.rank) for r in top] == [(0, 1, 1)]
    assert top[0].adist >= 0.0


def test_pq_topk_and_codebooks_share_one_training_path(spark):
    import random

    rng = random.Random(17)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(20)]
    df = _emb(spark, rows)
    # pq_codebooks and the codebooks implied by pq_encode's assignment
    # come from the same _pq_train: every emitted code must exist in
    # the returned codebook table (same (sub, code) domain)
    cb = {(r.sub, r.code) for r in sim.pq_codebooks(df).collect()}
    for r in sim.pq_encode(df).collect():
        for sub, code in enumerate(r.codes):
            assert (sub, code) in cb


@pytest.mark.slow
def test_ivfpq_candidates_are_cell_restricted(spark):
    import random

    rng = random.Random(19)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(60)]
    df = _emb(spark, rows)
    q = df.where("vec_id < 4")
    cells = {r.vec_id: r.cell for r in sim.ivf_assign(df).collect()}
    got = sim.topk_ivfpq(df, q, topk=5).collect()
    assert got, "ivfpq returned nothing"
    for r in got:
        # every returned neighbor shares the query's IVF cell and is
        # not the query itself
        assert r.neighbor_id != r.query_id
        assert cells[r.neighbor_id] == cells[r.query_id]
        assert 1 <= r.rank <= 5


def test_semantic_dedup_pq_groups_twins(spark):
    import random

    rng = random.Random(23)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(2, 20)]
    twin = [rng.uniform(-1, 1) for _ in range(64)]
    rows += [(0, list(twin)), (1, list(twin))]
    df = _emb(spark, rows)
    groups = sim.semantic_dedup_pq(df).collect()
    # the identical pair must land in one bucket with the smaller id
    # as keeper; every reported group is a genuine multi-member bucket
    twin_groups = [g for g in groups if g.keeper_id == 0]
    assert len(twin_groups) == 1 and twin_groups[0].dup_count >= 2
    assert all(g.dup_count > 1 for g in groups)


@pytest.mark.slow
def test_ivfpq_multiprobe_recall_monotone(spark):
    import random

    rng = random.Random(29)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(80)]
    df = _emb(spark, rows)
    q = df.where("vec_id < 4")

    def per_q(res):
        d = {}
        for r in res:
            d.setdefault(r.query_id, set()).add(r.neighbor_id)
        return d

    p1 = per_q(sim.topk_ivfpq(df, q, topk=5, probes=1).collect())
    p2 = per_q(sim.topk_ivfpq(df, q, topk=5, probes=2).collect())
    # probing a second cell only ADDS candidates, so per-query hit
    # counts can't shrink; every probe-1 candidate set lives inside
    # the query's top-1 cell which probe-2 also searches
    for qid, hits in p1.items():
        assert len(p2.get(qid, set())) >= len(hits)


def test_pq_sampled_training_still_encodes_everything(spark):
    import random

    rng = random.Random(31)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(40)]
    df = _emb(spark, rows)
    # train the codebooks on a quarter of the corpus (the 100-TB mode)
    sample = df.where("vec_id % 4 = 0")
    got = sim.pq_encode(df, train_df=sample).collect()
    # every vector still gets codes, all within the codebook domain
    assert len(got) == 40
    cb = {(r.sub, r.code) for r in sim.pq_codebooks(df, train_df=sample).collect()}
    for r in got:
        for sub, code in enumerate(r.codes):
            assert (sub, code) in cb


def test_binary_sketch_words_and_twin_rank(spark):
    import random

    rng = random.Random(37)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(2, 30)]
    twin = [rng.uniform(-1, 1) for _ in range(64)]
    rows += [(0, list(twin)), (1, list(twin))]
    df = _emb(spark, rows)
    sk = {r.vec_id: (r.sk_lo, r.sk_hi) for r in sim.binary_sketches(df).collect()}
    # 32-bit words, never touching the sign bit
    assert all(0 <= lo < 2**32 and 0 <= hi < 2**32 for lo, hi in sk.values())
    assert sk[0] == sk[1]  # identical vectors -> identical sketch
    # the twin is Hamming-0, survives the rerank cut, and wins on
    # exact cosine
    top = sim.topk_binary(df, df.where("vec_id = 0"), k=1).collect()
    assert [(r.query_id, r.neighbor_id, r.rank) for r in top] == [(0, 1, 1)]
    assert top[0].cosine == 1.0


def test_recall_vs_exact_arithmetic(spark):
    exact = spark.createDataFrame(
        [(0, 1), (0, 2), (0, 3), (1, 4), (1, 5), (1, 6)],
        "query_id long, neighbor_id long",
    )
    approx = spark.createDataFrame(
        [(0, 1), (0, 9), (1, 4), (1, 5), (1, 8)],
        "query_id long, neighbor_id long",
    )
    row = sim.recall_vs_exact(exact, approx).collect()[0]
    # hits: (0,1), (1,4), (1,5) -> 3 of 6; approx-only pairs don't count
    assert (row.n_exact, row.n_hits, row.recall) == (6, 3, 0.5)


@pytest.mark.slow
def test_recall_fixture_goldens(spark):
    """Recall@10 of every registered approximate tier, pinned against
    the deterministic sf0.001 fixture (the values the driver's oracle
    also hash-verifies). Notable: 2-probe recall sits BELOW single-probe
    here — a superset candidate set can displace true hits from the
    ADC top-10 (ADC scores are approximations), so recall is NOT
    monotone in probes even though the candidate set is (that superset
    property is pinned in test_ivfpq_multiprobe_recall_monotone).
    """
    from calculate_file_content_size_for_vector_db_spark.entry_queries import REGISTRY
    from tests.conftest import SF_DIR

    golden = {
        "pq_recall_at_10": 0.20,
        "ivfpq_recall_at_10": 0.30,
        "ivfpq_probe2_recall_at_10": 0.25,
        "binary_recall_at_10": 0.52,
    }
    got = {}
    for name, want in golden.items():
        row = REGISTRY[name].fn(spark, SF_DIR).collect()[0]
        assert row.n_exact == 100  # 10 queries x k=10, brute force always full
        assert 0.0 <= row.recall <= 1.0
        assert row.recall == round(row.n_hits / row.n_exact, 6)
        got[name] = row.recall
        assert row.recall == want, f"{name}: recall {row.recall} != golden {want}"
    # the exact-cosine rerank stage makes the binary tier the accuracy
    # ceiling of the compressed paths on this corpus
    assert got["binary_recall_at_10"] >= got["pq_recall_at_10"]


def test_pq_encode_in_cache_scope_caches_nothing(spark):
    import random

    from calculate_file_content_size_for_vector_db_spark.session import cache_scope, release_cache

    rng = random.Random(41)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(30)]
    df = _emb(spark, rows)
    release_cache(spark)
    baseline = sim.pq_encode(df).collect()
    release_cache(spark)
    # collected inside a scope: identical result, zero cache residency
    # afterwards (how a long-lived library session stays clean)
    with cache_scope(spark):
        got = sim.pq_encode(df).collect()
    assert sorted(map(tuple, got)) == sorted(map(tuple, baseline))
    jsm = spark._jsparkSession.sharedState().cacheManager()
    assert jsm.isEmpty(), "cache_scope must leave no cached plans behind"


def test_knn_graph_matches_bruteforce(spark):
    import random

    rng = random.Random(43)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(60)]
    df = _emb(spark, rows)
    grid = {
        (r.query_id, r.rank): r.neighbor_id
        for r in sim.topk_grid(df, df, k=3).collect()
    }
    brute = {
        (r.query_id, r.rank): r.neighbor_id
        for r in sim.topk_bruteforce(df, df, k=3).collect()
    }
    assert grid == brute
    assert len({q for q, _ in grid}) == 60  # an edge list for EVERY vector


@pytest.mark.slow
def test_candidate_pruned_recall_monotone_and_goldens(spark):
    """For candidate-pruned EXACT search (LSH/IVF tiers), more probes
    can only add candidates that score by true cosine, so recall IS
    monotone (unlike the ADC tiers). Goldens pinned at sf0.001; LSH
    sits near zero there because 16 planes over ~50 vectors leave
    buckets mostly singleton — exactly the signal a user tunes
    n_planes with."""
    from calculate_file_content_size_for_vector_db_spark.entry_queries import REGISTRY
    from tests.conftest import SF_DIR

    golden = {
        "lsh_recall_at_10": 0.02,
        "lsh_multiprobe_recall_at_10": 0.06,
        "ivf_recall_at_10": 0.73,
    }
    got = {}
    for name, want in golden.items():
        row = REGISTRY[name].fn(spark, SF_DIR).collect()[0]
        assert row.n_exact == 100
        got[name] = row.recall
        assert row.recall == want, f"{name}: recall {row.recall} != golden {want}"
    assert got["lsh_multiprobe_recall_at_10"] >= got["lsh_recall_at_10"]


def test_triplet_mining_picks_same_and_cross_label_nearest(spark):
    rows = [
        (0, _pad([1.0, 0.0]), 1),    # anchor, label 1
        (1, _pad([0.9, 0.1]), 1),    # same label, very close -> positive
        (2, _pad([0.0, 1.0]), 1),    # same label, far
        (3, _pad([0.95, 0.05]), 2),  # other label, closest -> hard negative
        (4, _pad([-1.0, 0.0]), 2),   # other label, far
        (5, _pad([0.5, 0.5]), 3),    # lone label: never a positive source
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    got = {r.anchor_id: r for r in sim.mine_triplets(df, df.where("vec_id = 0")).collect()}
    t = got[0]
    assert t.positive_id == 1 and t.negative_id == 3
    assert t.pos_cosine > 0.99 and t.neg_cosine > 0.99
    # an anchor whose label has no second member yields no triplet
    lone = sim.mine_triplets(df, df.where("vec_id = 5")).collect()
    assert lone == []


def test_matryoshka_rerank_monotone_and_golden(spark):
    """The matryoshka tier is candidate-pruned EXACT search (prefix
    cosine only shortlists; final scores are full-dim cosine), so a
    larger rerank multiplier gives a candidate superset and recall is
    monotone — same guarantee as the LSH/IVF tiers. Golden pinned at
    sf0.001 (rerank=4: the registered query's value)."""
    from calculate_file_content_size_for_vector_db_spark.entry_queries import REGISTRY
    from calculate_file_content_size_for_vector_db_spark.sources.io import read_table
    from tests.conftest import SF_DIR

    row = REGISTRY["matryoshka_recall_at_10"].fn(spark, SF_DIR).collect()[0]
    assert row.n_exact == 100
    assert row.recall == 0.46

    emb = read_table(spark, SF_DIR, "embeddings")
    q = emb.where("vec_id < 10")
    exact = sim.topk_bruteforce(emb, q, k=10)
    recalls = {
        rr: sim.recall_vs_exact(exact, sim.topk_matryoshka(emb, q, k=10, rerank=rr))
        .collect()[0]
        .recall
        for rr in (1, 2, 8)
    }
    assert recalls[1] <= recalls[2] <= 0.46 <= recalls[8]
    # rerank=1 degenerates to pure prefix ranking; full-dim rerank must help
    assert recalls[8] > recalls[1]


def test_matryoshka_topk_exact_when_shortlist_covers_corpus(spark):
    """With rerank * k >= corpus size the shortlist is everything and
    the result must equal brute force exactly."""
    rows = [(i, _pad([float((i * 7 + j * 3) % 5 - 2) / 4.0 for j in range(2)])) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    q = df.where("vec_id < 3")
    got = sorted(map(tuple, sim.topk_matryoshka(df, q, k=3, rerank=8).collect()))
    want = sorted(map(tuple, sim.topk_bruteforce(df, q, k=3).collect()))
    assert got == want


def test_dim_stats_profile(spark):
    rows = [
        (0, [1.0, 0.0, 2.0] + [0.0] * 61),
        (1, [3.0, 0.0, -2.0] + [0.0] * 61),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.dim: r for r in sim.dim_stats(df).collect()}
    assert len(out) == 64 and all(out[d].n == 2 for d in out)
    assert (out[0].mean, out[0].vmin, out[0].vmax) == (2.0, 1.0, 3.0)
    assert out[0].std == 1.0          # population std of {1, 3}
    assert out[1].std == 0.0          # dead dimension detected
    assert (out[2].mean, out[2].std) == (0.0, 2.0)


def test_label_centroid_quality_flags_mislabeled_member(spark):
    # label 1: a tight cluster around e1; label 2: tight around e2 but
    # with one member that is actually an e1 vector (mislabeled)
    rows = [
        (0, _pad([1.0, 0.0]), 1),
        (1, _pad([0.99, 0.01]), 1),
        (2, _pad([0.98, 0.02]), 1),
        (3, _pad([0.0, 1.0]), 2),
        (4, _pad([0.01, 0.99]), 2),
        (5, _pad([1.0, 0.0]), 2),   # mislabel: sits in cluster 1
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    out = {r.label: r for r in sim.label_centroid_quality(df).collect()}
    assert out[1].n_members == 3 and out[2].n_members == 3
    assert out[1].avg_cosine > 0.99        # clean label: high cohesion
    assert out[1].min_cosine > 0.99
    assert out[2].min_cosine < 0.7         # the mislabel drags the min down
    assert out[2].avg_cosine < out[1].avg_cosine


def test_int8_recall_tops_compressed_family_and_monotone(spark):
    """SQ8 at 64 dims preserves direction almost exactly, so its
    recall must sit at or above the binary (1-bit) tier at the same
    rerank budget; like all candidate-pruned exact tiers it is
    rerank-monotone."""
    from calculate_file_content_size_for_vector_db_spark.entry_queries import REGISTRY
    from calculate_file_content_size_for_vector_db_spark.sources.io import read_table
    from tests.conftest import SF_DIR

    int8 = REGISTRY["int8_recall_at_10"].fn(spark, SF_DIR).collect()[0]
    binary = REGISTRY["binary_recall_at_10"].fn(spark, SF_DIR).collect()[0]
    assert int8.n_exact == 100
    assert int8.recall >= binary.recall

    emb = read_table(spark, SF_DIR, "embeddings")
    q = emb.where("vec_id < 10")
    exact = sim.topk_bruteforce(emb, q, k=10)
    r1 = sim.recall_vs_exact(exact, sim.topk_int8(emb, q, k=10, rerank=1)).collect()[0].recall
    r8 = sim.recall_vs_exact(exact, sim.topk_int8(emb, q, k=10, rerank=8)).collect()[0].recall
    assert r1 <= int8.recall <= r8


def test_int8_quantization_drops_zero_vectors(spark):
    rows = [(0, [1.0, -2.0] + [0.0] * 62), (1, [0.0] * 64)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    out = {r.vec_id: r.qv for r in sim.int8_vectors(df).collect()}
    assert 1 not in out                      # all-zero vector has no direction
    assert out[0][0] == 64 and out[0][1] == -127   # round(127 * 1/2), round(127 * -2/2)


def test_rrf_fuse_semantics(spark):
    # doc 10 ranks 1 in both systems; doc 11 lexical-only rank 2;
    # doc 12 vector-only rank 2; doc 13 vector-only rank 3.
    lex = spark.createDataFrame(
        [(0, 10, 1), (0, 11, 2)], "query_id int, doc_id long, rank int"
    )
    vec = spark.createDataFrame(
        [(0, 10, 1), (0, 12, 2), (0, 13, 3)], "query_id int, doc_id long, rank int"
    )
    got = {r.doc_id: r for r in sim.rrf_fuse(lex, vec, k_rrf=60, topn=10).collect()}
    assert got[10].rrf_score == round(2 / 61, 6)       # both systems, rank 1 each
    assert got[10].rank == 1                           # consensus doc wins
    assert (got[10].lex_rank, got[10].vec_rank) == (1, 1)
    assert got[11].rrf_score == round(1 / 62, 6)       # single-system docs score one term
    assert (got[11].lex_rank, got[11].vec_rank) == (2, None)
    assert (got[12].lex_rank, got[12].vec_rank) == (None, 2)
    # equal single-system rank 2 -> equal score -> doc_id tie-break
    assert got[11].rrf_score == got[12].rrf_score
    assert (got[11].rank, got[12].rank) == (2, 3)
    assert got[13].rank == 4


def test_rrf_fuse_topn_bounds_output(spark):
    lex = spark.createDataFrame(
        [(0, d, d + 1) for d in range(8)], "query_id int, doc_id long, rank int"
    )
    vec = spark.createDataFrame(
        [(0, d + 100, d + 1) for d in range(8)], "query_id int, doc_id long, rank int"
    )
    out = sim.rrf_fuse(lex, vec, k_rrf=60, topn=5).collect()
    assert len(out) == 5 and all(r.rank <= 5 for r in out)


def test_ivf_list_stats_partition_of_corpus(spark):
    import random

    rng = random.Random(11)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(60)]
    df = _emb(spark, rows)
    got = sim.ivf_list_stats(df, n_cells=4).collect()
    # Lists partition the corpus exactly; shares sum to 1; the
    # size-weighted balance identity holds (sum ls*ratio-normalizer).
    assert sum(r.list_size for r in got) == 60
    assert abs(sum(r.corpus_share for r in got) - 1.0) < 1e-5
    n_live = len(got)
    for r in got:
        assert abs(r.balance_ratio - r.list_size * n_live / 60.0) < 1e-5


def test_pq_reconstruction_error_shape_and_training_helps(spark):
    import random

    rng = random.Random(13)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(40)]
    df = _emb(spark, rows)
    trained = {r.sub: r for r in sim.pq_reconstruction_error(df, iters=2).collect()}
    untrained = {r.sub: r for r in sim.pq_reconstruction_error(df, iters=0).collect()}
    assert sorted(trained) == [0, 1, 2, 3]
    for s, r in trained.items():
        assert r.n_subvectors == 40
        assert 0.0 <= r.avg_sq_error <= r.max_sq_error
        # Lloyd rounds never increase distortion (k-means monotonicity;
        # the 1e-6 per-round rounding sits far below the improvement).
        assert r.avg_sq_error <= untrained[s].avg_sq_error + 1e-5


@pytest.mark.slow
def test_ivf_list_stats_dead_cells_flags_collapsed_quantizer(spark):
    """ADVICE r06: balance_ratio normalizes by LIVE cells, so a fully
    collapsed quantizer (every vector in one cell) reads ~1.0 —
    dead_cells is the column that exposes the pathology directly."""
    rows = [(i, [1.0] * 64) for i in range(20)]  # identical vectors -> 1 live cell
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = sim.ivf_list_stats(df, n_cells=8).collect()
    assert len(got) == 1
    assert abs(got[0].balance_ratio - 1.0) < 1e-6  # looks "balanced"
    assert got[0].dead_cells == 7  # ...but 7 of 8 requested cells are dead
    # healthy spread: dead_cells small, constant across rows
    import random

    rng = random.Random(11)
    healthy = _emb(spark, [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(60)])
    hrows = sim.ivf_list_stats(healthy, n_cells=4).collect()
    assert len({r.dead_cells for r in hrows}) == 1
    assert hrows[0].dead_cells == 4 - len(hrows)


@pytest.mark.slow
def test_ann_frontier_monotone_for_candidate_pruned_tiers(spark):
    """VERDICT r06 item 7: the frontier frame must itself witness the
    monotone property — for EXACT-scored tiers, a candidate superset
    can only raise recall. multiprobe's candidate set contains lsh's
    by construction (own bucket subset of own+hamming-1), bruteforce
    contains everything; candidate_rows must order the same way."""
    import random

    rng = random.Random(7)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(80)]
    df = _emb(spark, rows)
    out = {
        r.tier: r for r in sim.ann_frontier(df, df.where("vec_id < 10"), k=10).collect()
    }
    assert set(out) == {"bruteforce", "lsh", "lsh_multiprobe", "ivf", "ivf_probe2"}
    bf = out["bruteforce"]
    assert bf.recall == 1.0 and bf.n_hits == bf.n_exact == 100
    assert bf.candidate_rows == 10 * 79
    # nested candidate sets: lsh subset of multiprobe subset of bruteforce
    assert out["lsh"].candidate_rows <= out["lsh_multiprobe"].candidate_rows
    assert out["lsh_multiprobe"].candidate_rows <= bf.candidate_rows
    assert out["ivf"].candidate_rows <= out["ivf_probe2"].candidate_rows
    assert out["ivf_probe2"].candidate_rows <= bf.candidate_rows
    # the monotone-frontier property (exact scoring)
    assert out["lsh"].recall <= out["lsh_multiprobe"].recall <= 1.0
    assert out["ivf"].recall <= out["ivf_probe2"].recall <= 1.0


def test_ivf_append_assign_equals_from_scratch_assignment(spark):
    """The incremental-index contract: assigning base then batch
    against the SAME frozen centroids and unioning must equal one
    assignment pass over base+batch — per-vector assignment depends
    only on the centroids, never on the other vectors."""
    import random

    rng = random.Random(8)
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(64)]) for i in range(40)
    ]
    emb = _emb(spark, rows)
    base = emb.where("vec_id % 10 != 0")
    batch = emb.where("vec_id % 10 = 0")
    cents = sim.ivf_centroids(base).persist()
    appended = (
        sim.ivf_append_assign(base, cents)
        .unionByName(sim.ivf_append_assign(batch, cents))
    )
    scratch = sim.ivf_append_assign(emb, cents)
    got = sorted(map(tuple, appended.collect()))
    want = sorted(map(tuple, scratch.collect()))
    assert got == want and len(got) == 40


def test_ivf_staleness_zero_appends_zero_drift(spark):
    """Pinned property (VERDICT r07 item 4): a store trained on
    exactly the current corpus has NOTHING to gain from a rebuild —
    stored and fresh assignments are the same deterministic argmax,
    so cc_drift is exactly 0.0 and the balance shares coincide."""
    import random

    rng = random.Random(9)
    rows = [
        (i, [round(rng.uniform(-1, 1), 3) for _ in range(64)]) for i in range(30)
    ]
    emb = _emb(spark, rows)
    stored = sim.ivf_centroids(emb).persist()
    row = sim.ivf_staleness(emb, stored).collect()[0]
    assert row.n_vectors == 30
    assert row.cc_drift == 0.0
    assert row.mean_cc_stored == row.mean_cc_fresh
    assert row.max_share_stored == row.max_share_fresh


@pytest.mark.slow
def test_ivf_staleness_detects_distribution_shift(spark):
    """An appended batch from a DIFFERENT distribution (orthant the
    base never saw) must show positive drift: the fresh retrain fits
    the shifted corpus strictly better than the frozen base-trained
    store."""
    import random

    rng = random.Random(10)
    # base: first 8 dims active; batch: last 8 dims active (disjoint support)
    base_rows = [
        (i, _pad([round(rng.uniform(0.5, 1.0), 3) for _ in range(8)]))
        for i in range(1, 25)
    ]
    batch_rows = [
        (100 + i, [0.0] * 56 + [round(rng.uniform(0.5, 1.0), 3) for _ in range(8)])
        for i in range(25)
    ]
    emb = _emb(spark, base_rows + batch_rows)
    stored = sim.ivf_centroids(_emb(spark, base_rows)).persist()
    row = sim.ivf_staleness(emb, stored).collect()[0]
    assert row.cc_drift > 0.05, row


@pytest.mark.slow
def test_topk_graph_recall_monotone_in_hops_and_beam(spark):
    """Graph beam search with EXACT rescoring: the visited/answer
    candidate sets nest as hops or beam grow, and exactly-scored
    truth members can only be displaced by other truth members — so
    recall@k is monotone in both knobs (the same candidates-superset
    argument as the exact IVF probes). Also exercises the edges=
    stored-graph hook: one built graph serves every search."""
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        recall_vs_exact,
        topk_bruteforce,
        topk_graph,
        topk_grid,
    )
    from calculate_file_content_size_for_vector_db_spark.sources.io import read_table
    from tests.conftest import SF_DIR

    emb = read_table(spark, SF_DIR, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = topk_bruteforce(emb, q, k=10).persist()
    edges = topk_grid(emb, emb, k=8).persist()
    edges.count()

    def recall(**kw):
        return recall_vs_exact(
            exact, topk_graph(emb, q, k=10, edges=edges, **kw)
        ).first().recall

    r1, r3, r5 = recall(hops=1), recall(hops=3), recall(hops=5)
    assert r1 <= r3 <= r5
    assert r5 > 0.0
    b16, b32 = recall(hops=3, beam=16), recall(hops=3, beam=32)
    assert b16 <= b32
    # the answer list itself: <= k rows per query, never the query
    rows = topk_graph(emb, q, k=10, edges=edges).collect()
    per_q = {}
    for r in rows:
        assert r.neighbor_id != r.query_id
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
    assert all(c <= 10 for c in per_q.values())
    exact.unpersist()
    edges.unpersist()


@pytest.mark.slow
def test_knn_graph_ivf_probe2_keeps_graph_navigable(spark):
    """The pathology the probe-2 build exists for: in-cell-only
    (probe-1) edges partition into per-cell islands, so the beam
    search can never leave its entry point's cell and recall
    collapses; probe-2's boundary links reconnect the graph and the
    same search recovers most of the exact-graph recall."""
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        knn_graph_ivf,
        recall_vs_exact,
        topk_bruteforce,
        topk_graph,
    )
    from calculate_file_content_size_for_vector_db_spark.sources.io import read_table
    from tests.conftest import SF_DIR

    emb = read_table(spark, SF_DIR, "embeddings")
    q = emb.where(F.col("vec_id") < 10)
    exact = topk_bruteforce(emb, q, k=10).persist()

    def recall(probes):
        edges = knn_graph_ivf(emb, probes=probes)
        return recall_vs_exact(exact, topk_graph(emb, q, k=10, edges=edges)).first().recall

    r1, r2 = recall(1), recall(2)
    assert r2 > r1  # the cross-cell links buy real recall
    assert r2 >= 0.2  # and land near the exact-graph search's level
    # build shape: <= 8 edges per node, no self-loops
    rows = knn_graph_ivf(emb, probes=2).groupBy("query_id").count().collect()
    assert all(r["count"] <= 8 for r in rows)
    exact.unpersist()


def test_pca_power_iteration_rayleigh_monotone_and_unit_norm(spark):
    """Power iteration on a PSD (Gram) matrix: the Rayleigh quotient
    is non-decreasing round over round — the convergence property the
    per-round rows make visible. The emitted component is unit-norm
    (to fixed-point rounding)."""
    import json
    import math

    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        pca_power_iteration,
    )
    from calculate_file_content_size_for_vector_db_spark.sources.io import read_table
    from tests.conftest import SF_DIR

    rows = sorted(
        pca_power_iteration(read_table(spark, SF_DIR, "embeddings"), rounds=4).collect(),
        key=lambda r: r.round,
    )
    assert [r.round for r in rows] == [1, 2, 3, 4]
    shares = [r.rayleigh_share for r in rows]
    assert all(0.0 < s <= 1.0 for s in shares)
    # non-decreasing up to the 1e-6 rounding grid
    assert all(b >= a - 1e-6 for a, b in zip(shares, shares[1:]))
    for r in rows:
        comp = json.loads(r.component_fp)
        assert len(comp) == 64
        norm = math.sqrt(sum((x / 1e6) ** 2 for x in comp))
        assert abs(norm - 1.0) < 1e-3


def test_pq_encode_stored_codebooks_equals_trained(spark):
    # the codebooks= hook: encoding against the trained codebooks
    # passed back in must equal the encode produced by training — the
    # frozen-quantizer equivalence that backs dedup_semantic_append.
    import math

    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        pq_codebooks,
        pq_encode,
    )

    rows = [
        (i, [float(math.sin(0.1 * i * (d + 1)) % 1.0) for d in range(64)])
        for i in range(40)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    cb = pq_codebooks(emb)
    trained = {(r.vec_id, tuple(r.codes)) for r in pq_encode(emb).collect()}
    stored = {(r.vec_id, tuple(r.codes)) for r in pq_encode(emb, codebooks=cb).collect()}
    assert stored == trained and len(stored) == 40


# ---------------------------------------------------------------------------
# filtered ANN (candidate_filter — pre-filter semantics)
# ---------------------------------------------------------------------------


@pytest.mark.slow
def test_topk_ivf_candidate_filter_prefilter_semantics(spark):
    """Pre-filter returns the true top-k OF THE FILTERED corpus: the
    unfiltered nearest neighbor (same label as nothing in the filter)
    must be replaced by the best matching-label candidate, not merely
    dropped — the starvation difference vs post-filtering. Queries
    themselves never need to satisfy the predicate."""
    import math as m

    from pyspark.sql import functions as F

    def vec(deg):
        r = m.radians(deg)
        return [m.cos(r), m.sin(r)]

    # query 0 at 0deg (label 9 — outside the filter); nearest overall
    # is 1 (5deg, label 1), nearest with label 2 is 3 (40deg)
    emb = spark.createDataFrame(
        [
            (0, vec(0.0), 9),
            (1, vec(5.0), 1),
            (2, vec(20.0), 1),
            (3, vec(40.0), 2),
            (4, vec(60.0), 2),
            (5, vec(90.0), 2),
        ],
        "vec_id long, embedding array<double>, label int",
    )
    q = emb.where(F.col("vec_id") == 0)
    # one cell: with 6 vectors the default cell count would isolate
    # every vector (empty candidate sets); a single cell makes the
    # filter, not the routing, the thing under test
    assign = sim.ivf_assign(emb, k=1)
    unfiltered = sim.topk_ivf(emb, q, k=2, assign=assign)
    filtered = sim.topk_ivf(
        emb, q, k=2, assign=assign, candidate_filter=F.col("label") == 2
    )
    got_u = [r.neighbor_id for r in unfiltered.orderBy("rank").collect()]
    got_f = [r.neighbor_id for r in filtered.orderBy("rank").collect()]
    assert got_u[0] == 1  # unfiltered nearest
    assert got_f and all(
        r.neighbor_id in (3, 4, 5) for r in filtered.collect()
    )  # only matching labels served
    # pre-filter found the BEST label-2 candidates reachable in the
    # query's cell — post-filtering got_u (k=2: {1, 2}) would return
    # NOTHING with label 2; pre-filter returns real rows
    assert len(got_f) >= 1 and 1 not in got_f and 2 not in got_f


def _starvation_corpus(spark):
    """30 unit vectors on a circle; query 0 at 0 deg. Only nodes 28/29
    (170/178 deg — the FARTHEST from the query) carry label 2, so
    selectivity (2/30) < k/corpus for any k > 2: the unfiltered top-k
    is all label-1 and post-filtering it demonstrably starves (0
    survivors). Reaching the matches requires walking THROUGH
    non-matching nodes — the navigability case in-walk filtering
    loses."""
    import math as m

    def vec(deg):
        r = m.radians(deg)
        return [m.cos(r), m.sin(r)]

    rows = [(i, vec(i * 6.0), 1) for i in range(28)]
    rows += [(28, vec(170.0), 2), (29, vec(178.0), 2)]
    return spark.createDataFrame(
        rows, "vec_id long, embedding array<double>, label int"
    )


@pytest.mark.slow
def test_topk_graph_candidate_filter_expand_then_filter(spark):
    """ACORN-style filtered graph search: the beam navigates the
    UNFILTERED graph (non-matching nodes stay routing waypoints) and
    the answer ranks the visited set restricted to the predicate.
    Corpus: 30 nodes at 6-degree steps on a circle, query at node 0;
    only nodes 8/9 (48/54 deg) match the filter, every node between
    them and the query does not — so (a) post-filtering the
    unfiltered top-5 starves (selectivity 2/30 < k/corpus, 0
    survivors), and (b) the matches are reachable ONLY by hopping
    through non-matching waypoints (the kNN graph at k=4 links i to
    i±1, i±2), which an in-walk filter — whose filtered out-degree at
    nodes 1..7 is zero — could never do."""
    import math as m

    from pyspark.sql import functions as F

    rows = [
        (i, [m.cos(m.radians(i * 6.0)), m.sin(m.radians(i * 6.0))], 2 if i in (8, 9) else 1)
        for i in range(30)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    q = emb.where(F.col("vec_id") == 0)
    edges = sim.topk_grid(emb, emb, k=4).persist()
    edges.count()
    unfiltered = sim.topk_graph(emb, q, k=5, edges=edges, hops=6, beam=16)
    post = [r.neighbor_id for r in unfiltered.collect() if r.neighbor_id in (8, 9)]
    assert post == []  # post-filtering the unfiltered top-5 starves
    filtered = sim.topk_graph(
        emb, q, k=5, edges=edges, hops=6, beam=16,
        candidate_filter=F.col("label") == 2,
    ).orderBy("rank")
    got = [(r.neighbor_id, r.rank) for r in filtered.collect()]
    # expand-then-filter serves BOTH matching nodes, true-cosine order:
    # 48 deg (node 8) is nearer the query than 54 deg (node 9)
    assert got == [(8, 1), (9, 2)]
    edges.unpersist()


def test_topk_maxsim_term_interaction_and_scores(spark):
    """MaxSim preserves term-level interaction a pooled vector loses:
    the query has two orthogonal tokens A and B; doc 1 covers BOTH
    (one token each — maxsim 2.0), doc 2 repeats A twice (its best
    match for query token B is 0 — maxsim 1.0), doc 3 is orthogonal
    to both (maxsim 0.0). A POOLED single-vector cosine would score
    doc 2 (pool = A) equal to its A-alignment and could not see the
    missing B coverage as a separate term. Exact expected scores and
    ranks; self-pair excluded."""
    A, B, C = [1.0, 0.0, 0.0], [0.0, 1.0, 0.0], [0.0, 0.0, 1.0]
    toks = spark.createDataFrame(
        [
            (0, 0, A), (0, 1, B),        # the query doc
            (1, 0, A), (1, 1, B),        # full coverage
            (2, 0, A), (2, 1, A),        # repeats A, misses B
            (3, 0, C), (3, 1, C),        # orthogonal
        ],
        "doc_id long, tok int, tv array<double>",
    )
    q = toks.where("doc_id = 0").withColumnRenamed("doc_id", "query_id")
    got = {
        r.doc_id: (r.maxsim, r.rank)
        for r in sim.topk_maxsim(toks, q, k=3).collect()
    }
    assert got == {1: (2.0, 1), 2: (1.0, 2), 3: (0.0, 3)}


@pytest.mark.slow
def test_topk_maxsim_ivf_full_probe_equals_brute(spark):
    """The PLAID-layout correctness anchor: when every cell is probed
    the candidate set is the whole corpus and topk_maxsim_ivf must
    equal the brute topk_maxsim exactly (same scores, same ranks) —
    the candidates-superset limit. With 1 probe the answer is a
    subset of the brute ranking's pairs re-ranked (never an invented
    pair), and per-query it returns at most k rows."""
    import random

    from pyspark.sql import functions as F
    from calculate_file_content_size_for_vector_db_spark.sources.io import read_table
    from tests.conftest import SF_DIR

    emb = read_table(spark, SF_DIR, "embeddings").limit(80)
    tok = emb.select(
        "vec_id",
        F.posexplode(
            F.array(
                *[F.slice(F.col("embedding").cast("array<double>"), 16 * t + 1, 16) for t in range(4)]
            )
        ).alias("tok", "tv"),
    ).persist()
    dt = tok.select(F.col("vec_id").alias("doc_id"), "tok", "tv")
    qt = tok.where("vec_id < 5").select(F.col("vec_id").alias("query_id"), "tok", "tv")
    brute = {
        (r.query_id, r.doc_id): (r.maxsim, r.rank)
        for r in sim.topk_maxsim(dt, qt, k=5).collect()
    }
    full = {
        (r.query_id, r.doc_id): (r.maxsim, r.rank)
        for r in sim.topk_maxsim_ivf(dt, qt, k=5, probes=8, n_cells=8).collect()
    }
    assert full == brute
    one = sim.topk_maxsim_ivf(dt, qt, k=5, probes=1, n_cells=8).collect()
    per_q = {}
    for r in one:
        per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
        assert r.doc_id != r.query_id
    assert all(c <= 5 for c in per_q.values())
    tok.unpersist()


def test_topk_int8_candidate_filter_prefilter_semantics(spark):
    """Filtered SQ8: the predicate applies BEFORE the compressed
    shortlist, so the int8 scan + exact rerank rank the true filtered
    corpus. With 2 matching nodes farthest from the query and
    rerank*k = 8 nearer non-matching nodes, post-filtering the
    unfiltered shortlist starves (0 survivors); pre-filter returns
    both matches in true cosine order."""
    from pyspark.sql import functions as F

    emb = _starvation_corpus(spark)
    q = emb.where(F.col("vec_id") == 0)
    unfiltered = sim.topk_int8(emb, q, k=2, rerank=4)
    assert [r for r in unfiltered.collect() if r.neighbor_id in (28, 29)] == []
    filtered = sim.topk_int8(
        emb, q, k=2, rerank=4, candidate_filter=F.col("label") == 2
    ).orderBy("rank")
    assert [(r.neighbor_id, r.rank) for r in filtered.collect()] == [(28, 1), (29, 2)]


@pytest.mark.slow
def test_filtered_ivf_recall_probe_monotone(spark):
    """The ivf_filtered_recall_at_10 docstring's pinned property: with
    exact in-cell scoring, the filtered probe-1 candidate set nests
    inside probe-2's, so per-query hit counts against the exact
    FILTERED truth can't shrink as probes widen (the ADC tiers lack
    this — see test_ivfpq_multiprobe_recall_monotone's contrast)."""
    import random

    from pyspark.sql import functions as F

    rng = random.Random(31)
    rows = [
        (i, [rng.uniform(-1, 1) for _ in range(64)], i % 3)
        for i in range(80)
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>, label int")
    q = df.where("vec_id < 4")
    flt = F.col("label").isin(0, 1)
    exact = {
        (r.query_id, r.neighbor_id)
        for r in sim.topk_bruteforce(df, q, k=5, candidate_filter=flt).collect()
    }

    def hits(probes):
        got = sim.topk_ivf(df, q, k=5, probes=probes, candidate_filter=flt).collect()
        per_q = {}
        for r in got:
            if (r.query_id, r.neighbor_id) in exact:
                per_q[r.query_id] = per_q.get(r.query_id, 0) + 1
        return per_q

    h1, h2 = hits(1), hits(2)
    assert sum(h1.values()) > 0  # the fixture produces real hits
    for qid, n in h1.items():
        assert h2.get(qid, 0) >= n


def test_pq_upsert_new_ids_subsume_append_and_replay_idempotent(spark):
    """pq_upsert's two mechanical contracts on synthetic data (the
    registered sim_pq_upsert row pins the oracle equality): a batch
    with a BRAND-NEW id inserts it (upsert subsumes append), a
    re-delivered id replaces its row, and applying the same batch
    twice equals once."""
    import random

    rng = random.Random(37)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(40)]
    df = _emb(spark, rows)
    cb = sim.pq_codebooks(df)
    stored = sim.pq_encode(df, codebooks=cb)
    batch = spark.createDataFrame(
        [(3, [rng.uniform(-1, 1) for _ in range(64)]),
         (99, [rng.uniform(-1, 1) for _ in range(64)])],
        "vec_id long, embedding array<float>",
    )
    once = sim.pq_upsert(stored, batch, cb)
    got = {r.vec_id: list(r.codes) for r in once.collect()}
    assert set(got) == set(range(40)) | {99}
    fresh = {r.vec_id: list(r.codes) for r in sim.pq_encode(batch, codebooks=cb).collect()}
    assert got[3] == fresh[3] and got[99] == fresh[99]
    untouched = {r.vec_id: list(r.codes) for r in stored.collect()}
    assert got[5] == untouched[5]
    twice = {r.vec_id: list(r.codes) for r in sim.pq_upsert(once, batch, cb).collect()}
    assert twice == got


def test_pq_topk_stored_serve_requires_both_artifacts(spark):
    """The codebooks=/codes= hooks must come together — passing one
    raises a descriptive error instead of serving ADC distances
    against mismatched artifacts."""
    import random

    import pytest as _pytest

    rng = random.Random(41)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(20)]
    df = _emb(spark, rows)
    cb = sim.pq_codebooks(df)
    with _pytest.raises(ValueError, match="BOTH codebooks and codes"):
        sim.pq_topk(df, df.where("vec_id < 2"), codebooks=cb)
    with _pytest.raises(ValueError, match="BOTH codebooks and codes"):
        sim.pq_topk(df, df.where("vec_id < 2"), codes=sim.pq_encode(df, codebooks=cb))


def test_topk_ivf_stored_assign_probe2_requires_centroids(spark):
    """A stored assignment served with probes > 1 must come with the
    centroids it was made with: retrained centroids could route queries
    by cells the stored assignment does not use, so the call raises
    instead of retraining."""
    import random

    rng = random.Random(43)
    df = _emb(spark, [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(20)])
    assign = sim.ivf_assign(df)
    with pytest.raises(ValueError, match="centroids"):
        sim.topk_ivf(df, df.where("vec_id < 2"), assign=assign, probes=2)


def test_knn_graph_ivf_routes_sources_and_candidates_by_the_same_centroids(spark):
    """Without a stored assign, the candidates are assigned against the
    centroids the sources probe with — trained once on the candidate
    side, or the ones given — so the inline build equals the
    stored-assign build made with those centroids. Sources drawn from
    one orthant make centroids trained on them differ from the
    candidates'. A stored assign with probes > 1 and no centroids
    raises instead of retraining."""
    import random

    rng = random.Random(47)
    cand = _emb(spark, [(i, [rng.uniform(-1, 1) for _ in range(64)]) for i in range(40)])
    src = _emb(
        spark, [(100 + i, [rng.uniform(0, 1) for _ in range(64)]) for i in range(20)]
    )

    def edges(**kw):
        return sorted(
            (r.query_id, r.neighbor_id, r.rank)
            for r in sim.knn_graph_ivf(src, k_graph=4, probes=2, candidates=cand, **kw).collect()
        )

    for cents in (sim.ivf_centroids(cand), sim.ivf_centroids(src)):
        stored = edges(assign=sim.ivf_append_assign(cand, cents), centroids=cents)
        assert edges(centroids=cents) == stored
    assert edges() == edges(
        assign=sim.ivf_append_assign(cand, sim.ivf_centroids(cand)),
        centroids=sim.ivf_centroids(cand),
    )
    with pytest.raises(ValueError, match="centroids"):
        sim.knn_graph_ivf(src, probes=2, assign=sim.ivf_assign(cand), candidates=cand)


def _r6(x):
    """Spark's round(x, 6): HALF_UP on the double's decimal string."""
    from decimal import ROUND_HALF_UP, Decimal

    return float(Decimal(repr(x)).quantize(Decimal("0.000001"), ROUND_HALF_UP))


def _fold_dot(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + x * y
    return acc


def _ref_cosine(a, b):
    den = math.sqrt(_fold_dot(a, a)) * math.sqrt(_fold_dot(b, b))
    return -2.0 if den == 0 else _r6(_fold_dot(a, b) / den)  # NULL scores -2.0


def _ref_sqdist(a, b):
    acc = 0.0
    for x, y in zip(a, b):
        acc = acc + (x - y) * (x - y)
    return _r6(acc)


def _ref_lloyd(points, k, iters, rank):
    """Plain-Python Lloyd: init = the points of the k smallest ids;
    each point joins the code minimizing (rank(point, codeword), code);
    each codeword becomes the 6-decimal per-dimension mean of its
    members; codes with no members drop out."""
    book = {c: points[i] for c, i in enumerate(sorted(points)[:k])}
    for _ in range(iters):
        members = {}
        for p in points.values():
            best = min(book, key=lambda c: (rank(p, book[c]), c))
            members.setdefault(best, []).append(p)
        book = {
            c: [_r6(sum(col) / len(col)) for col in zip(*ps)] for c, ps in members.items()
        }
    return book


def _eighths_corpus():
    """Seeded 8-dim vectors whose components are multiples of 1/8, so
    every mean is an exact sum whatever the summation order. The first
    rows plant the edge cases for k=4 (init = ids 0-3) and m=2:
    ids 0 and 1 point the same way, so cosine ties every point between
    cells 0 and 1 and cell 1 empties; ids 0 and 2 share their second
    subvector, so PQ code 2 of sub 1 empties; id 3 is the zero vector
    written as -0.0, whose cosine is NULL (-2.0) against every centroid
    and, as a centroid, against every point; id 4 is equidistant
    (cosine, and L2 on sub 0) from ids 0 and 2."""
    import random

    rng = random.Random(17)
    u, e2, h = [1.0, 0.0, 0.0, 0.0], [0.0, 1.0, 0.0, 0.0], [0.5, 0.5, 0.0, 0.0]
    rows = {0: u + u, 1: [2.0, 0.0, 0.0, 0.0] * 2, 2: e2 + u, 3: [-0.0] * 8, 4: h + h}
    for i in range(5, 30):
        rows[i] = [rng.randint(-8, 8) / 8 for _ in range(8)]
    return rows


def test_lloyd_trainers_match_plain_python_reference(spark):
    """ivf_centroids and pq_codebooks against a third judge: a plain
    Python Lloyd with the same init, HALF_UP 6-decimal rounding,
    sequential-fold scores and smallest-code tie rule. The corpus holds
    a zero vector, exact ties and codewords that empty, and the
    reference must see them happen for the check to mean anything."""
    dim, m, k = 8, 2, 4
    rows = _eighths_corpus()
    df = spark.createDataFrame(sorted(rows.items()), "vec_id long, embedding array<double>")

    ref_ivf = _ref_lloyd(rows, k, 2, lambda p, c: -_ref_cosine(p, c))
    assert len(ref_ivf) < k  # a cell emptied
    got_ivf = {r.cell: list(r.centroid) for r in sim.ivf_centroids(df, k=k, iters=2).collect()}
    assert got_ivf == ref_ivf

    d = dim // m
    ref_pq = {}
    for s in range(m):
        subs = {i: v[s * d:(s + 1) * d] for i, v in rows.items()}
        for c, cv in _ref_lloyd(subs, k, 2, _ref_sqdist).items():
            ref_pq[(s, c)] = cv
    assert len(ref_pq) < m * k  # a codeword emptied
    got_pq = {
        (r.sub, r.code): list(r.cv)
        for r in sim.pq_codebooks(df, m=m, k=k, iters=2, dim=dim).collect()
    }
    assert got_pq == ref_pq
