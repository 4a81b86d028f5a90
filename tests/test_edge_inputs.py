"""Pathological-input sweep: every operator must handle NULL/empty/
unicode/degenerate inputs without throwing (the fixtures contain none
of these, so the oracle gate can't catch regressions here)."""

import pytest

from calculate_file_content_size_for_vector_db_spark.operators import dedup, textstats
from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
    nearest_neighbor_blocked,
)
from calculate_file_content_size_for_vector_db_spark.plans.pipeline import DocumentPipeline


@pytest.fixture(scope="module")
def weird_docs(spark):
    rows = [
        (0, None, 0),
        (1, "", 0),
        (2, "one", 3),
        (3, "a b", 3),
        (4, "héllo wörld 世界 test five", 20),
        (5, "x " * 500, 1000),
    ]
    return spark.createDataFrame(rows, "doc_id long, text string, n_chars long")


@pytest.mark.parametrize(
    "op",
    [
        lambda s, d: DocumentPipeline(s, chunk_size=5).summary(d),
        lambda s, d: dedup.exact_dedup(d),
        lambda s, d: dedup.ngram_jaccard_pairs(d),
        lambda s, d: dedup.minhash_lsh_pairs(d),
        lambda s, d: dedup.simhash(d),
        lambda s, d: dedup.simhash_pairs(d),
        lambda s, d: textstats.quality_score(d).select("doc_id", "quality_score"),
        lambda s, d: textstats.lang_id(d).select("doc_id", "predicted_lang"),
        lambda s, d: textstats.token_counts(d).select("doc_id", "n_tokens"),
    ],
    ids=[
        "pipeline_summary", "exact_dedup", "ngram_jaccard", "minhash_lsh",
        "simhash", "simhash_pairs", "quality", "lang_id", "token_counts",
    ],
)
def test_operator_survives_weird_docs(spark, weird_docs, op):
    op(spark, weird_docs).count()  # no exception == pass


def test_simhash_preserves_all_docs(spark, weird_docs):
    # the explode-based rewrite must not drop zero-token docs
    got = {r.doc_id: r.simhash for r in dedup.simhash(weird_docs).collect()}
    assert set(got) == {0, 1, 2, 3, 4, 5}
    assert got[0] == 0 and got[1] == 0


def test_blocked_nn_zero_norm_ranks_last(spark):
    rows = [(0, [0.0] * 64), (1, [1.0] * 64), (2, [1.0] * 32 + [0.0] * 32)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    nn = {r.query_id: (r.neighbor_id, r.cosine) for r in nearest_neighbor_blocked(emb).collect()}
    # zero vector: all cosines 0, tie-break -> smallest other id
    assert nn[0] == (1, 0.0)
    # real vectors prefer each other over the zero vector
    assert nn[1][0] == 2 and nn[2][0] == 1


def test_audio_windows_weird_docs(spark, weird_docs):
    from calculate_file_content_size_for_vector_db_spark.operators.multimodal import audio_windows

    rows = audio_windows(weird_docs, window_samples=4).collect()
    got_ids = {r.doc_id for r in rows}
    # NULL/empty docs yield no windows; everything else windows cleanly
    assert got_ids == {2, 3, 4, 5}
    for r in rows:
        assert 1 <= r.n_samples <= 4
        assert r.start_offset == r.window_index * 4


def test_hash_embedding_empty_and_unicode(spark, weird_docs):
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators.embed import hash_embedding

    rows = weird_docs.select(
        "doc_id", hash_embedding("text", 8).alias("v")
    ).collect()
    vs = {r.doc_id: r.v for r in rows}
    assert len(vs) == 6
    # NULL and empty text share the fingerprint-0 embedding
    assert vs[0] == vs[1]
    for v in vs.values():
        assert len(v) == 8 and all(-0.5 <= x < 0.5 for x in v)


def test_grid_ops_single_vector(spark):
    from calculate_file_content_size_for_vector_db_spark.operators import similarity as sim

    emb = spark.createDataFrame([(0, [1.0] * 64)], "vec_id long, embedding array<float>")
    # a 1-vector corpus has no non-self neighbors and no pairs
    assert sim.nearest_neighbor_blocked(emb).count() == 0
    assert sim.cosine_neardup_pairs(emb).count() == 0


def test_interval_join_no_matches(spark):
    from calculate_file_content_size_for_vector_db_spark.streaming.windows import interval_join

    ev = spark.createDataFrame(
        [(1, "2024-01-01 00:00:00", 7), (2, "2024-01-01 10:00:00", 7)],
        "event_id long, ts_s string, user_id long",
    ).selectExpr("event_id", "CAST(ts_s AS TIMESTAMP) AS ts", "user_id")
    out = interval_join(ev, ev, max_gap_seconds=60)
    assert out.count() == 0  # 10h apart > 60s gap; self-pairs excluded by b_ts > a_ts


def test_pq_small_corpus_fewer_vectors_than_codes(spark):
    # 3 vectors with k=8 codewords: init takes all 3, empty codewords
    # drop out; encode/search must still work
    from calculate_file_content_size_for_vector_db_spark.operators import similarity as sim

    rows = [
        (0, [1.0] * 64),
        (1, [0.5] * 32 + [-0.5] * 32),
        (2, [-1.0] * 64),
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    codes = sim.pq_encode(df).collect()
    assert len(codes) == 3
    assert all(len(r.codes) == sim.PQ_SUBS for r in codes)
    top = sim.pq_topk(df, df.where("vec_id = 0"), topk=2).collect()
    assert len(top) == 2 and {r.neighbor_id for r in top} == {1, 2}


def test_pq_semantic_dedup_all_unique_is_empty(spark):
    from calculate_file_content_size_for_vector_db_spark.operators import similarity as sim

    # orthogonal-ish vectors: every PQ bucket is a singleton
    rows = [(i, [1.0 if j == i else 0.0 for j in range(64)]) for i in range(8)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    assert sim.semantic_dedup_pq(df).count() == 0


def test_dedup_survivors_no_duplicates_keeps_all(spark):
    rows = [(i, f"totally unique document number {i} with words {i * 7}") for i in range(6)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    kept = sorted(r.doc_id for r in dedup.dedup_survivors(df).collect())
    assert kept == list(range(6))


def test_unigram_logprob_weird_docs(spark, weird_docs):
    got = {r.doc_id: r.lm_score for r in textstats.unigram_logprob(weird_docs).collect()}
    assert set(got) == {0, 1, 2, 3, 4, 5}
    assert got[0] is None and got[1] is None  # NULL/empty text -> no tokens
    assert got[5] is not None  # "x " * 500: all tokens frequent -> finite score


def test_source_reputation_weird_docs(spark, weird_docs):
    docs = weird_docs.withColumn(
        "source",
        (weird_docs.doc_id % 2).cast("string"),
    )
    rep = textstats.source_reputation(docs).collect()
    assert sum(r.n_docs for r in rep) == 6  # every doc counted, NULLs included


def test_image_ahash_twins_collide_and_edges(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.multimodal import (
        image_ahash,
        phash_dedup,
    )

    docs = spark.createDataFrame(
        [
            (0, "the exact same payload bytes here"),
            (1, "the exact same payload bytes here"),   # twin of 0
            (2, "ZZZZ aaaa ZZZZ aaaa ZZZZ aaaa okay"),  # different profile
            (3, ""),                                     # empty -> hash 0
            (4, "ab"),                                   # shorter than n_bits
        ],
        "doc_id long, text string",
    )
    h = {r.doc_id: r.ahash for r in image_ahash(docs).collect()}
    assert h[0] == h[1]
    assert h[0] != h[2]
    assert h[3] == 0
    assert 0 <= h[4] < 2**12  # degenerate buckets still in range
    buckets = {r.ahash: r for r in phash_dedup(docs).collect()}
    assert h[0] in buckets
    assert buckets[h[0]].keeper_id == 0 and buckets[h[0]].dup_count == 2


def test_resize_images_plumbing(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.multimodal import (
        resize_images,
        text_as_binary,
    )

    docs = spark.createDataFrame(
        [(0, "abcd"), (1, ""), (2, "x" * 10)], "doc_id long, text string"
    )
    got = {r.doc_id: r for r in resize_images(text_as_binary(docs), 32, 16).collect()}
    assert (got[0].width, got[0].height) == (32, 16)
    assert got[0].channels == 4 % 3 + 1 and got[0].n_bytes_in == 4
    assert got[0].n_bytes_out == 32 * 16 * got[0].channels
    assert got[1].n_bytes_in == 0 and got[1].channels == 1  # empty payload
    assert got[2].n_bytes_in == 10


@pytest.mark.parametrize(
    "op",
    [
        lambda s, d: textstats.cms_heavy_hitters(d, topn=50),
        lambda s, d: textstats.bpe_pair_counts(d),
        lambda s, d: textstats.readability(d),
        lambda s, d: textstats.bigram_logprob(d),
        lambda s, d: textstats.bm25_search(d, [(0, "x test")]),
        lambda s, d: dedup.containment_pairs(d),
        lambda s, d: dedup.minhash_jaccard_estimate(d),
    ],
    ids=[
        "cms", "bpe_pairs", "readability", "bigram_lm", "bm25",
        "containment", "minhash_estimate",
    ],
)
def test_round6_text_ops_survive_weird_docs(spark, weird_docs, op):
    op(spark, weird_docs).collect()  # must not throw


def test_round6_text_ops_survive_empty_corpus(spark):
    empty = spark.createDataFrame([], "doc_id long, text string, n_chars long")
    assert textstats.cms_heavy_hitters(empty).collect() == []
    assert textstats.bm25_search(empty, [(0, "anything")]).collect() == []
    assert textstats.bpe_pair_counts(empty).collect() == []
    assert dedup.containment_pairs(empty).collect() == []
    # per-doc derivations keep zero rows, not crash
    assert textstats.bigram_logprob(empty).collect() == []


def test_ks_drift_single_sided_split_does_not_throw(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.curation import ks_drift

    one_sided = spark.createDataFrame(
        [(i, i, "train") for i in range(5)], "doc_id long, n_chars long, split string"
    )
    rows = ks_drift(one_sided).collect()  # empty test sample: no crash
    assert len(rows) <= 1


def test_graph_ops_survive_empty_edges(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.graph import (
        clustering_coefficients,
        label_propagation,
    )

    e = spark.createDataFrame([], "src long, dst long")
    n = spark.createDataFrame([(0,), (1,)], "node long")
    cc = {r.node: r for r in clustering_coefficients(e, n).collect()}
    assert cc[0].degree == 0 and cc[0].triangles == 0 and cc[0].clustering_coeff is None
    s = spark.createDataFrame([], "node long, label int")
    lp = {r.node: r.label for r in label_propagation(e, s, n).collect()}
    assert lp == {0: None, 1: None}  # no seeds, no edges -> all unlabeled


def test_dsir_importance_weird_docs_and_empty_target(spark, weird_docs):
    # NULL/empty/unicode docs must not throw; an EMPTY target corpus
    # degenerates to tf=0 everywhere (pure add-1 smoothing) and must
    # still score every tokenized doc.
    full = textstats.dsir_importance(weird_docs, weird_docs.where("doc_id = 4"))
    assert full.count() == 6
    empty_target = textstats.dsir_importance(
        weird_docs, weird_docs.where("doc_id < 0")
    ).collect()
    assert len(empty_target) == 6
    scored = [r for r in empty_target if r.dsir_weight is not None]
    assert scored  # tokenized docs still get a (uniform-target) weight


def test_ivf_list_stats_fewer_vectors_than_cells(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        ivf_list_stats,
    )

    rows = [(i, [float(i)] * 64) for i in range(3)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = ivf_list_stats(df, n_cells=8).collect()  # k > N: live cells only
    assert sum(r.list_size for r in got) == 3
    assert abs(sum(r.corpus_share for r in got) - 1.0) < 1e-6


def test_pq_reconstruction_error_identical_vectors_zero_error(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.similarity import (
        pq_reconstruction_error,
    )

    rows = [(i, [1.0] * 64) for i in range(10)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    for r in pq_reconstruction_error(df).collect():
        # every subvector equals the single surviving codeword exactly
        assert r.avg_sq_error == 0.0 and r.max_sq_error == 0.0


@pytest.mark.parametrize(
    "op",
    [
        lambda s, d: textstats.bpe_train_merges(d, n_merges=3),
        lambda s, d: textstats.bpe_apply_tokens(d, n_merges=3),
        lambda s, d: dedup.line_dedup_rewrite(d),
        lambda s, d: dedup.bloom_neardup_prefilter(
            d.where("doc_id % 2 = 0"),
            dedup.minhash_bands(dedup.minhash_signature(d.where("doc_id % 2 = 1"))),
        ),
    ],
    ids=["bpe_train", "bpe_apply", "line_rewrite", "bloom_prefilter"],
)
def test_round7_wave_ops_survive_weird_docs(spark, weird_docs, op):
    op(spark, weird_docs).collect()  # must not throw


def test_star_components_empty_edges(spark):
    empty = spark.createDataFrame([], "src long, dst long")
    assert dedup.star_components(empty).collect() == []


def test_bpe_degenerate_corpus_stops_merging_without_emptying_vocab(spark):
    """ADVICE r07: a corpus where every word is already one symbol has
    no adjacent pair to merge. Training must stop early with an EMPTY
    merge table — NOT crossJoin a 0-row best frame into the repr
    table, which silently emptied the vocab so bpe_apply_tokens
    returned zero rows for every doc (and the oracle collapsed
    identically, so parity could never catch it)."""
    df = spark.createDataFrame(
        [(0, "a b c"), (1, "b c d e")], "doc_id long, text string"
    )
    assert textstats.bpe_train_merges(df, n_merges=3).collect() == []
    rows = {
        r.doc_id: r
        for r in textstats.bpe_apply_tokens(df, n_merges=3).collect()
    }
    # one row PER DOC survives, and with zero merges every word stays
    # one 1-char symbol: bpe token count == whitespace token count
    assert set(rows) == {0, 1}
    assert rows[0].n_bpe_tokens == rows[0].n_tokens == 3
    assert rows[1].n_bpe_tokens == rows[1].n_tokens == 4


def test_bpe_partial_exhaustion_keeps_earlier_merges(spark):
    """One merge is possible ('a b' -> 'ab' inside word 'ab'), then the
    pair supply is exhausted; rounds 2..5 must stop early, keeping
    round 1's row and the merged reprs."""
    df = spark.createDataFrame([(0, "ab ab c d e")], "doc_id long, text string")
    merges = textstats.bpe_train_merges(df, n_merges=5).collect()
    assert [(m.rank, m.merged) for m in merges] == [(1, "ab")]
    row = textstats.bpe_apply_tokens(df, n_merges=5).collect()[0]
    # 'ab' words collapse to 1 symbol each; c/d/e stay 1 symbol
    assert row.n_tokens == 5 and row.n_bpe_tokens == 5


def test_bpe_vocab_coverage_zero_when_batch_covered_and_counts_oov(spark):
    """Tokenizer staleness QA: a held-out batch whose words all appear
    in the training corpus has BOTH rates exactly 0; novel words are
    counted by distinct word AND by occurrence."""
    # train_mod=17: doc 0 and 17 are held out, the rest train
    covered = spark.createDataFrame(
        [(0, "alpha beta"), (1, "alpha beta gamma"), (2, "beta delta")],
        "doc_id long, text string",
    )
    row = textstats.bpe_vocab_coverage(covered).collect()[0]
    assert (row.n_oov_words, row.n_oov_tokens) == (0, 0)
    assert row.oov_word_rate == 0.0 and row.oov_token_rate == 0.0
    assert row.n_batch_words == 2 and row.n_batch_tokens == 2

    drifted = spark.createDataFrame(
        [
            (0, "alpha NOVELWORD NOVELWORD other"),  # held out
            (17, "beta"),  # held out, covered
            (1, "alpha beta other"),  # train
        ],
        "doc_id long, text string",
    )
    row = textstats.bpe_vocab_coverage(drifted).collect()[0]
    # batch distinct words: alpha, NOVELWORD, other, beta -> 1 OOV word
    assert row.n_batch_words == 4 and row.n_oov_words == 1
    # occurrences: alpha 1, NOVELWORD 2, other 1, beta 1 -> 2 OOV tokens of 5
    assert row.n_batch_tokens == 5 and row.n_oov_tokens == 2
    assert row.oov_word_rate == 0.25 and row.oov_token_rate == 0.4


def test_bpe_vocab_coverage_empty_batch_keeps_null_rates(spark):
    # no doc_id % 17 == 0 docs at all: the row survives with 0 counts
    # and NULL rates (nothing to divide)
    df = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma")], "doc_id long, text string"
    )
    row = textstats.bpe_vocab_coverage(df).collect()[0]
    assert row.n_batch_words == 0
    assert row.oov_word_rate is None and row.oov_token_rate is None


@pytest.mark.slow
def test_filtered_search_empty_filter_returns_no_rows(spark):
    """A predicate matching NOTHING is a legal filtered query: every
    tier must return an empty frame (not error, not fall back to
    unfiltered)."""
    import math as m

    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators import similarity as sim

    rows = [
        (i, [m.cos(m.radians(i * 30.0)), m.sin(m.radians(i * 30.0))], 1)
        for i in range(8)
    ]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>, label int")
    q = emb.where("vec_id = 0")
    nothing = F.col("label") == 99
    assert sim.topk_bruteforce(emb, q, k=3, candidate_filter=nothing).count() == 0
    assert sim.topk_int8(emb, q, k=3, candidate_filter=nothing).count() == 0
    assert (
        sim.topk_ivf(emb, q, k=3, assign=sim.ivf_assign(emb, k=1), candidate_filter=nothing).count()
        == 0
    )
    edges = sim.topk_grid(emb, emb, k=3)
    assert sim.topk_graph(emb, q, k=3, edges=edges, candidate_filter=nothing).count() == 0


@pytest.mark.slow
def test_upsert_empty_batch_is_identity(spark):
    """Upserting an EMPTY batch must leave both stores untouched
    (anti-join drops nothing, append adds nothing, meta delta nets 0)."""
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators import similarity as sim
    from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
        bm25_postings,
        postings_upsert,
    )
    from calculate_file_content_size_for_vector_db_spark.sources.io import read_table
    from tests.conftest import SF_DIR

    emb = read_table(spark, SF_DIR, "embeddings").limit(40).select("vec_id", "embedding")
    empty_vecs = emb.where("vec_id < 0")
    cents = sim.ivf_centroids(emb)
    store = sim.ivf_assign(emb)
    before = {(r.vec_id, r.cell) for r in store.collect()}
    after = {(r.vec_id, r.cell) for r in sim.ivf_upsert(store, empty_vecs, cents).collect()}
    assert after == before

    docs = spark.createDataFrame(
        [(1, "alpha beta"), (2, "gamma alpha")], "doc_id long, text string"
    )
    tf, dl, _ = bm25_postings(docs)
    tf2, dl2, mdelta = postings_upsert(
        tf, dl, docs.where("doc_id < 0"), admitted=docs.select("doc_id")
    )
    assert {tuple(r) for r in tf2.collect()} == {tuple(r) for r in tf.collect()}
    assert {tuple(r) for r in dl2.collect()} == {tuple(r) for r in dl.collect()}
    assert mdelta.agg(F.sum("n_docs")).first()[0] == 0


def test_drift_refold_empty_takedown_is_identity(spark, tmp_path):
    """An empty takedown set touches no batch: both marginal stores
    come back byte-identical through the refold."""
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.streaming.drift import (
        append_drift_marginals,
        refold_drift_takedown,
    )

    admitted = spark.createDataFrame(
        [(i, f"text {'x' * (i % 5)}", "en", i % 2) for i in range(12)],
        "doc_id long, text string, lang string, batch_id long",
    )
    store = str(tmp_path / "m")
    for b in (0, 1):
        append_drift_marginals(
            admitted.where(F.col("batch_id") == b).drop("batch_id"), b, store
        )
    before_h = {tuple(r) for r in spark.read.parquet(f"{store}/hist").collect()}
    before_l = {tuple(r) for r in spark.read.parquet(f"{store}/langs").collect()}
    refold_drift_takedown(
        admitted, spark.createDataFrame([], "doc_id long"), store
    )
    assert {tuple(r) for r in spark.read.parquet(f"{store}/hist").collect()} == before_h
    assert {tuple(r) for r in spark.read.parquet(f"{store}/langs").collect()} == before_l
