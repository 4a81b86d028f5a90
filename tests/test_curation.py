"""Unit tests for operators/curation.py — PII redaction, Gopher
quality rules, sequence packing, embedding quantization."""

import pytest

from calculate_file_content_size_for_vector_db_spark.operators.curation import (
    gopher_quality,
    pack_sequences,
    quantize_embeddings,
    redact_pii,
)


def _rows(df, key):
    return {r[key]: r.asDict() for r in df.collect()}


class TestRedactPii:
    def test_redacts_all_three_categories(self, spark):
        df = spark.createDataFrame(
            [(1, "mail a.b+c@x-y.co now, call 555-123-4567 or ping 10.0.0.1 ok")],
            "doc_id long, text string",
        )
        r = _rows(redact_pii(df), "doc_id")[1]
        assert r["clean_text"] == "mail [EMAIL] now, call [PHONE] or ping [IP] ok"
        assert (r["n_email"], r["n_phone"], r["n_ip"]) == (1, 1, 1)

    def test_phone_with_dots_not_eaten_by_ip(self, spark):
        df = spark.createDataFrame(
            [(1, "call 555.123.4567 please")], "doc_id long, text string"
        )
        r = _rows(redact_pii(df), "doc_id")[1]
        assert r["clean_text"] == "call [PHONE] please"
        assert r["n_ip"] == 0

    def test_clean_text_unchanged(self, spark):
        df = spark.createDataFrame([(1, "no pii here at all")], "doc_id long, text string")
        r = _rows(redact_pii(df), "doc_id")[1]
        assert r["clean_text"] == "no pii here at all"
        assert (r["n_email"], r["n_phone"], r["n_ip"]) == (0, 0, 0)


class TestGopherQuality:
    def test_empty_text_is_dropped_with_null_features(self, spark):
        df = spark.createDataFrame([(1, "")], "doc_id long, text string")
        r = _rows(gopher_quality(df), "doc_id")[1]
        assert r["keep"] is False
        assert r["mean_word_len"] is None and r["symbol_ratio"] is None

    def test_good_document_kept(self, spark):
        text = "the quick brown fox jumps over the lazy dog and runs to a барн " * 3
        df = spark.createDataFrame([(1, text.strip())], "doc_id long, text string")
        r = _rows(gopher_quality(df), "doc_id")[1]
        assert r["keep"] is True
        assert r["n_words"] >= 20 and r["stopword_hits"] >= 2

    def test_symbol_soup_rejected(self, spark):
        text = "the and of to " + "@#$%^&* " * 20
        df = spark.createDataFrame([(1, text)], "doc_id long, text string")
        r = _rows(gopher_quality(df), "doc_id")[1]
        assert r["keep"] is False
        assert r["symbol_ratio"] > 0.1


class TestPackSequences:
    def test_offsets_and_straddle(self, spark):
        # 3 docs of 300 tokens each in one stream, budget 512:
        # doc0 @ (0,0), doc1 straddles @ (0,300), doc2 @ (1,88)
        docs = [(i, " ".join(["w"] * 300), "s") for i in range(3)]
        df = spark.createDataFrame(docs, "doc_id long, text string, source string")
        out = _rows(pack_sequences(df, budget=512), "doc_id")
        assert (out[0]["seq_id"], out[0]["seq_offset"]) == (0, 0)
        assert (out[1]["seq_id"], out[1]["seq_offset"]) == (0, 300)
        assert (out[2]["seq_id"], out[2]["seq_offset"]) == (1, 88)

    def test_streams_pack_independently(self, spark):
        docs = [(0, "a b c", "s1"), (1, "d e", "s2")]
        df = spark.createDataFrame(docs, "doc_id long, text string, source string")
        out = _rows(pack_sequences(df, budget=4), "doc_id")
        assert out[0]["seq_offset"] == 0 and out[1]["seq_offset"] == 0

    def test_salted_matches_plain_on_sparse_keys(self, spark):
        # sparse, uneven doc ids across 2 streams: the key-range
        # substreams are contiguous, so the salted two-level
        # decomposition must reproduce the plain window exactly
        from calculate_file_content_size_for_vector_db_spark.operators.curation import (
            pack_sequences_salted,
        )

        docs = [
            (i, " ".join(["w"] * n), s)
            for i, n, s in [
                (1, 3, "a"), (7, 5, "a"), (8, 2, "a"), (100, 7, "a"), (101, 1, "a"),
                (4, 4, "b"), (900, 6, "b"), (901, 6, "b"),
            ]
        ]
        df = spark.createDataFrame(docs, "doc_id long, text string, source string")
        plain = sorted(map(tuple, pack_sequences(df, budget=5).collect()))
        salted = sorted(map(tuple, pack_sequences_salted(df, budget=5, n_salts=3).collect()))
        assert salted == plain


class TestQuantizeEmbeddings:
    def test_roundtrip_and_scale(self, spark):
        df = spark.createDataFrame(
            [(1, [0.5, -1.0, 0.25])], "vec_id long, embedding array<float>"
        )
        r = _rows(quantize_embeddings(df), "vec_id")[1]
        assert r["scale"] == pytest.approx(1.0)
        assert r["q_embedding"] == [64, -127, 32]  # round(127*0.5)=64 (HALF_UP)

    def test_zero_vector_yields_null_array(self, spark):
        df = spark.createDataFrame(
            [(1, [0.0, 0.0])], "vec_id long, embedding array<float>"
        )
        r = _rows(quantize_embeddings(df), "vec_id")[1]
        assert r["scale"] == 0.0 and r["q_embedding"] is None


class TestDecontaminate:
    def test_shared_fivegram_detected(self, spark):
        from calculate_file_content_size_for_vector_db_spark.operators.curation import (
            decontaminate,
        )

        train = spark.createDataFrame(
            [(1, "alpha beta gamma delta epsilon zeta"), (2, "totally unrelated words here now yes")],
            "doc_id long, text string",
        )
        bench = spark.createDataFrame(
            [(100, "x alpha beta gamma delta epsilon y")], "doc_id long, text string"
        )
        out = {r["doc_id"]: r.asDict() for r in decontaminate(train, bench, n=5).collect()}
        assert 1 in out and 2 not in out
        # "alpha beta gamma delta epsilon" + "beta gamma delta epsilon zeta"?
        # only the first appears in bench; one shared 5-gram, one bench doc
        assert out[1]["n_hits"] == 1 and out[1]["n_bench_docs"] == 1


class TestRepetitionRatio:
    def test_alternating_pattern(self, spark):
        from calculate_file_content_size_for_vector_db_spark.operators.curation import (
            repetition_ratio,
        )

        df = spark.createDataFrame([(1, "a b a b a b a b")], "doc_id long, text string")
        r = {x["doc_id"]: x.asDict() for x in repetition_ratio(df, n=3).collect()}[1]
        assert r["n_grams"] == 6 and r["n_distinct"] == 2
        assert r["dup_ratio"] == pytest.approx(0.666667)

    def test_short_text_null_ratio(self, spark):
        from calculate_file_content_size_for_vector_db_spark.operators.curation import (
            repetition_ratio,
        )

        df = spark.createDataFrame([(1, "one two")], "doc_id long, text string")
        r = {x["doc_id"]: x.asDict() for x in repetition_ratio(df, n=3).collect()}[1]
        assert r["n_grams"] == 0 and r["dup_ratio"] is None


class TestStratifiedSample:
    def test_rates_respected_and_deterministic(self, spark):
        from calculate_file_content_size_for_vector_db_spark.operators.curation import (
            stratified_sample,
        )

        df = spark.createDataFrame(
            [(i, "en" if i % 2 == 0 else "de") for i in range(200)],
            "doc_id long, lang string",
        )
        out1 = stratified_sample(df, rates={"en": 50}, default_rate=20).collect()
        out2 = stratified_sample(df, rates={"en": 50}, default_rate=20).collect()
        assert sorted(r["doc_id"] for r in out1) == sorted(r["doc_id"] for r in out2)
        for r in out1:
            assert r["bucket"] < (50 if r["lang"] == "en" else 20)


class TestQualityCalibrate:
    def test_thresholds_and_counts(self, spark):
        from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
            calibrate_quality_threshold,
        )

        # 10 docs whose quality_score is driven by punctuation density:
        # more '!' -> higher punct_ratio -> lower score (monotone)
        docs = spark.createDataFrame(
            [(i, "plain words here " + "!" * i) for i in range(10)],
            "doc_id long, text string",
        )
        got = {
            r.keep_rate: r
            for r in calibrate_quality_threshold(docs).collect()
        }
        assert set(got) == {0.5, 0.8, 0.95}
        # a higher keep-rate must come with a lower (or equal) cutoff
        assert got[0.95].threshold <= got[0.8].threshold <= got[0.5].threshold
        # realized pass rates are monotone and consistent with counts
        for r in got.values():
            assert r.pass_rate == round(r.n_pass / 10, 6)
        assert got[0.5].n_pass <= got[0.8].n_pass <= got[0.95].n_pass
        # interpolated median cutoff keeps at least half the docs
        assert got[0.5].n_pass >= 5

    @pytest.mark.slow
    def test_null_scores_fail_but_count(self, spark):
        from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
            calibrate_quality_threshold,
        )

        docs = spark.createDataFrame(
            [(0, "good words"), (1, "more good words"), (2, "")],
            "doc_id long, text string",
        )
        got = {r.keep_rate: r for r in calibrate_quality_threshold(docs).collect()}
        # empty doc scores NULL: in the denominator, never passing
        for r in got.values():
            assert r.n_pass <= 2
            assert r.pass_rate == round(r.n_pass / 3, 6)


class TestBalancedMixRecipe:
    def test_downsamples_to_smallest_group(self, spark):
        from calculate_file_content_size_for_vector_db_spark.operators.textstats import (
            balanced_mix_recipe,
        )

        docs = spark.createDataFrame(
            [(i, "en" if i < 60 else ("de" if i < 90 else "fr")) for i in range(100)],
            "doc_id long, lang string",
        )
        got = {r.lang: r for r in balanced_mix_recipe(docs).collect()}
        assert got["en"].n_docs == 60 and got["fr"].n_docs == 10
        for r in got.values():
            assert r.expected_docs == 10          # min group
            assert r.target_share == round(1 / 3, 6)
            assert r.sample_rate == round(10 / r.n_docs, 6)
        assert got["fr"].sample_rate == 1.0       # smallest group keeps all


def test_cap_per_source_identical_to_plain_window_and_caps(spark):
    import random

    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators.curation import cap_per_source

    rng = random.Random(5)
    rows = [
        (i, "hot" if i < 150 else f"src{i % 5}", round(rng.uniform(0, 2), 6))
        for i in range(200)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, quality_score double")
    got = cap_per_source(df, cap=7, n_salts=4).collect()
    # every source capped, the hot domain included
    per_src = {}
    for r in got:
        per_src.setdefault(r.source, []).append((r.source_rank, r.doc_id))
    assert max(len(v) for v in per_src.values()) <= 7
    assert len(per_src["hot"]) == 7
    # two-phase output identical to the plain single-window form
    w = Window.partitionBy("source").orderBy(
        F.desc_nulls_last("quality_score"), F.asc("doc_id")
    )
    plain = (
        df.withColumn("source_rank", F.row_number().over(w).cast("int"))
        .where("source_rank <= 7")
        .select("doc_id", "source", "quality_score", "source_rank")
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, plain.collect()))


def test_cap_per_source_negative_and_null_keys_one_bucket_each(spark):
    """ADVICE r06: pmod salting — negative keys must land in [0,
    n_salts) (Spark % keeps the dividend's sign) and a NULL key gets a
    fixed bucket, so the documented fan-out holds for any key domain.
    Output stays identical to the plain single-window form."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators.curation import cap_per_source

    rows = [(i - 10, "s", float((i * 7) % 13)) for i in range(20)]
    df = spark.createDataFrame(rows, "doc_id long, source string, quality_score double")
    salts = [
        r._salt
        for r in df.withColumn(
            "_salt", F.coalesce(F.pmod(F.col("doc_id"), F.lit(4)), F.lit(0)).cast("int")
        ).collect()
    ]
    assert all(0 <= s < 4 for s in salts)
    got = cap_per_source(df, cap=5, n_salts=4).collect()
    w = Window.partitionBy("source").orderBy(
        F.desc_nulls_last("quality_score"), F.asc("doc_id")
    )
    plain = (
        df.withColumn("source_rank", F.row_number().over(w).cast("int"))
        .where("source_rank <= 5")
        .select("doc_id", "source", "quality_score", "source_rank")
    )
    assert sorted(map(tuple, got)) == sorted(map(tuple, plain.collect()))


@pytest.mark.slow
def test_quality_classifier_learns_separable_corpus(spark):
    """Two token-disjoint classes: after 2 GD rounds every positive doc
    must score above every negative doc, the intercept row must exist,
    and a zero-token doc keeps NULL score."""
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators.curation import (
        LOGREG_BUCKETS,
        quality_classifier_score,
        quality_classifier_weights,
    )

    rows = [(i, "alpha beta gamma delta epsilon", "en") for i in range(10)] + [
        (100 + i, "rouge bleu vert jaune violet", "fr") for i in range(10)
    ] + [(999, "", "en")]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    pos = F.col("lang") == "en"
    w = quality_classifier_weights(df, pos).collect()
    assert any(r.b == -1 for r in w)  # intercept trained
    assert len(w) <= LOGREG_BUCKETS + 1
    got = {r.doc_id: (r.label, r.score) for r in quality_classifier_score(df, pos).collect()}
    assert got[999] == (1, None)  # zero tokens -> NULL score
    pos_scores = [s for d, (l, s) in got.items() if l == 1 and s is not None]
    neg_scores = [s for d, (l, s) in got.items() if l == 0]
    assert min(pos_scores) > max(neg_scores)


@pytest.mark.slow
def test_quality_classifier_sampled_training_scores_full_corpus(spark):
    """The 100-TB contract: train on a labeled SAMPLE (train_df),
    score everything — scores must come from the sample-trained
    weights (bit-equal to scoring with those weights directly)."""
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators.curation import (
        quality_classifier_score,
        quality_classifier_weights,
    )

    rows = [(i, f"alpha beta gamma doc{i}", "en") for i in range(8)] + [
        (100 + i, f"rouge bleu vert doc{i}", "fr") for i in range(8)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string, lang string")
    pos = F.col("lang") == "en"
    sample = df.where((F.col("doc_id") % 2) == 0)
    scored = quality_classifier_score(df, pos, train_df=sample)
    assert scored.count() == 16  # full corpus scored
    w_sample = {r.b: r.wgt for r in quality_classifier_weights(sample, pos).collect()}
    w_full = {r.b: r.wgt for r in quality_classifier_weights(df, pos).collect()}
    assert w_sample != w_full  # training really used the sample


def test_quality_classifier_rejects_duplicate_stored_weights(spark):
    """A stored weight table with a repeated bucket id fails with a
    named error, not Spark's duplicate-map-key error."""
    import pytest
    from pyspark.sql import functions as F

    from calculate_file_content_size_for_vector_db_spark.operators.curation import (
        quality_classifier_score,
    )

    df = spark.createDataFrame([(0, "alpha beta", "en")], "doc_id long, text string, lang string")
    weights = spark.createDataFrame([(-1, 0.1), (3, 0.2), (3, 0.5)], "b int, wgt double")
    with pytest.raises(Exception, match="one row per bucket id b: 3 rows, 2 distinct"):
        quality_classifier_score(df, F.col("lang") == "en", weights_df=weights).collect()


@pytest.mark.slow
def test_leakage_safe_split_clusters_never_straddle(spark):
    """Every near-dup cluster must land wholly on one side; singletons
    split by their own id; ids in the output cover the corpus."""
    rows = [
        (0, "p q r s t u v w"),
        (5, "p q r s t u v w"),          # dup of 0 -> cluster 0 (train)
        (10, "x y z w v u t s"),
        (15, "x y z w v u t s"),         # dup of 10 -> cluster 10 (test)
        (3, "alone words that match nothing else here"),
        (20, "another loner with its very own body text"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    from calculate_file_content_size_for_vector_db_spark.operators.curation import (
        leakage_safe_split,
    )

    got = {r.doc_id: (r.cluster_id, r.split) for r in leakage_safe_split(df).collect()}
    assert set(got) == {0, 5, 10, 15, 3, 20}
    assert got[0] == (0, "test") and got[5] == (0, "test")     # cluster 0: 0 % 5 == 0
    assert got[10] == (10, "test") and got[15] == (10, "test")  # cluster 10
    assert got[3] == (3, "train") and got[20] == (20, "test")
    # invariant: same cluster -> same split
    by_cluster = {}
    for d, (c, s) in got.items():
        by_cluster.setdefault(c, set()).add(s)
    assert all(len(v) == 1 for v in by_cluster.values())


def test_contamination_score_graded_fractions(spark):
    """Hand-derived fractions: doc A shares 2 of its 4 distinct
    5-grams with the benchmark, doc B none, short doc has no grams."""
    from calculate_file_content_size_for_vector_db_spark.operators.curation import (
        contamination_score,
    )

    bench = spark.createDataFrame(
        [(100, "a b c d e f")], "doc_id long, text string"
    )  # benchmark grams: 'a b c d e', 'b c d e f'
    train = spark.createDataFrame(
        [
            (0, "a b c d e f g h"),  # grams: abcde, bcdef, cdefg, defgh -> 2/4 hit
            (1, "q r s t u v"),      # 2 grams, 0 hits
            (2, "x y"),              # < 5 tokens -> no grams
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in contamination_score(train, bench).collect()}
    assert (got[0].n_grams, got[0].n_hits, got[0].contamination) == (4, 2, 0.5)
    assert (got[1].n_grams, got[1].n_hits, got[1].contamination) == (2, 0, 0.0)
    assert (got[2].n_grams, got[2].n_hits, got[2].contamination) == (0, 0, None)


def test_weighted_sample_es_prefers_heavy_weights_and_skips_zero(spark):
    from calculate_file_content_size_for_vector_db_spark.operators.curation import (
        weighted_sample_es,
    )

    # 30 heavy docs (w=50000) vs 300 light (w=5) vs 5 zero-weight
    df = spark.createDataFrame(
        [(i, "x", 50_000) for i in range(30)]
        + [(100 + i, "x", 5) for i in range(300)]
        + [(10_000 + i, "", 0) for i in range(5)],
        "doc_id long, text string, n_chars long",
    )
    out = weighted_sample_es(df, k=30).collect()
    assert len(out) == 30
    assert [r.rank for r in sorted(out, key=lambda r: r.rank)] == list(range(1, 31))
    # u^(1/w) -> 1 as w grows: heavy docs dominate the sample
    heavy = sum(1 for r in out if r.weight == 50_000)
    assert heavy >= 25
    # zero weights can never be drawn
    assert all(r.weight > 0 for r in out)
    # deterministic: the same call reproduces the same sample
    again = weighted_sample_es(df, k=30).collect()
    assert {(r.doc_id, r.rank) for r in out} == {(r.doc_id, r.rank) for r in again}
